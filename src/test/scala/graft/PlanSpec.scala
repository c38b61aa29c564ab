package graft

import org.apache.spark.sql.execution.ExplainMode

/** Optimizer-property regression guards (SURVEY.md §4): the plans we rely
  * on for scale must stay the plans Catalyst actually picks — filter
  * pushdown into the parquet scan, column pruning, broadcast for dims,
  * top-N without a global sort. */
class PlanSpec extends SparkSpec {
  private val SF = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SF)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("SparkEntry.entry works on a fresh session with default configs (driver smoke)") {
    // simulates the driver's own SparkSession: fresh SQLConf, none of our
    // settings (the nanos-timestamp fix must self-apply via Tables)
    val fresh = spark.newSession()
    assert(SparkEntry.entry(fresh).count() > 0)
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan("q_agg_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("star join broadcasts dims and prunes fact columns") {
    val p = plan("q_join_inner_star")
    assert(p.contains("BroadcastHashJoin"), p)
    // orders scan must read only the two join keys
    assert(p.contains("struct<o_orderkey:bigint,o_custkey:bigint>"), p)
  }

  test("global top-N plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q_sort_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("range join keeps its equi component (no cartesian product)") {
    val p = plan("q_join_range")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semi/anti joins plan as join strategies, not subquery rewrites") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("TPC-H Q18 plans the HAVING-IN as a semi join; Q21's EXISTS/NOT-EXISTS decorrelate to semi+anti") {
    val p18 = plan("q_tpch_q18")
    assert(p18.contains("LeftSemi"), p18)
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoop"), p18)
    val p21 = plan("q_tpch_q21")
    // RewritePredicateSubquery turns the correlated EXISTS into a semi
    // and the NOT EXISTS into an anti self-join of the fact on the
    // order key — never a per-row rescan or a cartesian
    assert(p21.contains("LeftSemi"), p21)
    assert(p21.contains("LeftAnti"), p21)
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoop"), p21)
    // Q17's correlated scalar-agg subquery decorrelates to ONE
    // aggregate-then-join pass (per-part thresholds), no rescans
    val p17 = plan("q_tpch_q17")
    assert(p17.contains("HashAggregate") || p17.contains("SortAggregate"), p17)
    assert(!p17.contains("CartesianProduct") &&
      !p17.contains("BroadcastNestedLoop"), p17)
    // Q4's EXISTS carries its correlated NON-EQUI comparison into the
    // semi join's condition — still a semi, still no rescans
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("CartesianProduct"), p4)
    // Q2's correlated MIN over the 4-way dim join decorrelates to ONE
    // aggregate-then-join subtree: every part's regional minimum
    // computes in a single grouped pass, joined back by key — never a
    // per-part rescan, never a nested loop
    val p2 = plan("q_tpch_q2")
    assert(p2.contains("HashAggregate") || p2.contains("SortAggregate"), p2)
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoop"), p2)
    // Q20's nested IN over an aggregated correlated subquery plans as a
    // semi join chain over ONE grouped pass + one per-part threshold
    // aggregate — both aggregate-then-join, no rescans
    val p20 = plan("q_tpch_q20")
    assert(p20.contains("LeftSemi"), p20)
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoop"), p20)
  }

  test("TPC-H completion set keeps hash-join/anti/semi shapes: Q6 pushdown, Q19 CNF factoring, Q16/Q22 anti, Q11/Q15 single-pass scalar subqueries") {
    // Q6: pure scan-aggregate — every predicate reaches the parquet scan,
    // and there is no join in the plan at all
    val p6 = plan("q_tpch_q6")
    assert(p6.contains("PushedFilters") && p6.contains("GreaterThanOrEqual(l_shipdate"), p6)
    assert(!p6.contains("Join"), p6)
    // Q19: the spec-shaped disjunction repeats p_partkey = l_partkey in
    // every bracket; Catalyst must factor it out (CNF extraction) so the
    // join plans as a HASH join with the brackets as a residual filter —
    // a nested loop here would be a 100 TB scale-killer
    val p19 = plan("q_tpch_q19")
    assert(!p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoop"), p19)
    // Q16's NOT IN (non-null keys) and Q22's NOT EXISTS both plan as
    // anti joins, never per-row subquery evaluation
    val p16 = plan("q_tpch_q16")
    assert(p16.contains("LeftAnti"), p16)
    val p22 = plan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), p22)
    assert(!p22.contains("CartesianProduct") &&
      !p22.contains("BroadcastNestedLoop"), p22)
    // Q11 (HAVING > scalar subquery) and Q15 (= scalar MAX over a reused
    // aggregate view): the subquery plans ONCE as its own aggregate
    // subtree feeding a scalar, never re-evaluated per group/row
    val p11 = plan("q_tpch_q11")
    assert(p11.contains("Subquery"), p11)
    assert(!p11.contains("CartesianProduct") &&
      !p11.contains("BroadcastNestedLoop"), p11)
    val p15 = plan("q_tpch_q15")
    assert(p15.contains("Subquery"), p15)
    assert(!p15.contains("CartesianProduct") &&
      !p15.contains("BroadcastNestedLoop"), p15)
    // Q13: the ON-clause filter must NOT turn the left join inner —
    // unmatched customers survive with count 0
    val p13 = plan("q_tpch_q13")
    assert(p13.contains("LeftOuter"), p13)
  }

  test("embed near-dup self-join is tiled: no nested-loop, no cartesian") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("bucketed join is co-located: SortMergeJoin with ZERO shuffle exchanges") {
    val p = queries.ScaleQueries.bucketedJoin(spark, SF)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("LSH ANN candidates come from an equi join on the sketch key") {
    val p = plan("q_ann_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join") && p.contains("sketch"), p)
  }

  test("IVF assignment is a pure map: zero Exchange on the corpus (streamed) side") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.register(spark)
    // shape-only fixtures: the guard is structural, values don't matter
    val corpus = spark.range(100).select($"id".as("vec_id"),
      transform(sequence(lit(1), lit(4)), i => ($"id" % 7 + i).cast("double")).as("v"))
    val cents = spark.range(4).select($"id".as("c_id"),
      transform(sequence(lit(1), lit(4)), i => ($"id" + i).cast("double")).as("cv"))
    val plan = queries.LlmVectorQueries.assignCells(corpus, cents)
      .queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a broadcast of the 1-row centroid array:\n$plan")
    // the k-row centroid agg may exchange (bounded, O(k·dim)); the CORPUS
    // side must not — assignment was a full-corpus shuffle in r2
    val streamed = joins.map { j =>
      if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight) j.left else j.right
    }
    streamed.foreach { side =>
      val ex = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(ex.isEmpty, s"corpus side of the assignment must not shuffle:\n$side")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At cluster scale a selective dim predicate should cut the fact scan
    // BEFORE the shuffle via an injected bloom filter (Spark's runtime
    // filtering). The size thresholds that gate injection are tuned for
    // real tables, so the test lowers them to fire at sf0.001; broadcast
    // is disabled because runtime filters target shuffle joins.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val orders = Tables.orders(spark, SF)
      val cust = Tables.customer(spark, SF).filter($"c_mktsegment" === "BUILDING")
      val p = orders.join(cust, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_name")
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("might_contain"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // Salting (q_join_salted) is the declarative skew tool; this pins the
    // RUNTIME one — AQE must detect a hot key's oversized shuffle
    // partition and split it. Thresholds are lowered to fire at test
    // scale; broadcast disabled so the join actually shuffles.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // one hot key (100k rows) against a uniform background
      val left = spark.range(100000).select(lit(0L).as("k"), $"id".as("v"))
        .union(spark.range(10000).select((($"id" % 999) + 1).as("k"), $"id".as("v")))
      val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("w"))
      // NOTE: no operator above the join — a parent agg imposes its own
      // requirement path and AQE then declines the skew split
      val j = left.join(right, "k")
      // the adaptive plan only finalizes on execution of THIS QueryExecution
      assert(j.collect().length == 110000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloom blocklist filter: broadcast-only joins on the corpus path") {
    // the 100 TB contract of q_filter_bloom: the corpus must NEVER
    // shuffle for the removal — the bitset arrives broadcast (nested-loop
    // over one map row) and the exact confirm broadcasts the blocklist
    // digests into a LeftAnti hash join; any SortMergeJoin means the
    // corpus got shuffled
    val p = plan("q_filter_bloom")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("PIT validity join keeps its equi component (no cartesian)") {
    // user_id must key the shuffle; the validity-range predicate is a
    // post-filter on the sorted run, never a cartesian pair-up
    val p = plan("q_join_point_in_time")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup candidates come from equi joins only") {
    // new-batch x corpus candidates must join on (band_i, band_key) /
    // digest — an all-pairs nested loop here would defeat the whole
    // incremental design
    val p = plan("q_dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact dedup aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q_dedup_exact")
    // two HashAggregate levels around one exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    // The partitioned-scan analog of the runtime bloom filter: when the
    // partition column is the join key, a selective dim predicate must
    // turn into a dynamicpruningexpression in the fact scan's
    // PartitionFilters — at 100 TB this skips whole partition directories
    // the static planner can't know about. The dim must be SCAN-backed:
    // a LocalRelation constant-folds its filter away and DPP sees no
    // selective predicate to reuse.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val factDir = queries.ScaleQueries.partitionedDir(spark, SF)
    val dimDir = TempDirs.create("graft_dpp_dim")
    Tables.events(spark, SF).select($"event_type").distinct()
      .withColumn("flag", when($"event_type" === "purchase", 1).otherwise(2))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir).filter($"flag" === 1)
    val p = fact.join(dim, Seq("event_type")).select($"event_id", $"flag")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("dynamicpruningexpression"), p)
  }

  test("partitioned scan prunes at planning time (PartitionFilters)") {
    val p = plan("q_source_partitioned_pruning")
    assert(p.contains("PartitionFilters") && p.contains("event_type"), p)
    // only the one matching partition directory survives pruning
    val pruned = queries.ScaleQueries.partitionedDir(spark, SF)
    assert(new java.io.File(pruned).listFiles().exists(_.getName.contains("event_type=")))
  }

  test("LATERAL limit-subquery decorrelates to partial top-k, not per-row rescans") {
    val p = plan("q_sql_lateral")
    // per-key LIMIT becomes WindowGroupLimit (Partial before the shuffle,
    // so at 100 TB each task forwards <= k rows per key), then one
    // broadcast join reattaches the outer row — no re-scan per customer.
    // When another suite has installed RowNumberTopKRewrite on the shared
    // session, the same idiom plans as the native TopKPerKey node instead
    // — strictly better (bounded heap, no sort); accept either form.
    assert(p.contains("WindowGroupLimit") || p.contains("TopKPerKey"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("correlated EXISTS/scalar subqueries decorrelate to hash joins") {
    val p = plan("q_sql_correlated")
    assert(p.contains("ExistenceJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("NB scoring joins the model by broadcast — the token stream never sort-merges") {
    val p = plan("q_classify_nb")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("SQL join hints steer the strategy from the SQL surface") {
    import org.apache.spark.sql.execution.ExplainMode
    Tables.orders(spark, SF).createOrReplaceTempView("hint_o")
    Tables.lineitem(spark, SF).createOrReplaceTempView("hint_l")
    def p(hint: String) = spark.sql(
      s"""SELECT $hint o.o_orderkey, count(*) AS n
         |FROM hint_o o JOIN hint_l l ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderkey""".stripMargin)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // MERGE must suppress the (size-eligible) broadcast; BROADCAST must
    // force it — the hint wins over the planner's size estimate each way
    assert(p("/*+ MERGE(l) */").contains("SortMergeJoin"), "MERGE hint ignored")
    assert(p("/*+ BROADCAST(l) */").contains("BroadcastHashJoin"), "BROADCAST hint ignored")
  }

  test("DISTRIBUTE BY / SORT BY plans a hash exchange + local sort, no global sort") {
    import org.apache.spark.sql.execution.ExplainMode
    Tables.lineitem(spark, SF).createOrReplaceTempView("dist_l")
    val p = spark.sql(
      """SELECT l_orderkey, l_quantity FROM dist_l
        |DISTRIBUTE BY l_orderkey SORT BY l_orderkey""".stripMargin)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), "global sort where a local one was asked")
  }

  test("binned interval join is an equi join on the grid cell, never a cartesian") {
    val p = plan("q_join_interval_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cell"), p)
  }

  test("RRF fusion joins ranked lists only — no cartesian anywhere in the hybrid") {
    val p = plan("q_search_rrf")
    assert(!p.contains("CartesianProduct"), p)
    // the lexical arm's pair scoring stays a BROADCAST of the bounded
    // query-vector side over the (r18) checkpointed doc-vector table —
    // the non-equi condition makes it a nested loop, never a cartesian;
    // the inverted-index broadcasts (dfv/tids) now live in the
    // checkpoint's own materialization plan, behind the ExistingRDD scan
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("recall curve shares one probe pass across nprobe settings, no cartesian") {
    val p = plan("q_ann_recall_curve")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("MMR rounds stay shortlist-sized: no cartesian, no nested loop on corpus") {
    val p = plan("q_ann_mmr")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("geo knn keeps the pair fan-out bounded by a partial WindowGroupLimit") {
    val p = plan("q_geo_knn")
    // without the partial group limit every task would sort its full
    // pair stream; with it, <= k rows per query survive each partition
    // (or the native TopKPerKey bounded heap when the rewrite is installed)
    assert(p.contains("WindowGroupLimit") || p.contains("TopKPerKey"), p)
    assert(p.contains("Partial") || p.contains("TopKPerKey"), p)
  }

  test("graft catalog scans report manifest stats: exact rows, column windows, plan-time broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val wh = TempDirs.create("graft_cbo_wh")
    spark.conf.set("spark.sql.catalog.gstat", "graft.acid.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstat.root", wh)
    val fact = new acid.GraftTable(spark, s"$wh/fact", statsCol = Some("k"))
    // three clustered commits -> three disjoint key bands of files, each
    // band split into two files at the fixed key b*10000 + 2500, so both
    // band-0 files overlap the pruned range below whatever ran earlier in
    // this JVM (a sampled repartitionByRange split depends on the RDD
    // counter, and a split at 5000 would leave one band-0 file in range)
    (0 to 2).foreach { b =>
      val (lo, hi) = (b * 10000 until (b + 1) * 10000)
        .map(i => (i.toLong, i % 97)).partition(_._1 < b * 10000 + 2500)
      fact.append(lo.toDF("k", "dim_id").coalesce(1)
        .union(hi.toDF("k", "dim_id").coalesce(1)))
    }
    val dim = new acid.GraftTable(spark, s"$wh/dim")
    dim.append((0 until 97).map(i => (i, s"name$i")).toDF("id", "name"))

    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head

    // exact row count from the manifest, not a byte-size guess
    assert(scanStats(spark.table("gstat.fact")).rowCount.contains(BigInt(30000)))
    // a pruned range read reports the PRUNED subset's exact rows: only
    // the first band's files survive, so the count is strictly less
    val prunedStats = scanStats(
      spark.sql("SELECT * FROM gstat.fact WHERE k BETWEEN 100 AND 4999"))
    assert(prunedStats.rowCount.exists(rc => rc >= 5000 && rc <= 10000),
      s"pruned row count should cover band 0 only: ${prunedStats.rowCount}")
    // column windows surface as catalyst column stats under CBO
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = scanStats(spark.table("gstat.fact"))
      val kStat = st.attributeStats.find(_._1.name == "k").map(_._2)
      assert(kStat.exists(s => s.min.contains(0L) && s.max.contains(29999L)),
        s"k column stats from manifest windows: $kStat")
      // NDV from the merged per-file HLL sketches: 30000 true distincts,
      // lgK=8 sketches carry ~6.5% relative error — pin a generous band
      val ndv = kStat.flatMap(_.distinctCount).map(_.toLong)
      assert(ndv.exists(n => n > 24000 && n < 36000),
        s"k distinctCount from manifest NDV sketches: $ndv")
      // a pruned subset reports the SUBSET's NDV (band 0 only: 10000)
      val prunedNdv = scanStats(
        spark.sql("SELECT * FROM gstat.fact WHERE k BETWEEN 100 AND 4999"))
        .attributeStats.find(_._1.name == "k")
        .flatMap(_._2.distinctCount).map(_.toLong)
      assert(prunedNdv.exists(n => n > 8000 && n < 12000),
        s"pruned-subset NDV should cover band 0 only: $prunedNdv")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
    // star join: broadcast-hash chosen at PLAN time, no hint, no AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spark.sql(
        """SELECT f.k, d.name FROM gstat.fact f
          |JOIN gstat.dim d ON f.dim_id = d.id""".stripMargin)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a column-mapped SQL read still pushes filters into the parquet leaves") {
    import spark.implicits._
    val wh = TempDirs.create("graft_cmplan_wh")
    spark.conf.set("spark.sql.catalog.gcmp", "graft.acid.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmp.root", wh)
    val t = new acid.GraftTable(spark, s"$wh/t")
    t.append((1L to 5000L).map(i => (i, s"u$i", i * 1.0))
      .toDF("id", "name", "v"))
    t.renameColumn("name", "username")
    val df = spark.sql(
      "SELECT id, username FROM gcmp.t WHERE username = 'u42' AND id < 100")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // the planner-injected replacement re-optimizes the mapped read, so
    // the predicate must reach the parquet scan as a pushed filter on
    // the PHYSICAL column name
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      (p.contains("EqualTo(name,u42)") || p.contains("EqualTo(name, u42)")),
      s"pushdown must reach the physical column: $p")
  }

  test("timestamp/date/string manifest windows serve plan-time stats and metadata MIN/MAX") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val wh = TempDirs.create("graft_tsstat_wh")
    spark.conf.set("spark.sql.catalog.gts", "graft.acid.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gts.root", wh)
    // day-clustered commits over a TIMESTAMP index column + a STRING
    // index column (doc-id shape)
    val t = new acid.GraftTable(spark, s"$wh/tsfact",
      indexCols = Seq("ts", "doc"))
    def ts(d: Int, i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00").getTime
        + i * 1000L)
    (0 until 3).foreach { d =>
      t.append((0 until 1000).map(i =>
        (d * 1000L + i, ts(d, i), f"doc$d%02d$i%05d")).toDF("id", "ts", "doc")
        .coalesce(1))
    }
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = scanStats(spark.table("gts.tsfact"))
      // TIMESTAMP min/max from the tw: windows — catalyst-internal micros
      val tsStat = st.attributeStats.find(_._1.name == "ts").map(_._2)
      val expectLo = ts(0, 0).getTime * 1000L
      val expectHi = ts(2, 999).getTime * 1000L
      assert(tsStat.exists(s => s.min.contains(expectLo) &&
        s.max.contains(expectHi)),
        s"ts column stats from tw: windows: $tsStat")
      // STRING min/max from the truncated sw: windows (valid bounds)
      val docStat = st.attributeStats.find(_._1.name == "doc").map(_._2)
      assert(docStat.exists(s => s.min.isDefined && s.max.isDefined),
        s"doc column stats from sw: windows: $docStat")
      assert(docStat.exists(s =>
        s.min.get.toString <= "doc0000000" && s.max.get.toString >= "doc0200999"),
        s"string bounds must cover the actual value range: $docStat")
      // a CBO-planned string range query still executes correctly
      assert(spark.sql(
        "SELECT count(*) AS n FROM gts.tsfact WHERE doc >= 'doc02'")
        .as[Long].head() == 1000L)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
    // metadata-served MIN/MAX over the timestamp column: a constant-row
    // LocalScan (ManifestAggScan), zero files opened, exact values
    val agg = spark.sql(
      "SELECT min(ts) AS lo, max(ts) AS hi, count(*) AS n FROM gts.tsfact")
    assert(agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      agg.queryExecution.executedPlan.toString)
    assert(agg.inputFiles.isEmpty, "manifest agg must open no files")
    val row = agg.collect().head
    assert(row.getTimestamp(0) == ts(0, 0) && row.getTimestamp(1) == ts(2, 999)
      && row.getLong(2) == 3000L, row.toString)
    // SQL time-range reads prune the file list through the tw: windows:
    // the plan-time pruned file list (GraftStatsScan.staticFiles) covers
    // only the matching day's files
    def scanFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.flatMap {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.isInstanceOf[org.apache.spark.sql.GraftStatsScan] =>
          Seq(b.scan.asInstanceOf[org.apache.spark.sql.GraftStatsScan]
            .staticFiles.size)
        case _ => Nil
      }.min
    val pruned = spark.sql(
      """SELECT * FROM gts.tsfact
        |WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
        |              AND TIMESTAMP '2024-01-02 23:59:59'""".stripMargin)
    assert(scanFiles(pruned) < scanFiles(spark.table("gts.tsfact")),
      "a day-range SQL read must open fewer files than the full scan")
    assert(pruned.count() == 1000L)
  }
}
