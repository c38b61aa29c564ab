package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.5 / §2.7): aggregations,
  * equi/outer/semi/anti joins, set operations, global sort + limit,
  * per-group top-k.
  *
  * Scale notes (100 TB stance):
  *  - `nation`/`region`/`supplier` are dimension tables — always
  *    `broadcast()`; the fact-side join then needs no shuffle.
  *  - fact⋈fact joins (lineitem⋈orders) shuffle on the join key once;
  *    aggregations that follow are keyed on join output so AQE can reuse /
  *    coalesce partitions.
  *  - all aggregates here are algebraic (sum/count/min/max over decimal) so
  *    Spark plans partial (map-side) + final aggregation — no skew risk on
  *    low-cardinality group keys beyond the final handful of groups.
  */
object RelationalQueries extends QueryPack {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables.table(s, d, n)

  /** Register `table` for `d` under a collision-free temp-view name and
    * return the name (same convention as SqlSurfaceQueries.view: the
    * suffix is the full MD5 of the data dir, so two scale factors on one
    * shared session can never resolve each other's data). */
  private def view(s: SparkSession, d: String, table: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val name = s"${table}_rq$digest"
    Tables.table(s, d, table).createOrReplaceTempView(name)
    name
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- typed cogroup (KeyValueGroupedDataset.cogroup) ----
    // Scale note: cogroup shuffles BOTH full datasets by key — prefer
    // aggregate-then-join when only aggregates are needed; this query
    // keeps per-group logic trivial on purpose (the operator under test
    // is the typed two-sided grouping itself, oracle = outer-join of
    // per-key counts).
    "q_cogroup_typed" -> { (s, d) =>
      import s.implicits._
      val ev = t(s, d, "events").select($"user_id", $"event_id")
        .as[(Long, Long)].groupByKey(_._1)
      val ord = t(s, d, "orders").select($"o_custkey", $"o_orderkey")
        .as[(Long, Long)].groupByKey(_._1)
      ev.cogroup(ord) { (key, evs, ords) =>
        val ne = evs.size.toLong
        val no = ords.size.toLong
        Iterator((key, ne, no, ne > 0 && no > 0))
      }.toDF("user_id", "n_events", "n_orders", "has_both")
        .orderBy($"user_id")
    },

    // ---- A: hash aggregation, partial+final, multiple aggregate kinds ----
    "q_agg_pricing_summary" -> { (s, d) =>
      import s.implicits._
      t(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"), // integer-valued doubles: exact
          asDouble(sum(dec($"l_extendedprice"))).as("sum_base_price"),
          asDouble(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          countDistinct($"l_orderkey").as("n_orders"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- star-schema join: fact⋈fact shuffle + broadcast dims ----
    "q_join_inner_star" -> { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem")
      val o  = t(s, d, "orders")
      val c  = t(s, d, "customer")
      val n  = broadcast(t(s, d, "nation"))
      val r  = broadcast(t(s, d, "region"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          asDouble(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    },

    // ---- left outer join preserving unmatched left rows ----
    "q_join_left_outer" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "customer")
      val big = t(s, d, "orders").filter($"o_totalprice" > 300000.0)
      c.join(big, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_big_orders")) // count non-null
        .orderBy($"c_custkey")
    },

    // ---- right outer join (all suppliers kept) ----
    "q_join_right_outer" -> { (s, d) =>
      import s.implicits._
      t(s, d, "lineitem")
        .join(t(s, d, "supplier"), $"l_suppkey" === $"s_suppkey", "right")
        .groupBy($"s_suppkey")
        .agg(count($"l_orderkey").as("n_items"),
             sum($"l_quantity").as("sum_qty"))
        .orderBy($"s_suppkey")
    },

    // ---- full outer join of two aggregated sides ----
    "q_join_full_outer" -> { (s, d) =>
      import s.implicits._
      val cn = t(s, d, "customer").groupBy($"c_nationkey".as("k"))
        .agg(count(lit(1)).as("n_customers"))
      val sn = t(s, d, "supplier").groupBy($"s_nationkey".as("k"))
        .agg(count(lit(1)).as("n_suppliers"))
      cn.join(sn, Seq("k"), "full")
        .select(col("k").as("nationkey"), $"n_customers", $"n_suppliers")
        .orderBy($"nationkey")
    },

    // ---- null-safe equality join (<=>): NULL keys MATCH ----
    // The join-semantics corner plain equi joins get wrong: a nullable
    // join key (here status with 'O' collapsed to NULL — the "unknown"
    // bucket every dirty dataset has) silently DROPS its null rows under
    // `=`; `<=>` (IS NOT DISTINCT FROM) matches NULL to NULL, so the
    // unknown bucket survives the join as a first-class group. Catalyst
    // treats EqualNullSafe as a hash-join key (no fallback to a
    // nested loop), so the plan is the same shuffled join as `=`.
    "q_join_null_safe" -> { (s, d) =>
      import s.implicits._
      val o = t(s, d, "orders")
        .select(when($"o_orderstatus" === "O", lit(null))
            .otherwise($"o_orderstatus").as("k"),
          dec($"o_totalprice").as("p"))
      val counts = o.groupBy($"k").agg(asLong(count(lit(1))).as("n_orders"))
        .withColumnRenamed("k", "lk")
      val sums = o.groupBy($"k").agg(asDouble(sum($"p")).as("sum_price"))
        .withColumnRenamed("k", "rk")
      counts.join(sums, $"lk" <=> $"rk")
        .select($"lk".as("k"), $"n_orders", $"sum_price")
        .orderBy($"k")
    },

    // ---- semi join: customers with >= 1 urgent open order (EXISTS) ----
    "q_join_semi" -> { (s, d) =>
      import s.implicits._
      val urgent = t(s, d, "orders")
        .filter($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "O")
      t(s, d, "customer")
        .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // ---- anti join: customers with no very large order (NOT EXISTS) ----
    "q_join_anti" -> { (s, d) =>
      import s.implicits._
      val big = t(s, d, "orders").filter($"o_totalprice" > 400000.0)
      t(s, d, "customer")
        .join(big, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // ---- set operations over two customer segments ----
    "q_setop_union" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "customer")
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      a.union(b).distinct().orderBy($"c_custkey")
    },
    "q_setop_union_all" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "customer")
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      a.unionAll(b)
        .groupBy($"c_custkey").agg(count(lit(1)).as("n_appearances"))
        .orderBy($"c_custkey")
    },
    "q_setop_intersect" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "customer")
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      a.intersect(b).orderBy($"c_custkey")
    },
    "q_setop_except" -> { (s, d) =>
      import s.implicits._
      val c = t(s, d, "customer")
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      a.except(b).orderBy($"c_custkey")
    },

    // ---- global sort + limit (top-N): TakeOrderedAndProject, no full sort ----
    "q_sort_topn" -> { (s, d) =>
      import s.implicits._
      t(s, d, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },

    // ---- per-group top-k via ranking window ----
    "q_topk_per_group" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", asLong($"rk").as("rk"), $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rk")
    },

    // ---- per-group top-k via the NATIVE plan node ----
    // Same semantics as q_topk_per_group, planned through graft's
    // whole-operator path (TopKPerKeyNode -> strategy ->
    // TopKPerKeyExec): bounded heap per key, O(n log k), no per-key
    // sort, no Window — and the exchange elides entirely when the
    // input is already clustered on the key (TopKPerKeySpec pins both
    // plan shapes). The oracle is the ranking-window formulation,
    // proving native == window semantics on real data.
    "q_topk_native" -> { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem")
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      graft.plans.TopKPerKey(li, Seq($"l_suppkey"),
          Seq($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc), 5)
        .orderBy($"l_suppkey", $"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    },

    // ---- per-group top-k: the WINDOW IDIOM, planned natively ----
    // Same user-facing formulation as q_topk_per_group (row_number over
    // a window, filter <= 3) but with the rank column discarded — which
    // lets the RowNumberTopKRewrite optimizer rule swap the whole
    // Window+Filter for the bounded-heap TopKPerKeyExec (TopKRewriteSpec
    // pins the plan). The oracle runs the ranking-window SQL, proving
    // the rewrite preserves semantics on real data. The rule lives on a
    // clone of the caller's session, so no later query plans through it.
    "q_topk_rewrite" -> { (s, d) =>
      val r = graft.plans.TopKPerKey.rewriting(s)
      import r.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(r, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
    },

    // ---- A2 in function form: max_by / min_by ----
    "q_agg_max_by" -> { (s, d) =>
      import s.implicits._
      t(s, d, "events")
        .groupBy($"user_id")
        .agg(
          max_by($"event_id", $"ts").as("last_event_id"),
          min_by($"event_id", $"ts").as("first_event_id"),
          max_by($"event_type", $"ts").as("last_event_type"))
        .orderBy($"user_id")
    },

    // ---- flagship (SURVEY §7.1): last known event per key, A2 analogue ----
    "q_track_last_known" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // (user_id, ts) is unique per TESTDATA, so desc row_number is total.
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id")
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
        .orderBy($"user_id")
    },

    // ---- COMPOSED TPC-H shapes: multi-join + selective filters + agg +
    // top-k, declared WITHOUT join hints so the planner (and AQE at
    // runtime) picks broadcast sides and join order end to end — the
    // plans a 100 TB star schema actually runs. Money math follows the
    // pack's exact-decimal convention; top-k ties break on the key.

    // Q3 (shipping priority): building-segment orders not yet shipped at
    // the cutoff, top-10 order revenues.
    "q_tpch_q3" -> { (s, d) =>
      import s.implicits._
      val cut = lit("1998-06-01").cast("timestamp")
      val c = t(s, d, "customer").filter($"c_mktsegment" === "BUILDING")
      val o = t(s, d, "orders").filter($"o_orderdate" < cut)
      val li = t(s, d, "lineitem").filter($"l_shipdate" > cut)
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg(asDouble(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")))
          .as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
        .select($"l_orderkey", $"revenue", $"o_orderdate")
    },

    // Q10 (returned items): revenue lost to returns per customer in one
    // quarter, top-20 — fact⋈fact shuffle plus two broadcastable dims.
    "q_tpch_q10" -> { (s, d) =>
      import s.implicits._
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      val li = t(s, d, "lineitem").filter($"l_returnflag" === "R")
      val n = t(s, d, "nation")
      c.join(o, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(asDouble(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")))
          .as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
        .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name")
    },

    // Q5 (local supplier volume): revenue from orders where supplier and
    // customer share the nation, one region + one year — the 6-table
    // join with a non-key equi constraint (c_nationkey = s_nationkey).
    "q_tpch_q5" -> { (s, d) =>
      import s.implicits._
      val lo = lit("1998-01-01").cast("timestamp")
      val hi = lit("1999-01-01").cast("timestamp")
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      val li = t(s, d, "lineitem")
      val su = t(s, d, "supplier")
      val n = t(s, d, "nation")
      val r = t(s, d, "region").filter($"r_name" === "ASIA")
      c.join(o, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .join(su, $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(n, $"s_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(asDouble(sum(dec($"l_extendedprice") * dec(lit(1) - $"l_discount")))
          .as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },

    // Q18 (large-volume customer): the GROUP-BY-HAVING SEMI shape — the
    // IN-subquery over an aggregated fact becomes a left-semi join
    // against the aggregate (one lineitem shuffle to find big orders,
    // the semi probe is tiny), then the qualifying orders re-join the
    // fact for the final per-order quantity rollup. Hint-free.
    "q_tpch_q18" -> { (s, d) =>
      import s.implicits._
      val li = t(s, d, "lineitem")
      val big = li.groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
        .filter($"q" > 300).select($"l_orderkey".as("big_orderkey"))
      t(s, d, "orders")
        .join(big, $"o_orderkey" === $"big_orderkey", "left_semi")
        .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .groupBy($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
          $"o_totalprice")
        .agg(sum($"l_quantity").as("total_qty"))
        .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
        .limit(100)
    },

    // Q4 (order-priority checking): EXISTS with a CORRELATED NON-EQUI
    // component — the subquery's condition references the OUTER row's
    // o_orderdate (`l_shipdate > o_orderdate`), so decorrelation must
    // carry the comparison into the semi join, not just the key equality
    // (adapted: the fixture has no commit/receipt dates, shipped-after-
    // order stands in for the spec's committed-before-received).
    "q_tpch_q4" -> { (s, d) =>
      val li = view(s, d, "lineitem")
      val o = view(s, d, "orders")
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS order_count
           |FROM $o
           |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
           |  AND EXISTS (SELECT 1 FROM $li
           |              WHERE l_orderkey = o_orderkey
           |                AND l_shipdate > o_orderdate)
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin)
    },

    // Q17 (small-quantity-order revenue): the CORRELATED SCALAR-AGG
    // subquery shape — `l_quantity < 0.2 * avg(quantity of this part)`
    // decorrelates to an aggregate-then-join (one lineitem pass computes
    // every part's threshold, then the filtered join), never a per-row
    // rescan. SQL-surfaced so Catalyst's scalar-subquery decorrelation
    // is what plans.
    "q_tpch_q17" -> { (s, d) =>
      val li = view(s, d, "lineitem")
      val p = view(s, d, "part")
      s.sql(
        s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           |         / 7.0 AS avg_yearly
           |FROM $li, $p
           |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
           |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
           |                    FROM $li l2
           |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
    },

    // Q21 (suppliers who kept orders waiting): the MULTI-SELF-JOIN
    // EXISTS / NOT-EXISTS shape, written as correlated subqueries in SQL
    // so Catalyst's correlated rewrite (RewritePredicateSubquery → one
    // semi + one anti self-join of the fact on the order key) is what
    // plans — the exact shape under test. The testdata lineitem has no
    // commit/receipt dates, so "kept waiting" adapts to the available
    // per-item flag: this supplier's item was RETURNED (l_returnflag =
    // 'R') in a finalized multi-supplier order where NO other supplier's
    // item was returned. Same plan skeleton, same correlation pattern
    // (TPC-H Q21, reference: the spec's l3.l_receiptdate > l3.l_commitdate
    // anti-condition).
    "q_tpch_q21" -> { (s, d) =>
      val li = view(s, d, "lineitem")
      val o = view(s, d, "orders")
      val su = view(s, d, "supplier")
      val n = view(s, d, "nation")
      s.sql(
        s"""SELECT s_name, count(*) AS numwait
           |FROM $su, $li l1, $o, $n
           |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           |  AND EXISTS (SELECT 1 FROM $li l2
           |              WHERE l2.l_orderkey = l1.l_orderkey
           |                AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (SELECT 1 FROM $li l3
           |                  WHERE l3.l_orderkey = l1.l_orderkey
           |                    AND l3.l_suppkey <> l1.l_suppkey
           |                    AND l3.l_returnflag = 'R')
           |  AND s_nationkey = n_nationkey AND n_nationkey < 13
           |GROUP BY s_name
           |ORDER BY numwait DESC, s_name
           |LIMIT 100""".stripMargin)
    },

    // Q2 (minimum-cost supplier): the CORRELATED MIN OVER A MULTI-TABLE
    // JOIN shape — the inner subquery joins the fact with supplier +
    // nation + region and takes a correlated min; Catalyst decorrelates
    // it to ONE aggregate-then-join (every part's regional minimum in a
    // single pass), never a per-row rescan. The testdata has no
    // partsupp, so lineitem serves as the part×supplier fact and
    // l_extendedprice as the cost (same plan skeleton, same correlation
    // pattern; equality compares STORED doubles — no derived arithmetic,
    // bit-exact cross-engine). PlanSpec pins the single-subtree
    // decorrelated plan.
    "q_tpch_q2" -> { (s, d) =>
      val li = view(s, d, "lineitem")
      val p = view(s, d, "part")
      val su = view(s, d, "supplier")
      val n = view(s, d, "nation")
      val r = view(s, d, "region")
      s.sql(
        s"""SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           |       l1.l_extendedprice AS min_price
           |FROM $p, $su, $li l1, $n, $r
           |WHERE p_partkey = l1.l_partkey AND s_suppkey = l1.l_suppkey
           |  AND p_size <= 15 AND p_type = 'STANDARD'
           |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           |  AND r_name = 'EUROPE'
           |  AND l1.l_extendedprice = (
           |      SELECT min(l2.l_extendedprice)
           |      FROM $li l2, $su s2, $n n2, $r r2
           |      WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
           |        AND s2.s_nationkey = n2.n_nationkey
           |        AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
           |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, min_price
           |LIMIT 100""".stripMargin)
    },

    // Q20 (excess-stock suppliers): the NESTED-IN OVER AN AGGREGATED
    // CORRELATED SUBQUERY shape — an IN whose inner query is itself a
    // grouped aggregate filtered by a correlated scalar-agg threshold
    // (TPC-H's ps_availqty > 0.5 * correlated sum). Without partsupp the
    // per-(supplier, part) shipped volume plays availqty: suppliers
    // carrying > 10% of a small-part's total volume. Quantities sum as
    // DECIMAL so the threshold comparison is exact cross-engine.
    "q_tpch_q20" -> { (s, d) =>
      val li = view(s, d, "lineitem")
      val p = view(s, d, "part")
      val su = view(s, d, "supplier")
      val n = view(s, d, "nation")
      s.sql(
        s"""SELECT s_suppkey, s_name, n_name
           |FROM $su, $n
           |WHERE s_suppkey IN (
           |  SELECT g.l_suppkey FROM (
           |    SELECT l_suppkey, l_partkey,
           |           sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
           |    FROM $li
           |    WHERE l_partkey IN (SELECT p_partkey FROM $p
           |                        WHERE p_name LIKE 'small %')
           |    GROUP BY l_suppkey, l_partkey) g
           |  WHERE g.q > (SELECT 0.1 * sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
           |               FROM $li l2 WHERE l2.l_partkey = g.l_partkey))
           |  AND s_nationkey = n_nationkey AND n_nationkey < 13
           |ORDER BY s_suppkey""".stripMargin)
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_join_null_safe" ->
      """WITH o AS (
        |  SELECT CASE WHEN o_orderstatus = 'O' THEN NULL
        |              ELSE o_orderstatus END AS k,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS p
        |  FROM orders),
        |counts AS (SELECT k AS lk, CAST(count(*) AS BIGINT) AS n_orders
        |           FROM o GROUP BY 1),
        |sums AS (SELECT k AS rk, CAST(sum(p) AS DOUBLE) AS sum_price
        |         FROM o GROUP BY 1)
        |SELECT lk AS k, n_orders, sum_price
        |FROM counts JOIN sums ON lk IS NOT DISTINCT FROM rk
        |ORDER BY k""".stripMargin,

    "q_cogroup_typed" ->
      """WITH e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
        |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
        |SELECT coalesce(e.user_id, o.o_custkey) AS user_id,
        |  coalesce(e.n_events, 0) AS n_events,
        |  coalesce(o.n_orders, 0) AS n_orders,
        |  e.user_id IS NOT NULL AND o.o_custkey IS NOT NULL AS has_both
        |FROM e FULL OUTER JOIN o ON e.user_id = o.o_custkey
        |ORDER BY user_id""".stripMargin,

    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_inner_star" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_join_right_outer" ->
      """SELECT s_suppkey, count(l_orderkey) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |RIGHT JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    "q_join_full_outer" ->
      """WITH cn AS (SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1),
        |     sn AS (SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1)
        |SELECT coalesce(cn.k, sn.k) AS nationkey, n_customers, n_suppliers
        |FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
        |ORDER BY nationkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_setop_union" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |UNION
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q_setop_union_all" ->
      """SELECT c_custkey, count(*) AS n_appearances FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |  UNION ALL
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') u
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_setop_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q_setop_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q_sort_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,

    "q_topk_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_topk_native" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |                            ORDER BY l_extendedprice DESC,
        |                                     l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 5
        |ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,

    "q_agg_max_by" ->
      """SELECT user_id,
        |  max_by(event_id, ts) AS last_event_id,
        |  min_by(event_id, ts) AS first_event_id,
        |  max_by(event_type, ts) AS last_event_type
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_track_last_known" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice,
        |  sum(l_quantity) AS total_qty
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q17" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |         / 7.0 AS avg_yearly
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |  AND s_nationkey = n_nationkey AND n_nationkey < 13
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "q_tpch_q2" ->
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |       l1.l_extendedprice AS min_price
        |FROM part, supplier, lineitem l1, nation, region
        |WHERE p_partkey = l1.l_partkey AND s_suppkey = l1.l_suppkey
        |  AND p_size <= 15 AND p_type = 'STANDARD'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND l1.l_extendedprice = (
        |      SELECT min(l2.l_extendedprice)
        |      FROM lineitem l2, supplier s2, nation n2, region r2
        |      WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
        |        AND s2.s_nationkey = n2.n_nationkey
        |        AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, min_price
        |LIMIT 100""".stripMargin,

    "q_tpch_q20" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |  SELECT g.l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey,
        |           sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
        |    FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small %')
        |    GROUP BY l_suppkey, l_partkey) g
        |  WHERE g.q > (SELECT 0.1 * sum(CAST(l2.l_quantity AS DECIMAL(12,2)))
        |               FROM lineitem l2 WHERE l2.l_partkey = g.l_partkey))
        |  AND s_nationkey = n_nationkey AND n_nationkey < 13
        |ORDER BY s_suppkey""".stripMargin
  )
}
