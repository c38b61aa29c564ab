package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Per-stream conf scoping: clone the session (conf + temp views +
  * functions copied; SparkContext shared), set the stream's overrides on
  * the CLONE, and transplant the analyzed plan onto it. The shared
  * session's conf is never touched, so a concurrent batch query planned
  * while a stream starts keeps its own settings — no lock, no set/restore
  * window (round-4 advice #3). The one write is to the shared Hadoop
  * conf: [[graft.io.LocalFs.install]], so the stream's checkpoint and
  * state files go through graft's fork-free local filesystem.
  *
  * The overrides: `statePartitions` as the shuffle/state fan-out, and the
  * RocksDB state-store provider when the plan holds a transformWithState
  * node, which Spark refuses to run on the HDFS-backed store. Any other
  * stream keeps the session's provider. Structured Streaming fixes both
  * per query when the query starts, so they belong on the query's own
  * session. */
private[graft] object ScopedStream {
  import org.apache.spark.sql.GraftPlanBridge
  import org.apache.spark.sql.catalyst.plans.logical.TransformWithState

  /** Rebind `df` to a cloned session carrying the stream's overrides;
    * returns (clonedSession, reboundDf). */
  def apply(df: DataFrame, statePartitions: Int): (SparkSession, DataFrame) = {
    graft.io.LocalFs.install(df.sparkSession.sparkContext.hadoopConfiguration)
    val scoped = GraftPlanBridge.cloneSession(df.sparkSession)
    scoped.conf.set("spark.sql.shuffle.partitions", statePartitions)
    val plan = df.queryExecution.analyzed
    if (plan.exists(_.isInstanceOf[TransformWithState]))
      scoped.conf.set(graft.tracks.TrackStateOp.rocksdbConf._1,
        graft.tracks.TrackStateOp.rocksdbConf._2)
    (scoped, GraftPlanBridge.ofRows(scoped, plan))
  }

  /** Rebind a result built on the scoped clone back onto the outer
    * session (the analyzed plan is self-contained, so the clone can be
    * discarded). */
  def rebind(outer: SparkSession, df: DataFrame): DataFrame =
    GraftPlanBridge.ofRows(outer, df.queryExecution.analyzed)
}

/** Self-cleaning temp dirs for per-JVM fixture copies. */
object TempDirs {
  def create(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir.toString
  }
}

/** A named bundle of driver-verifiable queries.
  *
  * Contract (see SparkEntry): `queries` maps name -> (session, sfDir) ->
  * DataFrame; `oracles` maps the SAME name -> DuckDB SQL over the same
  * parquet tables. Conventions that make the driver's hash compare
  * deterministic:
  *
  *  - every query ends in a total ORDER BY (ties broken by a unique key),
  *    mirrored in the oracle SQL;
  *  - aggregate/computed columns aliased identically on both sides;
  *  - money sums go through DECIMAL(12,2) (exact, order-insensitive) and
  *    are cast back to DOUBLE at the end — bit-identical across engines
  *    regardless of partial-aggregation merge order;
  *  - integer-ish results cast to LONG (DuckDB returns BIGINT).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Build this pack's once-per-JVM fixtures (ACID tables, bus logs,
    * persisted indexes, partitioned layouts) WITHOUT running the gate
    * queries. Bench calls it before the timed region so a single-pass
    * run measures the operators, not their first-touch ingest — the
    * production shape, where layout work happens at ingest time, not
    * per query. Fixture builders are computeIfAbsent-memoized, so a
    * warm call followed by the gates never rebuilds. Default: nothing
    * to build. */
  def warm(s: SparkSession, sfDir: String): Unit = ()

  /** Temp dir for per-JVM fixture copies (roundtrips, bucketed/partitioned
    * layouts), deleted on JVM exit — without the hook each run would leak
    * a parquet copy of every fixture table into /tmp. */
  protected def tempFixtureDir(prefix: String): String = TempDirs.create(prefix)

  /** Exact money arithmetic: DECIMAL(12,2) sums are order-insensitive so
    * the result does not depend on Spark's nondeterministic partial-agg
    * merge order (doubles would drift by ~1e-9 run to run). */
  protected def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Final cast for decimal aggregates: exact decimal -> nearest double is
    * deterministic and identical in Spark and DuckDB. */
  protected def asDouble(c: Column): Column = c.cast(DoubleType)

  protected def asLong(c: Column): Column = c.cast(LongType)

  /** Run a streaming DataFrame synchronously to a uniquely-named memory
    * sink (AvailableNow) and return its rows as a LOCAL relation — the
    * one shared "streaming query as a batch result" helper for all
    * packs. The sink's temp table is dropped before returning so
    * repeated invocations in one session don't accumulate registered
    * in-memory tables.
    *
    * `statePartitions` sizes the STATE STORE fan-out, pinned at query
    * start (shuffle.partitions is frozen into a streaming checkpoint).
    * State store count must track STATE SIZE, not core count: a
    * stream-stream join opens 4 stores per partition, and each store
    * pays a fixed per-batch commit/snapshot cost — at 32 partitions the
    * stream-stream join spent 58s cumulative in state commits for 40k
    * state rows vs 2.9s at 8, and the round-17 sweep (OPTIMIZATION_r17.md,
    * steady-state at sf0.1/cpus=32) found 4 another 25% faster than 8
    * (2.3 s vs 2.9 s; 2 and 1 regress — too little scan parallelism),
    * so 4 is the measured floor for these state sizes. Results are
    * partition-count independent (verified by the gates at cpus=4 and
    * 32 and by the sweep's row counts). At 100 TB the same knob scales
    * UP: state_bytes / target_store_size, not executor cores. */
  protected def runToMemory(df: DataFrame, mode: String,
                            statePartitions: Int = 4): DataFrame = {
    val outer = df.sparkSession
    val qn = "mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the override lives on a per-stream session CLONE (ScopedStream) —
    // the shared session conf is never written, so nothing can leak into
    // concurrently-planned queries and no start lock is needed
    val (scoped, sdf) = ScopedStream(df, statePartitions)
    val q = sdf.writeStream.format("memory").queryName(qn)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // table() analyzes eagerly, so the rebound plan holds the resolved
    // sink relation; dropping the temp view right away un-registers the
    // name without copying the data (collecting large streaming results
    // to the driver cost 3.5x on the stream-stream join at sf0.1). The
    // rebind hands the result back on the OUTER session so downstream
    // composition never sees the throwaway clone.
    val sink = ScopedStream.rebind(outer, scoped.table(qn))
    scoped.catalog.dropTempView(qn)
    sink
  }
}
