package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-category packs (graft.queries.*); each
  * pack supplies both the Spark implementation and, where SQL-expressible,
  * the DuckDB oracle the driver hash-compares against at sf0.01.
  */
object SparkEntry {
  private val packs: Seq[QueryPack] = Seq(
    _root_.graft.queries.RelationalQueries,
    _root_.graft.queries.TpchQueries,
    _root_.graft.queries.AnalyticQueries,
    _root_.graft.queries.ScalarQueries,
    _root_.graft.queries.AdvancedJoinQueries,
    _root_.graft.queries.TrackQueries,
    _root_.graft.queries.TimeWindowQueries,
    _root_.graft.queries.LlmTextQueries,
    _root_.graft.queries.LlmVectorQueries,
    _root_.graft.queries.MultimodalQueries,
    _root_.graft.queries.GeoQueries,
    _root_.graft.queries.SourceQueries,
    _root_.graft.queries.StreamJoinQueries,
    _root_.graft.queries.ScaleQueries,
    _root_.graft.queries.SearchQueries,
    _root_.graft.queries.AssemblyQueries,
    _root_.graft.queries.CurationQueries,
    _root_.graft.queries.RefineryQueries,
    _root_.graft.queries.SqlSurfaceQueries,
    _root_.graft.queries.AcidQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * "Last known position per track" — the reference's headline use-case
    * (SURVEY.md §7.1, reference pom.xml:23 FlightLastKnownPositionKeeper). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_track_last_known")(spark, "/root/testdata/sf0.001")

  /** Build every pack's once-per-JVM fixtures (Bench's pre-pass; see
    * QueryPack.warm). Per-pack failure isolation: a broken fixture
    * build surfaces as the affected gates' own errors in the timed
    * run, never as a silent warm abort that skips later packs. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    packs.foreach { p =>
      try p.warm(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[warm] ${p.getClass.getSimpleName} failed: " +
          s"${e.getMessage}")
      }
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = packs.flatMap(_.queries)
    // toMap resolves duplicates last-pack-wins silently — a name collision
    // across packs would corrupt the driver contract with no error
    require(all.map(_._1).distinct.size == all.size,
      s"duplicate query name across packs: ${
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    all.toMap
  }

  /** The named queries, in the given order. An unknown name throws, so a
    * mistyped name never silently shrinks a tool's run. */
  def lookup(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"no such query: ${unknown.mkString(", ")}")
    names.map(n => n -> queries(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = {
    val all = packs.flatMap(_.oracles)
    require(all.map(_._1).distinct.size == all.size,
      s"duplicate oracle name across packs: ${
        all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    val m = all.toMap
    val orphans = m.keySet -- queries.keySet
    require(orphans.isEmpty, s"oracle without a query: ${orphans.mkString(", ")}")
    m
  }
}
