package graft.acid

import org.apache.spark.sql.GraftDvScan
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Deletion-vector application for the SQL (DSv2) read path — the
  * planner-injected anti-join pattern the production lakehouse formats
  * use: when a catalog table's resolved snapshot carries DVs, its scan
  * builder emits a [[org.apache.spark.sql.GraftDvScan]] marker instead
  * of the raw parquet scan, and this rule — running in the user-provided
  * optimizer batch, AFTER V2 pushdown has fixed the scan's pruned file
  * list, pushed filters and required columns — replaces the scan
  * relation with the mask-applying plan (parquet scan + broadcast
  * anti-join on `_metadata` row positions, the exact shape the Scala
  * API's readers use). The replacement sub-plan is built through a
  * nested optimization pass, so filter pushdown into the parquet leaves
  * and column pruning through the anti-join still happen; the original
  * output attribute ids are grafted back via aliases so the surrounding
  * plan resolves unchanged.
  *
  * Installed idempotently into `experimental.extraOptimizations` (the
  * "User Provided Optimizers" batch — the one injectable point that runs
  * AFTER V2 pushdown has materialized the [[DataSourceV2ScanRelation]]
  * this rule matches) by BOTH [[GraftCatalog.initialize]] and
  * [[graft.GraftExtensions]] (whose injected-rule builder installs it
  * when the session's optimizer is first built) — either configuring the
  * catalog or loading the extension is enough for SQL reads of DV'd
  * tables. */
object GraftDvScanRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable, UpdateTable}

  /** The ONE install point for the session-global graft hooks — every
    * entry surface (catalog initialize, extension rule builder, bare
    * path reads) routes here instead of hand-rolling its own
    * contains-then-append, so concurrent first-touches cannot append a
    * rule twice (`experimental.extraOptimizations` is session-global
    * mutable state; an unsynchronized check-and-set from two threads
    * duplicates the rule). Installing into the caller's session is
    * allowed here, unlike for any other rule: these rules match only
    * graft scans and graft row commands, so no other query plans
    * differently. */
  private val installLock = new Object

  /** Install just the DV rewrite (bare path reads need only this). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    installLock.synchronized {
      val opts = spark.experimental.extraOptimizations
      if (!opts.contains(GraftDvScanRewrite))
        spark.experimental.extraOptimizations = opts :+ GraftDvScanRewrite
    }

  /** Install the full SQL-DML surface: row-op rewrite rule, DV rewrite,
    * and the command strategy (catalog initialize / extension path). */
  def installAll(spark: org.apache.spark.sql.SparkSession): Unit =
    installLock.synchronized {
      val opts = spark.experimental.extraOptimizations
      val missing = Seq(GraftSqlRowOps, GraftDvScanRewrite)
        .filterNot(opts.contains(_))
      if (missing.nonEmpty)
        spark.experimental.extraOptimizations = opts ++ missing
      val strategies = spark.experimental.extraStrategies
      if (!strategies.contains(GraftRowCommandStrategy))
        spark.experimental.extraStrategies = strategies :+ GraftRowCommandStrategy
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level DML needs its TARGET kept as a raw (scan) relation — the
    // command strategies pattern-match it to route into deleteWhere /
    // the commit-log rewrite, and never execute the scan itself. Only a
    // MERGE's SOURCE side is a genuine read that may need the mask.
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable =>
      m.withNewChildren(Seq(m.targetTable, apply(m.sourceTable)))
    case other => other transform {
      case sr: DataSourceV2ScanRelation if sr.scan.isInstanceOf[GraftDvScan] =>
        val child = sr.scan.asInstanceOf[GraftDvScan].plan()
        require(child.output.length == sr.output.length,
          s"DV scan replacement arity mismatch: ${child.output} vs ${sr.output}")
        Project(sr.output.zip(child.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId) }, child)
    }
  }
}
