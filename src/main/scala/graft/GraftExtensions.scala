package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension installer: makes every graft native function
  * available to pure-SQL users via standard Spark plugin config —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * or programmatically `SparkSession.builder.withExtensions(new
  * GraftExtensions)`. This is the packaging surface a library consumer
  * (spark-sql shell, Thrift server, notebook) actually uses; sessions
  * created without the extension install the same function table with
  * [[graft.functions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // ExpressionInfo's 3-arg constructor is (className, db, functionName)
    // — passing usage as the 3rd arg garbles DESCRIBE FUNCTION output (the
    // usage string showed up as the function name). The extended
    // constructor enforces doc-format rules on usage text, so the class
    // carries the doc and the identifier stays correct.
    functions.sqlFunctions.foreach { case (name, usage, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(s"graft.functions ($usage)", null, name), builder))
    }
    // whole-operator plan node: plans graft.plans.TopKPerKeyNode into
    // the bounded-heap TopKPerKeyExec (the DataFrame API also installs
    // this per-session via experimental.extraStrategies for sessions
    // created without the extension)
    e.injectPlannerStrategy(_ => plans.TopKPerKeyStrategy)
    // optimizer rule: rewrites the row_number()-filter top-k idiom into
    // the bounded-heap operator above (see RowNumberTopKRewrite guards)
    e.injectOptimizerRule(_ => plans.RowNumberTopKRewrite)
    // SQL UPDATE / MERGE INTO on graft-catalog ACID tables (the catalog
    // also self-installs these on initialize for extension-less sessions)
    e.injectOptimizerRule(_ => acid.GraftSqlRowOps)
    e.injectPlannerStrategy(_ => acid.GraftRowCommandStrategy)
    // deletion-vector application for DSv2 scans of graft-catalog tables.
    // The rewrite matches DataSourceV2ScanRelation, which only exists
    // AFTER V2 pushdown — every injectable logical-optimizer batch
    // (operator optimization, pre-CBO) runs before it, so the rule must
    // live in experimental.extraOptimizations (the "User Provided
    // Optimizers" batch at the END of the optimizer). Extensions have no
    // session at registration time, but an injected rule BUILDER does:
    // install there, once per session, and return the rule itself as a
    // harmless no-op for the early batch (pre-pushdown plans carry no
    // GraftDvScan marker, so it never matches there). GraftCatalog
    // .initialize installs the same rule for extension-less sessions;
    // both installs are idempotent.
    e.injectOptimizerRule { session =>
      acid.GraftDvScanRewrite.install(session)
      acid.GraftDvScanRewrite
    }
    // txn-pinned table-valued reads: SELECT ... FROM
    // snapshot_at_txn('cat.ns.t', '<txn marker>') — the read-side SQL
    // face of COMMIT ATOMIC (each participant pinned at its committed
    // version; two calls over one marker can never observe a split txn)
    e.injectTableFunction((new FunctionIdentifier("snapshot_at_txn"),
      new ExpressionInfo(
        "graft.acid (snapshot_at_txn(tableRef, txnMarker) - participant " +
          "table pinned at its version in the multi-table txn)",
        null, "snapshot_at_txn"),
      acid.GraftTxnSql.snapshotAtTxnPlan _))
    // CDC reads as composable relations (the Delta table_changes TVF):
    // the range net diff, and the per-commit attributed form
    e.injectTableFunction((new FunctionIdentifier("table_changes"),
      new ExpressionInfo(
        "graft.acid (table_changes(tableRef, fromV, toV) - net row-level " +
          "diff of (fromV, toV], tagged _change)",
        null, "table_changes"),
      acid.GraftTxnSql.tableChangesPlan _))
    e.injectTableFunction((new FunctionIdentifier("table_changes_by_version"),
      new ExpressionInfo(
        "graft.acid (table_changes_by_version(tableRef, fromV, toV) - " +
          "per-commit attributed diff with _commit_version/_commit_timestamp)",
        null, "table_changes_by_version"),
      acid.GraftTxnSql.tableChangesByVersionPlan _))
    // lakehouse maintenance SQL over graft-catalog tables:
    // OPTIMIZE [TARGET n FILES] [ZORDER BY (a, b)] / VACUUM [RETAIN n
    // VERSIONS] / RESTORE ... TO VERSION AS OF v / DESCRIBE HISTORY
    e.injectParser((_, delegate) => new acid.GraftSqlParser(delegate))
  }
}
