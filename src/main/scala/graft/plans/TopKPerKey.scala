package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Native top-k-per-key: a whole-operator plan node (logical node +
  * strategy + physical exec) for the "k best rows per group" pattern.
  *
  * The stock way — `row_number().over(Window.partitionBy(keys)
  * .orderBy(ord)) <= k` — SORTS EVERY PARTITION on (keys, ord) before
  * ranking: O(n log n) comparisons and a full sort buffer (spill at
  * scale) to keep k rows per key. This operator holds a bounded heap
  * per key instead: O(n log k) comparisons, memory O(keys_in_partition
  * * k), no sort, no spill path on the hot branch — the same reason
  * TakeOrderedAndProject beats Sort+Limit globally, applied per key.
  *
  * The physical node declares `ClusteredDistribution(keys)`, so the
  * planner inserts exactly the one hash exchange the semantics need
  * (and elides it if the child is already co-partitioned — e.g. after
  * a groupBy on the same keys or a bucketed scan, the operator runs
  * shuffle-free, which the window variant also cannot do: it would
  * still sort).
  *
  * Spark-first citation: reference engines expose this as
  * "top n per group" (the reference's bounded track buffer,
  * StreamWithStates.scala:170-199, is the streaming cousin: keep the
  * newest 10 per track id); here it is a batch Catalyst operator
  * installed via `spark.experimental.extraStrategies` (public API, no
  * session-extension requirement) or `GraftExtensions`; the window-idiom
  * rewrite runs on a clone from [[TopKPerKey.rewriting]].
  */
case class TopKPerKeyNode(
    groupKeys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, ord, k, child) =>
      TopKPerKeyExec(keys, ord, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(
    groupKeys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** All rows of a key in one partition — the planner satisfies this
    * with one hash exchange, or zero if already co-partitioned. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupKeys) :: Nil

  // rows only ever get dropped within a partition; partitioning survives
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = groupKeys
    val ord = ordering
    val kk = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      // codegen'd comparator over the (bound) sort order
      val cmp = GenerateOrdering.generate(ord, schema)
      // heap head = WORST kept row (reverse order) => O(log k) eviction
      val heapCmp = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = cmp.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      while (iter.hasNext) {
        val row = iter.next().asInstanceOf[UnsafeRow]
        val key = keyProj(row) // reused buffer: copy only on first insert
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](kk + 1, heapCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values.iterator.asScala.flatMap(_.iterator.asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {
  /** A clone of `session` with the strategy AND the window-idiom rewrite
    * rule installed: on it, `row_number().over(...) <= k` queries that
    * discard the rank column plan through TopKPerKeyExec. The caller's
    * session is left as it was — extra optimizer rules are
    * session-global, so installing the rewrite there would change how
    * every later window query on it plans. The clone keeps the caller's
    * conf, temp views and query listeners. */
  def rewriting(session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    graft.GraftSession.cloneFor(session, "topk-rewrite") { clone =>
      val x = clone.experimental
      if (!x.extraStrategies.contains(TopKPerKeyStrategy))
        x.extraStrategies = x.extraStrategies :+ TopKPerKeyStrategy
      if (!x.extraOptimizations.contains(RowNumberTopKRewrite))
        x.extraOptimizations = x.extraOptimizations :+ RowNumberTopKRewrite
    }

  /** DataFrame API: k best rows per key under `order` (first-in-sort-
    * order wins; pass `$"x".desc` for largest-x). Include a unique
    * tiebreaker in `order` for deterministic results. Installs the
    * strategy on the session idempotently (public experimental-methods
    * hook), so no spark.sql.extensions config is required. This is the
    * one rule a gate may add to the session it is handed: the strategy
    * matches only TopKPerKeyNode, which only this method builds, so no
    * other query on the session plans differently. */
  def apply(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val session = df.sparkSession
    val strategies = session.experimental.extraStrategies
    if (!strategies.contains(TopKPerKeyStrategy))
      session.experimental.extraStrategies = strategies :+ TopKPerKeyStrategy
    val sortOrders = order.map(GraftPlanBridge.expr(session, _)).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    GraftPlanBridge.ofRows(session,
      TopKPerKeyNode(keys.map(GraftPlanBridge.expr(session, _)), sortOrders, k,
        df.queryExecution.logical))
  }
}
