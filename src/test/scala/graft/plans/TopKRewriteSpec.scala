package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The RowNumberTopKRewrite optimizer rule: the window idiom plans
  * through TopKPerKeyExec when (and only when) the rewrite guards hold. */
class TopKRewriteSpec extends SparkSpec {
  // a clone carries the rewrite: the shared session, which later suites
  // plan on, never gets it
  private val rewriting = TopKPerKey.rewriting(spark)
  import rewriting.implicits._

  private val data = {
    val rows = for (i <- 0L until 2000L) yield
      (i % 40, i, ((i * 2654435761L) % 97).toDouble / 7.0)
    rows.toDF("k", "id", "v")
  }

  private def windowTopK(df: DataFrame, keep: Boolean): DataFrame = {
    val w = Window.partitionBy($"k").orderBy($"v".desc, $"id".asc)
    val ranked = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
    if (keep) ranked else ranked.select($"k", $"id", $"v")
  }

  // string check: the AQE wrapper (AdaptiveSparkPlanExec) hides the
  // inner plan from collect()-style traversal but prints it
  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def plansNative(df: DataFrame): Boolean = {
    val s = planString(df)
    s.contains("TopKPerKey") && !s.contains("Window")
  }

  test("row_number <= k with rank discarded rewrites to TopKPerKeyExec") {
    val df = windowTopK(data, keep = false)
    assert(plansNative(df), df.queryExecution.executedPlan.toString)
    // and semantics are unchanged vs the un-rewritten formulation
    val expected = windowTopK(data, keep = true).drop("rn")
      .as[(Long, Long, Double)].collect().toSet
    assert(df.as[(Long, Long, Double)].collect().toSet == expected)
    assert(df.count() == 40 * 5)
  }

  test("rewrite fires under an outer Sort (the presentation-order shape)") {
    val df = windowTopK(data, keep = false).orderBy($"k", $"v".desc, $"id")
    assert(plansNative(df), df.queryExecution.executedPlan.toString)
    val head = df.limit(3).as[(Long, Long, Double)].collect().toSeq
    assert(head.map(_._1) == Seq(0L, 0L, 0L)) // smallest key first, sorted
  }

  test("rank column kept in the output => NOT rewritten") {
    val s = planString(windowTopK(data, keep = true))
    assert(!s.contains("TopKPerKey"), s)
  }

  test("rank()/dense_rank() (tie-expanding) => NOT rewritten") {
    val w = Window.partitionBy($"k").orderBy($"v".desc)
    val df = data.withColumn("rn", rank().over(w)).filter($"rn" <= 5)
      .select($"k", $"id", $"v")
    val s = planString(df)
    assert(!s.contains("TopKPerKey"), s)
  }

  test("rn = 1 (the latest-per-key idiom) rewrites with k = 1") {
    val w = Window.partitionBy($"k").orderBy($"v".desc, $"id".asc)
    val df = data.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"k", $"id", $"v")
    assert(plansNative(df), df.queryExecution.executedPlan.toString)
    assert(df.count() == 40)
  }
}
