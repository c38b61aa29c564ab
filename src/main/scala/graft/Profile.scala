package graft

/** Dev tool: time named queries, n passes each in one JVM — separates
  * first-touch cost (codegen/JIT/fixture writes) from warm cost.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile <n> <query> [query ...]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val n = args.head.toInt
    val named = SparkEntry.lookup(args.tail.toSeq)
    val spark = GraftSession.create()
    named.foreach { case (name, fn) =>
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
