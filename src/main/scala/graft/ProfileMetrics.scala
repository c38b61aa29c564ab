package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: run named queries (warm run first, then a measured run) and
  * print per-query physical cost — job/stage/task counts, summed task
  * time vs wall, shuffle bytes, spill, GC — so optimization targets the
  * operator that actually burns the time (guide §1.1).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.ProfileMetrics <query> [query ...]"
  */
object ProfileMetrics {
  private class Acc {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val spillB = new AtomicLong
    val inputB = new AtomicLong
    val fetchWaitMs = new AtomicLong
    def reset(): Unit = {
      Seq(taskTimeMs, gcMs, shufReadB, shufWriteB, spillB, inputB,
        fetchWaitMs).foreach(_.set(0))
      Seq(jobs, stages, tasks).foreach(_.set(0))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val named = SparkEntry.lookup(args.toSeq)
    val spark = GraftSession.create()
    val acc = new Acc
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        acc.jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        acc.stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        acc.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          acc.taskTimeMs.addAndGet(m.executorRunTime)
          acc.gcMs.addAndGet(m.jvmGCTime)
          acc.shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          acc.shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          acc.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          acc.inputB.addAndGet(m.inputMetrics.bytesRead)
          acc.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        }
      }
    })
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    println(f"${"query"}%-30s wall_s jobs stg tasks tasktime_s gc_s fetchw_s shr_MB shw_MB spill_MB in_MB")
    named.foreach { case (name, fn) =>
      // warm pass: fixtures + JIT outside the measured window
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$name warm failed: ${e.getMessage}") }
      acc.reset()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; let the tail drain before reading
        Thread.sleep(300)
        println(f"$name%-30s $wall%6.2f ${acc.jobs.get}%4d ${acc.stages.get}%3d ${acc.tasks.get}%5d " +
          f"${acc.taskTimeMs.get / 1e3}%9.2f ${acc.gcMs.get / 1e3}%4.2f ${acc.fetchWaitMs.get / 1e3}%7.2f " +
          f"${mb(acc.shufReadB.get)}%6s ${mb(acc.shufWriteB.get)}%6s ${mb(acc.spillB.get)}%8s ${mb(acc.inputB.get)}%5s")
      } catch { case e: Throwable => println(s"$name failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
