package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import graft.Tables
import graft.acid.GraftTable

/** One `GraftTable` over `lineitem`, cut into `slices` fixed
  * `l_orderkey` ranges of [0, maxKey). A pass, on a fresh table root:
  *
  *   for each slice i: append slice i, read a snapshot;
  *     after every odd slice (merge m = i / 2): keyed merge raising
  *     `l_quantity` by 100 * (m + 1) on slices i-1 and i where
  *     `l_orderkey % 4 == m % 4`, read; deletion-vector delete of
  *     `l_linenumber = 1 and l_orderkey % 7 == m % 7`, read;
  *   one reopen: a fresh handle's first snapshot, which replays the log.
  *
  * Every GraftTable call is one op. The log of commits (kind, argument,
  * version) and each version's row count and quantity sum go to the
  * checker, which replays the same steps in DuckDB. */
final class CommitWorkload(run: Runner, data: String, work: File, slices: Int,
                           maxKey: Long) extends Workload {
  private val spark = run.spark
  private lazy val lineitem = Tables.lineitem(spark, data)
  private def lo(i: Int): Long = maxKey * i / slices
  private def slice(i: Int): DataFrame =
    lineitem.filter(col("l_orderkey") >= lo(i) && col("l_orderkey") < lo(i + 1))

  private val keys = Seq("l_orderkey", "l_linenumber")
  private var root: File = _
  private val commits = mutable.ArrayBuffer.empty[(String, Int, Long)]
  private val reads = mutable.ArrayBuffer.empty[(Long, Long, Double)]

  private def table(): GraftTable =
    new GraftTable(spark, root.getAbsolutePath, statsCol = Some("l_orderkey"))

  private def totals(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), sum("l_quantity")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  private def commit(kind: String, arg: Int)(call: => Long): Unit =
    run.op(s"$kind:$arg") {
      val v = run.tracer.layer(s"acid.$kind")(call)
      commits += ((kind, arg, v))
    }

  private def read(t: GraftTable, layer: String = "acid.snapshot"): Unit =
    run.op(layer.stripPrefix("acid.")) {
      val (n, q) = run.tracer.layer(layer)(totals(t.snapshot()))
      reads += ((commits.last._3, n, q))
    }

  def pass(p: Int): Unit = {
    root = new File(work, s"commits/pass$p")
    commits.clear()
    reads.clear()
    val t = table()
    (0 until slices).foreach { i =>
      commit("append", i)(t.append(slice(i)))
      read(t)
      if (i % 2 == 1) {
        val m = i / 2
        val updates = lineitem
          .filter(col("l_orderkey") >= lo(i - 1) && col("l_orderkey") < lo(i + 1) &&
            pmod(col("l_orderkey"), lit(4L)) === m % 4)
          .withColumn("l_quantity", col("l_quantity") + 100.0 * (m + 1))
        commit("merge", m)(t.merge(updates, keys, Seq(col("l_quantity").desc)))
        read(t)
        commit("delete", m)(t.delete(
          col("l_linenumber") === 1 && pmod(col("l_orderkey"), lit(7L)) === m % 7))
        read(t)
      }
    }
    read(table(), "acid.reopen")
  }

  private def bytesUnder(dir: Path, keep: Path => Boolean): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum
      finally s.close()
    }

  def dump(out: File): Unit = {
    out.mkdirs()
    val t = table()
    val versions = t.versions.map { v =>
      val (n, q) = totals(t.snapshot(Some(v)))
      s"[$v, $n, ${Json.num(q)}]"
    }
    val json = Json.obj(Seq(
      "slices" -> slices.toString,
      "max_key" -> maxKey.toString,
      "commits" -> commits.map { case (k, a, v) => s"[${Json.str(k)}, $a, $v]" }.mkString("[", ", ", "]"),
      "reads" -> reads.map { case (v, n, q) => s"[$v, $n, ${Json.num(q)}]" }.mkString("[", ", ", "]"),
      "versions" -> versions.mkString("[", ", ", "]")))
    Files.write(new File(out, "commits.json").toPath, json.getBytes(UTF_8))
  }

  override def layerMetrics: Map[String, Double] = {
    val t = table()
    val rootPath = root.toPath
    val livePaths = t.filesDF().select("path").collect().map(_.getString(0))
    val liveBytes = livePaths.map { p =>
      val f = new File(p)
      Files.size(if (f.isAbsolute) f.toPath else rootPath.resolve(p))
    }.sum.toDouble
    val logDir = rootPath.resolve("_log")
    val dataBytes = bytesUnder(rootPath, f => !f.startsWith(logDir) && f.toString.endsWith(".parquet"))
    Map(
      "acid.append_ms" -> run.tracer.layerMeanMs("acid.append"),
      "acid.merge_ms" -> run.tracer.layerMeanMs("acid.merge"),
      "acid.delete_ms" -> run.tracer.layerMeanMs("acid.delete"),
      "acid.snapshot_ms" -> run.tracer.layerMeanMs("acid.snapshot"),
      "acid.reopen_ms" -> run.tracer.layerMeanMs("acid.reopen"),
      "acid.log_bytes" -> bytesUnder(logDir, _ => true).toDouble,
      "acid.live_files" -> livePaths.length.toDouble,
      "acid.live_bytes" -> liveBytes,
      "acid.write_amplification" -> (if (liveBytes == 0) 0.0 else dataBytes / liveBytes))
  }
}
