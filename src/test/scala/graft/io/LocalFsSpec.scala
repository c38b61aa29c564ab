package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkSpec}
import graft.tracks.{EventRaw, SnapRow, TrackStateOp}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** graft's fork-free local filesystem against Hadoop's stock one: the same
  * mode bits and link statuses call by call, the same checkpoint files
  * when a stream restarts across the two, and the install rule for
  * sessions graft did not build. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val nio = raw(new GraftRawLocalFileSystem)

  private def perms(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))
  private def unixMode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  test("setPermission sets the mode bits the stock chmod sets, on files and directories") {
    val dir = Files.createTempDirectory("graft_lfs_perm").toString
    val modes = Seq(0x100, 0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff) // 0400 .. 0777
    Seq("file", "dir").foreach { kind =>
      val Seq(a, b) = Seq("stock", "nio").map { side =>
        val p = s"$dir/$kind-$side"
        if (kind == "file") Files.createFile(Paths.get(p)) else Files.createDirectory(Paths.get(p))
        p
      }
      modes.foreach { m =>
        stock.setPermission(new Path(a), new FsPermission(m.toShort))
        nio.setPermission(new Path(b), new FsPermission(m.toShort))
        assert(perms(a) == perms(b), f"$kind mode 0$m%o")
      }
    }
    // the umask default: create and mkdirs apply it through setPermission
    stock.create(new Path(s"$dir/created-stock")).close()
    nio.create(new Path(s"$dir/created-nio")).close()
    assert(perms(s"$dir/created-stock") == perms(s"$dir/created-nio"))
    assert(stock.mkdirs(new Path(s"$dir/made-stock/x")) &&
      nio.mkdirs(new Path(s"$dir/made-nio/x")))
    assert(perms(s"$dir/made-stock/x") == perms(s"$dir/made-nio/x"))
    // a sticky directory needs the stock chmod: java.nio cannot set the bit
    Seq("sticky-stock", "sticky-nio").foreach(d => Files.createDirectory(Paths.get(s"$dir/$d")))
    stock.setPermission(new Path(s"$dir/sticky-stock"), new FsPermission(0x3ff.toShort))
    nio.setPermission(new Path(s"$dir/sticky-nio"), new FsPermission(0x3ff.toShort))
    assert((unixMode(s"$dir/sticky-nio") & 0xfff) == 0x3ff)
    assert(unixMode(s"$dir/sticky-stock") == unixMode(s"$dir/sticky-nio"))
  }

  test("getFileLinkStatus returns the stock status for files, directories, links and missing paths") {
    val dir = Files.createTempDirectory("graft_lfs_link").toString
    Files.write(Paths.get(s"$dir/file"), "x".getBytes)
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    def status(fs: RawLocalFileSystem, p: Path): Either[String, String] =
      try Right(fs.getFileLinkStatus(p).toString)
      catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for {
      name <- Seq("file", "dir", "link", "dangling", "missing")
      // the unqualified form is the one the stock readlink resolves
      p <- Seq(new Path(s"$dir/$name"), new Path(s"file:$dir/$name"))
    } assert(status(nio, p) == status(stock, p), p)
    assert(nio.getFileLinkStatus(new Path(s"$dir/link")).isSymlink)
    assert(nio.getFileLinkStatus(new Path(s"$dir/dangling")).isSymlink)
    assert(status(nio, new Path(s"$dir/missing")).isLeft)
  }

  /** A clone of the shared session whose queries resolve `file:` through
    * the `FileContext` class `cls` (the session's SQL conf overlays the
    * Hadoop conf each query gets). */
  private def onFs(cls: String): SparkSession =
    GraftSession.cloneFor(spark, s"fs:$cls")(_.conf.set(LocalFs.AbstractFileSystemKey, cls))

  private val RunId = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** (relative name, mode) of every file and directory under `root`,
    * sidecars included; names that hold a run id differ between runs. */
  private def listing(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    Files.walk(r).iterator.asScala.filter(_ != r).map { p =>
      r.relativize(p).toString -> PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
    }.filter { case (n, _) => RunId.findFirstIn(n).isEmpty }.toSeq.sorted
  }

  /** [[graft.tracks.TrackStreamingSpec]]'s two-query restart, batch 1's
    * queries on the `FileContext` class `first` and batch 2's on `second`:
    * both sinks' rows and both checkpoint listings. */
  private def restartRun(first: String, second: String)
      : (Seq[SnapRow], Seq[SnapRow], Seq[(String, String)]) = {
    val srcDir = Files.createTempDirectory("graft_lfs_src").toString
    val cks = Seq("ck1", "ck2").map(n => Files.createTempDirectory(s"graft_lfs_$n").toString)
    val sinks = Seq.fill(2)(new scala.collection.mutable.ArrayBuffer[SnapRow]())
    def ev(id: Long, ts: Long) = EventRaw(id, ts, 1L, "click", id.toDouble)
    def writeBatch(evs: Seq[EventRaw]): Unit =
      spark.createDataset(evs).repartition(1).write.mode("append").parquet(srcDir)
    def runQueries(s: SparkSession, cls: String): Unit = {
      assert(AbstractFileSystem.get(URI.create("file:///"),
        s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
          .newHadoopConf()).getClass.getName == cls)
      val src = s.readStream.schema(spark.createDataset(Seq.empty[EventRaw]).schema)
        .parquet(srcDir).as[EventRaw]
      Seq(src, src.filter(_.event_id % 2 == 0)).zip(cks).zip(sinks).map {
        case ((in, ck), sink) =>
          TrackStateOp.trackSnapshots(in).writeStream.outputMode("update")
            .option("checkpointLocation", ck).trigger(Trigger.AvailableNow())
            .foreachBatch { (df: Dataset[SnapRow], _: Long) =>
              sink.synchronized { sink ++= df.collect() }; ()
            }.start()
      }.foreach(_.awaitTermination())
    }
    writeBatch(Seq(ev(1, 10), ev(2, 20)))
    runQueries(onFs(first), first)
    writeBatch(Seq(ev(3, 30), ev(4, 40)))
    runQueries(onFs(second), second)
    def sorted(rows: Seq[SnapRow]) = rows.sortBy(r => (r.user_id, r.ver, r.tsMicros, r.event_id))
    (sorted(sinks(0).toSeq), sorted(sinks(1).toSeq),
      cks.zipWithIndex.flatMap { case (ck, i) => listing(ck).map { case (n, m) => (s"ck$i/$n", m) } })
  }

  test("a stream restarted across the stock and graft filesystems writes the same output and files") {
    val graftFs = classOf[GraftLocalFs].getName
    val one = restartRun(graftFs, graftFs)
    assert(one._1.nonEmpty && one._2.nonEmpty)
    // Hadoop's `.crc` sidecars and Spark's checksum files (`<n>.delta.crc`,
    // with a `.crc` of their own) are part of the comparison
    val names = one._3.map(_._1)
    assert(names.exists(_.endsWith("/offsets/.1.crc")) &&
      names.exists(_.endsWith("/state/0/0/2.delta.crc")) &&
      names.exists(_.endsWith("/state/0/0/.2.delta.crc.crc")), names)
    Seq((StockFs, graftFs), (graftFs, StockFs)).foreach { case (a, b) =>
      assert(restartRun(a, b) == one, s"$a then $b")
    }
  }

  test("the factory's session resolves file: to graft's filesystem through both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFs])
  }

  test("a stream builder installs graft's FileContext on a session graft did not build, and keeps a user's choice") {
    val conf = spark.sparkContext.hadoopConfiguration
    val before = conf.get(LocalFs.AbstractFileSystemKey)
    val plain = SparkSession.builder().master(spark.sparkContext.master).create()
    try {
      val events = spark.createDataset(Seq.empty[EventRaw]).schema
      def build(): Unit =
        TrackStateOp.trackSnapshots(plain.readStream.schema(events)
          .parquet(Files.createTempDirectory("graft_lfs_in").toString)
          .as[EventRaw](org.apache.spark.sql.Encoders.product[EventRaw])): Unit
      def queryConf = plain.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      // a context graft did not build names Hadoop's stock class
      conf.set(LocalFs.AbstractFileSystemKey, StockFs)
      val confs = plain.conf.getAll
      build()
      assert(AbstractFileSystem.get(URI.create("file:///"), queryConf).isInstanceOf[GraftLocalFs])
      assert(plain.conf.getAll == confs, "the session's SQL conf must not change")
      build()
      assert(conf.get(LocalFs.AbstractFileSystemKey) == classOf[GraftLocalFs].getName)
      // a class the user chose stays
      conf.set(LocalFs.AbstractFileSystemKey, "org.apache.hadoop.fs.local.RawLocalFs")
      build()
      assert(queryConf.get(LocalFs.AbstractFileSystemKey) == "org.apache.hadoop.fs.local.RawLocalFs")
    } finally {
      conf.set(LocalFs.AbstractFileSystemKey, before)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
