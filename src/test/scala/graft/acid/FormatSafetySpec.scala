package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** Format safety rails around the commit log. The reader reads the one
  * format generation its writer writes:
  *
  *  - every manifest ends in the `# ok` terminator, every bloom sidecar
  *    carries the `# scheme=long` header (integral columns pre-widened
  *    to long, matching the long-hashing probe), every manifest header
  *    states `kind=`, `nf=`, `ts=` and `dvn=`, every entry records `fz=`
  *    and every parquet checkpoint meta states `ns=`;
  *  - a log artifact missing one of those is refused loudly, naming the
  *    table — read with today's meaning it could skip files that hold
  *    matching rows or understate the deletion-vector debt;
  *  - `require=` feature gates and the live-DV-sidecar bound hold.
  */
class FormatSafetySpec extends SparkSpec {
  import spark.implicits._

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Strip the `# scheme=...` header from every bloom sidecar under
    * `root`, simulating a table written by the pre-widening build. */
  private def stripBloomSchemes(root: String): Unit = {
    val f = fs(root)
    f.listStatus(new Path(root, "_log")).filter(_.getPath.getName.endsWith(".blooms"))
      .foreach { st =>
        val in = f.open(st.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        val out = f.create(st.getPath, true)
        try out.write(lines.filterNot(_.startsWith("# scheme"))
          .mkString("\n").getBytes(UTF_8))
        finally out.close()
      }
  }

  test("pre-widening hashed blooms over an INT column never skip; tagged ones prune") {
    val root = graft.TempDirs.create("graft_bloomscheme_int")
    val t = new GraftTable(spark, root, bloomCol = Some("id"))
    (0 until 3).foreach { s =>
      t.append((0 until 900).collect {
        case i if i % 3 == s => (i, s"v$i") // id is INT — the widening case
      }.toDF("id", "name"))
    }
    val all = t.activeFiles(t.latestVersion.get).size
    // fresh sidecars carry `# scheme=long`: the probe prunes
    assert(t.filesForPoint(300L).size < all, "scheme-tagged bloom should prune")
    assert(t.snapshotPoint(300L).count() == 1L)
    // a pre-fix table (same bits, header stripped) is refused, never
    // probed: its hashInt-era bits could skip the file holding the row
    stripBloomSchemes(root)
    val t2 = new GraftTable(spark, root, bloomCol = Some("id"))
    val e = intercept[IllegalStateException](t2.filesForPoint(300L))
    assert(e.getMessage.contains(root), e.getMessage)
  }

  private def rewriteManifest(root: String, v: Long)(f: String => String): Unit = {
    val mp = new Path(s"$root/_log/v${"%020d".format(v)}.manifest")
    val txt = manifestText(root, v)
    fs(root).delete(mp, false)
    val out = fs(root).create(mp, false)
    try out.write(f(txt).getBytes(UTF_8)) finally out.close()
  }

  /** Vacuum `root` to its latest version, which checkpoints it as parquet,
    * then rewrite that checkpoint into the retired single-directory form:
    * its one shard dir moves to `v<n>.checkpoint.parquet` and the meta
    * loses `ns=`, `maxord=`, the `pcps` gate and its shard lines. */
  private def classicCheckpoint(root: String): Unit = {
    val cp = graft.GraftSession.cloneFor(spark, "format-safety-parquet-cp")(
      _.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1"))
    val t = GraftTable.load(cp, root)
    t.vacuum(retain = 1)
    val log = s"$root/_log/v${"%020d".format(t.latestVersion.get)}"
    val f = fs(root)
    val meta = new Path(s"$log.pcp")
    val lines = {
      val in = f.open(meta)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    lines.filter(_.startsWith("s\t")).foreach(l =>
      f.rename(new Path(s"$root/_log/${l.split('\t')(2)}"),
        new Path(s"$log.checkpoint.parquet")))
    f.delete(meta, false)
    val out = f.create(meta, false)
    try out.write(lines.filterNot(_.startsWith("s\t")).map(l =>
      if (!l.startsWith("# checkpoint")) l
      else l.replaceAll(" (ns|maxord)=\\d+", "").replace(",pcps", ""))
      .mkString("\n").getBytes(UTF_8))
    finally out.close()
  }

  test("log shapes no writer produces are refused loudly, naming the table") {
    // each case: build a table, rewrite one artifact into a retired
    // shape, then run the operation that would read it with today's
    // meaning — a fresh handle, so no cache hides the rewrite
    val cases: Seq[(String, String => Unit, GraftTable => Any)] = Seq(
      // v1 without the `# ok` terminator (and without kind=), with v2
      // committed on top: only a torn write looks like this
      ("terminator-less manifest", root => rewriteManifest(root, 1L)(txt =>
        txt.linesIterator.filterNot(_ == "# ok")
          .map(_.replace(" kind=delta", "").replaceFirst("^\\+\t", ""))
          .mkString("\n")),
        t => t.snapshot().count()),
      // a bloom sidecar without `# scheme=long`: hashInt-era bits
      ("header-less bloom sidecar", root => stripBloomSchemes(root),
        t => t.snapshotPoint(7L).count()),
      // a manifest header without dvn=: the delta-first DV arithmetic
      // would seed the masked-row debt at 0
      ("dvn-less DV header", root => rewriteManifest(root, 2L)(txt =>
        txt.linesIterator.map(l =>
          if (l.startsWith("# op=")) l.replaceAll(" dvn=\\d+", "")
            .replaceAll(" dvsv=[\\d,]+", "")
          else l).mkString("\n")),
        t => t.delete(col("id") === 7L)),
      // a manifest header without nf=: the delta-first count arithmetic
      // would seed the next commit's nf= at 0 and poison the next
      // checkpoint's completeness gate
      ("nf-less header", root => rewriteManifest(root, 2L)(txt =>
        txt.linesIterator.map(l =>
          if (l.startsWith("# op=")) l.replaceAll(" nf=\\d+", "") else l)
          .mkString("\n")),
        t => t.snapshot().count()),
      // the retired single-directory parquet checkpoint: a `.pcp` meta
      // without ns= or shard lines over `v<n>.checkpoint.parquet`, with
      // the chain below it vacuumed
      ("classic parquet checkpoint", root => classicCheckpoint(root),
        t => t.snapshot().count()),
      // an entry line without its fz= byte length
      ("entry without fz=", root => rewriteManifest(root, 1L)(
        _.replaceAll("\tfz=\\d+", "")),
        t => t.snapshot().count()))
    cases.foreach { case (shape, retire, op) =>
      val root = graft.TempDirs.create("graft_retired")
      val t = new GraftTable(spark, root, bloomCol = Some("id"))
      t.append((1 until 100).map(i => (i, s"v$i")).toDF("id", "name"))
      t.append((100 until 200).map(i => (i, s"v$i")).toDF("id", "name"))
      retire(root)
      val e = intercept[IllegalStateException](op(GraftTable.load(spark, root)))
      assert(e.getMessage.contains(root), s"$shape: ${e.getMessage}")
    }
  }

  private def manifestText(root: String, v: Long): String = {
    val f = fs(root)
    val in = f.open(new Path(s"$root/_log/v${"%020d".format(v)}.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("commits stamp require= for the gated features their entries use") {
    val root = graft.TempDirs.create("graft_featstamp")
    val t = new GraftTable(spark, root, bloomCol = Some("id"))
    t.append((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val h1 = manifestText(root, 1L).linesIterator.next()
    assert(h1.contains("require=") && h1.contains("bf"),
      s"bloom-sidecar commit must gate bf: $h1")
    t.delete(col("id") === 5L) // DV commit re-states the masked entry
    val h2 = manifestText(root, 2L).linesIterator.next()
    assert(h2.contains("dv"), s"DV commit must gate dv: $h2")
    // this build supports all its own features: reads stay green
    assert(t.snapshot().count() == 49L)
  }

  test("a manifest requiring an unknown feature is refused loudly") {
    val root = graft.TempDirs.create("graft_featgate")
    val t = new GraftTable(spark, root)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // hand-write v2 as a complete delta manifest requiring a feature
    // this build does not know — tags carry semantics, so an unknowing
    // reader must REFUSE, never silently drop the tag
    val f = fs(root)
    val mp = new Path(s"$root/_log/v${"%020d".format(2)}.manifest")
    val out = f.create(mp, false)
    try out.write(
      ("# op=append ts=0 kind=delta nf=2 require=future_x\n" +
        "+\tdata/cfake/part-00000.parquet\tfx=1\tn=1\n# ok").getBytes(UTF_8))
    finally out.close()
    val t2 = new GraftTable(spark, root)
    val e = intercept[IllegalStateException](t2.snapshot().count())
    assert(e.getMessage.contains("future_x") &&
      e.getMessage.contains("upgrade"), e.getMessage)
    // versions below the gated one still time-travel
    assert(t2.snapshot(Some(1L)).count() == 1L)
  }

  test("50 scattered DV deletes leave at most 2 live dv sidecars") {
    val root = graft.TempDirs.create("graft_dvcoalesce")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    // many small files so the deletes scatter across entries
    t.append((0L until 500L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(10))
    (1L to 50L).foreach(i => t.delete(col("id") === i * 7L))
    val lv = t.latestVersion.get
    val refs = t.entries(lv).flatMap(_.dvRef).distinct
    assert(refs.size <= GraftTable.MaxDvSidecars,
      s"live dv sidecars: $refs")
    // masks stay exact through every coalesce
    assert(t.snapshot().count() == 450L)
    assert(t.snapshot().agg(sum("id")).head().getLong(0) ==
      (0L until 500L).sum - (1L to 50L).map(_ * 7L).sum)
    // a fresh handle resolves the coalesced masks from disk alone
    assert(GraftTable.load(spark, root).snapshot().count() == 450L)
  }

  test("incremental re-clone syncs only the delta; foreign destinations refuse") {
    val src = new GraftTable(spark, graft.TempDirs.create("graft_reclone_src"))
    src.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    src.delete($"id" === 5L) // DV on file 1
    val destRoot = graft.TempDirs.create("graft_reclone_dst")
    src.cloneTo(destRoot)
    val c1 = GraftTable.load(spark, destRoot)
    assert(c1.snapshot().count() == 99L)
    val firstLines = c1.entries(c1.latestVersion.get).map(_.line).toSet
    // source moves on: one appended file + one new DV in it
    src.append((101L to 200L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    src.delete($"id" === 150L)
    // RE-CLONE onto the existing destination = incremental sync
    src.cloneTo(destRoot)
    val c2 = GraftTable.load(spark, destRoot)
    assert(c2.versions == Seq(1L, 2L), "the sync is one new dest commit")
    assert(c2.snapshot().count() == 198L)
    assert(c2.snapshot().filter($"id".isin(5L, 150L)).isEmpty)
    val after = c2.entries(2L)
    // the already-synced file carried VERBATIM — same dest line, same
    // dest-v1 sidecar refs, zero per-file work
    val carried = after.map(_.line).toSet intersect firstLines
    assert(carried.nonEmpty, "unchanged files must carry over verbatim")
    // only the DELTA re-keyed: exactly the appended file references the
    // sync commit's sidecar
    assert(after.count(_.dvRef.contains(2L)) == 1,
      s"O(delta) sync: only the new file re-keys, got ${after.map(_.dvRef)}")
    assert(after.count(_.dvRef.contains(1L)) == 1,
      "the carried file keeps its original clone sidecar")
    // a destination that is NOT a clone of this source refuses loudly
    val foreign = new GraftTable(spark, graft.TempDirs.create("graft_reclone_x"))
    foreign.append(Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](src.cloneTo(foreign.root))
    assert(e.getMessage.contains("not a clone of"), e.getMessage)
  }
}
