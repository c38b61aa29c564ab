package graft

import graft.io.{GraftLocalFileSystem, GraftLocalFs, LocalFs}
import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Every main (Bench, Verify
  * and the dev tools) and the test suites start theirs here, so they all
  * run under the same confs:
  *
  *  - `local[cores]`, with shuffle partitions = cores; `cores` comes from
  *    `SPARK_GRAFT_CPUS` (default 4);
  *  - UTC and `nanosAsLong`, the oracle contract (see [[Tables.table]]);
  *  - no UI, log level ERROR (Bench's result is one JSON line read from
  *    the tail of its log, and r1 lost its head to preamble noise);
  *  - a per-JVM temp warehouse and derby home, deleted on exit, so no run
  *    leaves `spark-warehouse/` or `derby.log` in the working dir;
  *  - a 5,000-entry codegen cache (below);
  *  - graft's fork-free local filesystem ([[graft.io.LocalFs]]) for
  *    `file:` through both Hadoop APIs, so the `FileSystem` cache holds
  *    its instance from the start.
  *
  * A gate that needs a different conf or rule takes a clone of the
  * session it is handed ([[cloneFor]], or `runToMemory`'s per-stream
  * clone) and never writes to the caller's session. The named
  * exceptions are the oracle contract's UTC and `nanosAsLong`
  * ([[Tables.table]]), and [[graft.io.LocalFs.install]], which each
  * stream builder applies to the handed session's Hadoop conf so its
  * checkpoint and state files go through graft's local filesystem. */
object GraftSession {
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def create(cores: Int = cores): SparkSession = {
    val wh = TempDirs.create("graft_wh")
    System.setProperty("derby.system.home", wh)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      // STATIC conf, must be set at session creation: the generated-class
      // cache defaults to 100 entries, but the 273-query suite compiles
      // ~1500 whole-stage/expression codegen units — at 100 the cache
      // thrashes end-to-end and every timed query re-runs janino on code
      // the warm pass already compiled (measured: the warm pass cut the
      // single-pass total only 262 s -> 240 s while per-query repeats
      // inside the cache window hit 143.9 s). Sized to hold the whole
      // suite's units; the memory cost is class metadata (~KBs per
      // entry), not data. A production deployment running a 273-query
      // workload needs the same setting for the same reason — it follows
      // from the workload's shape, not from local mode.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.hadoop." + LocalFs.FileSystemKey,
        classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop." + LocalFs.AbstractFileSystemKey,
        classOf[GraftLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val clones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, Map[String, String], String), SparkSession]()

  /** A clone of `s` that `setup` prepares for one purpose, built once per
    * caller, purpose and caller conf and reused after that. A gate that
    * needs a conf or rule of its own runs on such a clone, never on the
    * session it is handed. Reuse matters: a clone runs its jobs under an
    * artifact session of its own, whose executor class loader starts
    * with an empty codegen cache, so a fresh clone per query recompiles
    * every generated class each time the query runs. Callers change no
    * conf or rule of the clone outside `setup`: the next caller with the
    * same purpose gets the same clone. */
  private[graft] def cloneFor(s: SparkSession, purpose: String)(
      setup: SparkSession => Unit): SparkSession =
    clones.computeIfAbsent((s, s.conf.getAll, purpose), { _ =>
      val c = org.apache.spark.sql.GraftPlanBridge.cloneSession(s)
      setup(c)
      c
    })

  private val derived =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** Per-JVM cached DERIVED session with [[graft.GraftExtensions]]
    * installed — the extension-injected SQL surface (TVFs, COMMIT ATOMIC,
    * INSERT … REPLACE WHERE grammar) needs a parser the caller's session
    * may lack, and a clone cannot add one. Three properties close the
    * derived-session-vs-caller environment fork (round-15 advice: the
    * fork was a live root-cause hypothesis for a driver-only gate
    * failure):
    *
    *  1. the caller's MODIFIABLE runtime confs copy onto the derived
    *     session (session timezone, shuffle partitions, ANSI flags — a
    *     fresh-default session would evaluate the same SQL under
    *     different semantics than the main one);
    *  2. ONE derived session per caller session per JVM — repeated gate
    *     invocations (verify + bench warm-ups) stop accumulating leaked
    *     session states;
    *  3. the caller is restored as active AND default session after every
    *     call — `builder().create()` flips both, and later main-session
    *     work must not resolve thread-local state against the derived one.
    */
  private[graft] def withExtensions(s: SparkSession): SparkSession = {
    val s2 = derived.computeIfAbsent(s, { _ =>
      SparkSession.builder()
        .master(s.sparkContext.master)
        .withExtensions(new graft.GraftExtensions)
        .create()
    })
    // (re-)sync the caller's confs on EVERY call, not just at creation:
    // a semantics-bearing conf set on the main session after the cached
    // derived session was born (ANSI flag, timezone, a spark.graft.*
    // knob) must reach the next derived-session query — creation-only
    // copying would reintroduce the very fork this mechanism closes.
    // isModifiable is false for UNREGISTERED keys (catalog plugs,
    // spark.graft.* engine knobs) even though set() accepts them — copy
    // those unconditionally. Keys UNSET on the caller are not unset
    // here (callers own site-local confs like their catalog roots).
    s.conf.getAll.foreach { case (k, v) =>
      val copyable = s2.conf.isModifiable(k) ||
        k.startsWith("spark.graft.") || k.startsWith("spark.sql.catalog.")
      if (copyable && !s2.conf.getOption(k).contains(v))
        try s2.conf.set(k, v)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    SparkSession.setDefaultSession(s)
    SparkSession.setActiveSession(s)
    s2
  }
}
