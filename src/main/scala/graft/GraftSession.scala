package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the reference's `MR_Run` setup phase (reference job.c:157-293):
  * thread counts → master/shuffle partitions, metrics → Spark UI/listeners.
  * AQE is on so skewed shuffles re-plan at runtime (the reference could only
  * *report* skew, metrics.c:365-421; AQE fixes it).
  */
object GraftSession {

  /** Recursive delete — the one implementation behind every tmp-dir
    * lifecycle in the engine (warehouse sweep, streaming landing dirs,
    * spec scratch dirs). NEVER recurses through a symlink: on a shared
    * box the startup sweep deletes /tmp/graft-warehouse-<dead-pid>
    * dirs, and a planted symlink by that name (isDirectory is true for
    * a link to a dir, listFiles resolves through it) would otherwise
    * turn the sweep into a delete of whatever the link points at —
    * only the link itself is removed. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** JSON string escape (backslash, quote, all control chars) — shared
    * by the Verify oracle dump and Bench's JSON line so an
    * env-controlled path with a quote can't corrupt driver-parsed
    * output. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** This process's warehouse dir (see below) — deleted on JVM exit so
    * per-pid isolation doesn't leak one artifact-table set per run into
    * /tmp (often RAM-backed tmpfs). The shutdown hook never runs on
    * SIGKILL/OOM, so startup also sweeps sibling dirs whose owning pid is
    * dead — crashed runs are reclaimed by the next one instead of
    * accumulating a full artifact-table set each in tmpfs. */
  private lazy val warehouseDir: String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val prefix = "graft-warehouse-"
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach { f =>
        // only reclaim dirs this code demonstrably created (suffix parses
        // as a pid) whose owner is dead; an unparseable name is someone
        // else's dir — leave it alone
        val deadOwner = f.getName.stripPrefix(prefix).toLongOption
          .exists(pid => !java.lang.ProcessHandle.of(pid).isPresent)
        if (deadOwner) deleteRecursively(f)
      }
    val dir = tmp.getPath + "/" + prefix +
      java.lang.ProcessHandle.current().pid()
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(new java.io.File(dir))))
    dir
  }

  /** `local[32]` in this harness; on a real cluster these settings come from
    * spark-submit and only the SQL confs below matter. */
  def create(appName: String = "graft",
             master: Option[String] = None,
             shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .withExtensions(new GraftExtensions)
    master.foreach(b.master)
    val spark = b
      // static conf: bucketed-table warehouse outside the repo tree,
      // PER-PROCESS: the artifact registry rebuilds per JVM anyway (its
      // memo is in-memory), so a shared path buys zero reuse while a
      // concurrently running second JVM (Verify + Bench overlapping)
      // would drop/rewrite tables the first one's live plans still read
      // — measured as 10 spurious test failures racing a bench run.
      // In-JVM sharing is unaffected; Artifacts enforces its own
      // in-JVM ownership guard; a shutdown hook removes the dir.
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // every input timestamp is TIMESTAMP(MICROS) without UTC
      // adjustment (FIXTURES.md); it must read as a plain session-TZ
      // timestamp, not NTZ — the whole engine (unix_micros arithmetic,
      // watermarks, the DuckDB oracle's string forms under session
      // TZ = UTC) assumes TimestampType
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // write timestamps as INT64 micros, not the deprecated INT96:
      // INT96 columns carry NO usable min/max statistics and take no
      // predicate pushdown, so every engine-written layout (the
      // Z-ordered events table above all) would lose row-group/file
      // pruning on its time dimension — measured as a full-table scan
      // where micros prune 75% (ZOrderLayout/ScaleSpec)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // zstd over the snappy default for every engine-written table:
      // measured −35-40% bytes at equal-or-better write/scan wall
      // (`git show f7c7d6f:src/main/scala/graft/tools/CodecSweep.scala`;
      // SCALING.md round-14). At 100 TB the byte
      // count IS the scan time (object-store bandwidth-bound) and the
      // replication bill; codec is transparent to every reader
      .config("spark.sql.parquet.compression.codec", "zstd")
      // FIELD-ID READS: manifest tables stamp stable column ids into
      // their parquet files (ManifestTable's field-id block); this
      // makes Spark resolve requested columns BY ID whenever the
      // requested schema carries ids — the read side of header-only
      // RENAME/DROP evolution. Inert for id-less schemas (raw
      // testdata keeps by-name resolution).
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
