package perfbench

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.sources.ManifestTable

/** One benchmark run in one JVM: set the workload up `reps` times, make an
  * untimed warm pass, run its operations in a closed loop (one caller, each
  * call waits for its result) in whole decks for about `seconds`, then
  * write the outputs the correctness gate reads. With `--trace 1` traced decks are
  * interleaved with the untraced ones, so one process yields both the
  * untraced and the traced timings and their difference.
  *
  * Usage: Harness --workload query_mix|table_lifecycle
  *   --data DIR --work DIR --seconds S --trace 0|1 --cores N --reps R
  *   --out FILE
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val w: Workload = a("workload") match {
      case "query_mix" => new QueryMix(a("data"), a("work"))
      case "table_lifecycle" => new TableLifecycle(a("data"), a("work"), cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = new Trace(System.currentTimeMillis(), System.nanoTime())
    val out = new PrintWriter(a("out"), "UTF-8")
    import Json._

    // set-up, repeated: a cold start, then warm ones; the median is the
    // workload's set-up time
    var spark: SparkSession = null
    val setups = (1 to a("reps").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.create("perfbench", Some(s"local[$cores]"), cores)
      val t1 = System.nanoTime()
      w.warmup(spark)
      val t2 = System.nanoTime()
      w.prepare(spark)
      val t3 = System.nanoTime()
      obj("create_s" -> num((t1 - t0) / 1e9), "warmup_s" -> num((t2 - t1) / 1e9),
        "prepare_s" -> num((t3 - t2) / 1e9), "total_s" -> num((t3 - t0) / 1e9))
    }
    out.println(obj("setup" -> arr(setups), "workload" -> str(a("workload")),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0)))

    val sc = spark.sparkContext
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val plan = w.ops
    var i = 0
    val t0 = System.nanoTime()
    def runOp(phase: Phase): Unit = {
      val op = plan(i)
      val tracing = phase == Traced
      // the group names the operation in job listings; the tag, unlike the
      // group, survives into threads that set a group of their own, such
      // as a streaming query's micro-batches
      sc.setJobGroup(s"op-$i", op.name, interruptOnCancel = false)
      sc.addJobTag(s"op-$i")
      val tr = if (tracing) Some(trace) else None
      tr.foreach(w.beforeTraced(spark, op, i, _))
      val c = cpu.getProcessCpuTime
      val s = System.nanoTime()
      val (err, extra) =
        try (None, tr.fold(w.run(spark, op, i, tr, warm = phase == Warm))(
          _.span(i, "op")(w.run(spark, op, i, tr, warm = false))))
        catch { case NonFatal(e) =>
          (Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), Seq.empty) }
      val e = System.nanoTime()
      val c1 = cpu.getProcessCpuTime
      sc.clearJobGroup()
      sc.removeJobTag(s"op-$i")
      val fields = Seq("op" -> num(i), "kind" -> str(op.kind), "name" -> str(op.name),
        "start_s" -> num((s - t0) / 1e9), "wall_s" -> num((e - s) / 1e9),
        "cpu_s" -> num((c1 - c) / 1e9),
        "phase" -> str(phase.toString.toLowerCase),
        "error" -> err.fold("null")(str)) ++ extra ++
        (if (tracing) w.afterTraced(spark, op, i, trace) else Seq.empty)
      out.println(obj("opdone" -> obj(fields: _*)))
      out.flush()
      i += 1
    }
    def deck(phase: Phase): Unit =
      (1 to w.deck).foreach(_ => if (i < plan.size) runOp(phase))
    // The first deck is untimed: it warms the JIT on the real inputs and
    // leaves the outputs the correctness gate reads. The window is then
    // whole decks, so every run measures the same mix, until `seconds` have
    // passed: at least two, since a first timed deck is still slower
    // than later ones and a slow host would otherwise measure only that
    // one, and at most three. A traced run interleaves as many traced
    // decks, in the order U T T U U T ..., so the two see the same drift of
    // JIT and table state.
    val (minDecks, maxDecks) = (2, 3)
    deck(Warm)
    if (traced) sc.addSparkListener(trace.listener)
    val w0 = System.nanoTime()
    val budget = a("seconds").toDouble * (if (traced) 2 else 1)
    var k = 0
    while (k < minDecks || (k < maxDecks && (System.nanoTime() - w0) / 1e9 < budget)) {
      k += 1
      if (traced && k % 2 == 0) deck(Traced)
      deck(Untraced)
      if (traced && k % 2 == 1) deck(Traced)
    }
    out.println(obj("exhausted" -> (if (i >= plan.size) "true" else "false")))

    // outputs for the correctness gate; not timed
    sc.setJobGroup("check", "correctness outputs", interruptOnCancel = false)
    out.println(obj("check" -> obj(w.finish(spark): _*)))
    // stopping drains the listener bus, so every job and task event of the
    // traced window has been delivered before the trace is written
    spark.stop()
    if (traced) trace.writeJson(out)
    out.close()
  }
}

final case class Op(kind: String, name: String, args: Seq[String] = Nil)

sealed trait Phase
case object Warm extends Phase
case object Untraced extends Phase
case object Traced extends Phase

/** A workload: its warm-up and set-up, its operation plan (whole decks of
  * `deck` operations) and the outputs it leaves for the correctness gate. */
abstract class Workload {
  def deck: Int
  def ops: IndexedSeq[Op]
  def warmup(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit
  /** Run one operation; returns extra fields for its record. `warm` marks
    * the untimed first deck, whose outputs the correctness gate reads. */
  def run(spark: SparkSession, op: Op, i: Int, t: Option[Trace],
          warm: Boolean): Seq[(String, String)]
  /** Untimed per-operation records taken only when tracing. */
  def beforeTraced(spark: SparkSession, op: Op, i: Int, t: Trace): Unit = ()
  def afterTraced(spark: SparkSession, op: Op, i: Int,
                  t: Trace): Seq[(String, String)] = Seq.empty
  def finish(spark: SparkSession): Seq[(String, String)]

  protected def span[T](t: Option[Trace], i: Int, name: String)(body: => T): T =
    t.fold(body)(_.span(i, name)(body))
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  protected def lines(path: String): IndexedSeq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toIndexedSeq
    finally src.close()
  }
}

/** Read-only SparkEntry queries over the seeded tables: each call builds
  * the DataFrame (the query function, which may run eager jobs of its
  * own) and executes it into the `noop` sink. */
final class QueryMix(data: String, work: String) extends Workload {
  private val plan = lines(s"$data/plan.tsv")
  val deck: Int = plan.head.head.toInt
  val ops: IndexedSeq[Op] = plan.tail.map(r => Op("query", r(0)))
  private def fn(name: String) = SparkEntry.queries(name)

  def warmup(spark: SparkSession): Unit =
    Seq("q5_filter_agg", "q7_join_agg").foreach(q => noop(fn(q)(spark, s"$data/warm")))
  /** Materialize the session's artifacts the queries read (the engine
    * builds each once per session; every consumer then reads it). */
  def prepare(spark: SparkSession): Unit = {
    import graft.operators.{DedupQueries, TextQueries}
    Seq(TextQueries.docFeatures _, DedupQueries.spanFeatures _)
      .foreach(build => noop(build(spark, data)))
  }
  /** The untimed first deck writes each query's result for the
    * correctness gate; timed calls execute into the `noop` sink. */
  def run(spark: SparkSession, op: Op, i: Int, t: Option[Trace],
          warm: Boolean): Seq[(String, String)] = {
    val b0 = System.nanoTime()
    val df = span(t, i, "operators.build")(fn(op.name)(spark, data))
    val b1 = System.nanoTime()
    if (warm) df.write.mode("overwrite").parquet(s"$work/results/${op.name}")
    else span(t, i, "exec.noop")(noop(df))
    Seq("build_s" -> Json.num((b1 - b0) / 1e9))
  }
  def finish(spark: SparkSession): Seq[(String, String)] = {
    val oracle = ops.take(deck).map(_.name).distinct.sorted
      .map(q => q -> Json.str(SparkEntry.oracleSql.getOrElse(q, "")))
    Seq("results" -> Json.str(s"$work/results"), "oracle" -> Json.obj(oracle: _*))
  }
}

/** Writes beside reads on one ManifestTable: seeded from the base table at
  * set-up, then the seeded operation stream of `ops.tsv`. */
final class TableLifecycle(data: String, work: String, cores: Int) extends Workload {
  private val Key = "lkey"
  private val Retain = 8
  val deck = 20
  val ops: IndexedSeq[Op] = lines(s"$data/ops.tsv").map(r => Op(r(0), r(0), r.tail.toSeq))
  private var root = ""
  private var tables = 0

  /** A fresh table at a new root, seeded from `dir/base.parquet`. */
  private def seed(spark: SparkSession, dir: String): String = {
    tables += 1
    val r = s"$work/table-$tables"
    ManifestTable.overwrite(spark, r, spark.read.parquet(s"$dir/base.parquet"),
      boundsCol = Some(Key))
    r
  }
  def warmup(spark: SparkSession): Unit =
    noop(ManifestTable.read(spark, seed(spark, s"$data/warm")))
  def prepare(spark: SparkSession): Unit =
    root = seed(spark, data)

  def run(spark: SparkSession, op: Op, i: Int, t: Option[Trace],
          warm: Boolean): Seq[(String, String)] = {
    def sp[T](name: String)(body: => T): T = span(t, i, s"sources.$name")(body)
    def parquet(f: String) = spark.read.parquet(s"$data/$f")
    def read(df: => DataFrame): Unit =
      sp(op.kind) { val d = df; span(t, i, "exec.noop")(noop(d)) }
    op.kind match {
      case "read_pruned" =>
        read(ManifestTable.readWhereKeyBetween(spark, root, Key,
          op.args(0).toLong, op.args(1).toLong))
      case "read_full" => read(ManifestTable.read(spark, root))
      case "read_at" =>
        read {
          val vs = ManifestTable.versions(spark, root)
          ManifestTable.readAt(spark, root, vs(math.max(0, vs.size - 1 - op.args(0).toInt)))
        }
      case "append" =>
        sp("append")(ManifestTable.append(spark, root, parquet(op.args(0)),
          boundsCol = Some(Key)))
      case "merge" =>
        sp("merge")(ManifestTable.mergeCoW(spark, root, Key,
          parquet(op.args(1)), parquet(op.args(0))))
      case "delete" =>
        sp("delete")(ManifestTable.deleteWhereKeyIn(spark, root, Key, parquet(op.args(0))))
      case "optimize" =>
        sp("optimize")(ManifestTable.optimize(spark, root, Key, cores))
        sp("vacuum")(ManifestTable.vacuum(spark, root, retain = Retain))
    }
    Seq("version" -> Json.num(ManifestTable.currentVersion(spark, root).getOrElse(0)))
  }

  /** Resolve cost (a timed currentVersion + snapshot, the steps every
    * table entry point repeats) and the files each operation added and
    * removed, read from the manifests around it, outside its timed
    * region. */
  private var before: Set[String] = Set.empty
  private def files(spark: SparkSession): Set[String] = {
    val s = ManifestTable.snapshot(spark, root, ManifestTable.currentVersion(spark, root))
    (s.files ++ s.deleteFiles).toSet
  }
  private def bytes(fs: Iterable[String]): Long =
    fs.iterator.map(f => new File(new org.apache.hadoop.fs.Path(f).toUri.getPath).length).sum
  override def beforeTraced(spark: SparkSession, op: Op, i: Int, t: Trace): Unit =
    before = t.span(i, "sources.resolve")(files(spark))
  override def afterTraced(spark: SparkSession, op: Op, i: Int,
                           t: Trace): Seq[(String, String)] = {
    val now = files(spark)
    val added = now -- before
    import Json._
    Seq("files_added" -> num(added.size), "files_removed" -> num((before -- now).size),
      "bytes_written" -> num(bytes(added)))
  }

  def finish(spark: SparkSession): Seq[(String, String)] = {
    import Json._
    val vs = ManifestTable.versions(spark, root)
    val tt = vs(math.max(0, vs.size - 4))
    ManifestTable.read(spark, root).write.mode("overwrite").parquet(s"$work/check/final")
    ManifestTable.readAt(spark, root, tt).write.mode("overwrite").parquet(s"$work/check/tt")
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum) else f.length
    val live = bytes(files(spark))
    Seq("final" -> str(s"$work/check/final"), "tt" -> str(s"$work/check/tt"),
      "tt_version" -> num(tt), "versions" -> arr(vs.map(num)),
      "root_bytes" -> num(du(new File(root))), "snapshot_bytes" -> num(live))
  }
}
