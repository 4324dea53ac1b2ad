package graft.api

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.metrics.MetricsReport

/** Command-line driver mirroring the reference's `MR_Run` CLI contract
  * (reference job.c:103-120: `-i/-m/-r` thread counts, input files as
  * positional args, usage message when none given; README.md:258 usage):
  *
  *   runMain graft.api.GraftCli --job wordcount|inverted --output DIR
  *       [--partitions N] [--no-combiner] [-v|--verbose] [--threads N]
  *       [--metrics FILE] input files/dirs...
  *
  * Thread-count flags map to their Spark equivalents: mappers/readers →
  * local[N] parallelism (on a cluster: executor count via spark-submit),
  * reducers → shuffle partitions. `--no-combiner` is the CLI combiner
  * kill-switch; the `MR_DISABLE_COMBINER=1` ENVIRONMENT variable is also
  * honored on any job without CLI changes, exactly the reference's
  * documented contract (job.c:209-217, value compared against "1").
  * `-v/--verbose` (job.c:112-113) prints the job configuration before the
  * run and the performance summary after it (job.c:186-192, :272-284), to
  * stderr like the reference. `--metrics` writes the metrics report file
  * the reference always produced.
  */
object GraftCli {

  case class Args(job: String = "inverted", output: String = "",
                  partitions: Int = 32, combiner: Boolean = true,
                  threads: Int = 32, metrics: Option[String] = None,
                  verbose: Boolean = false,
                  inputs: Vector[String] = Vector.empty)

  private val usage =
    """usage: GraftCli --job wordcount|inverted --output DIR
      |       [--partitions N] [--no-combiner] [-v|--verbose] [--threads N]
      |       [--metrics FILE] input files/dirs...
      |environment:
      |  MR_DISABLE_COMBINER=1    disable the combiner on any job""".stripMargin

  /** Numeric flag values go through the Left/usage protocol like every
    * other malformed input — a bare `.toInt` would escape `parse` as a
    * raw NumberFormatException stack trace. */
  private def int(flag: String, v: String): Either[String, Int] =
    v.toIntOption.toRight(s"$flag expects a number, got '$v'")

  def parse(rest: List[String], acc: Args = Args()): Either[String, Args] =
    rest match {
      case Nil => Right(acc)
      case "--job" :: v :: t        => parse(t, acc.copy(job = v))
      case "--output" :: v :: t     => parse(t, acc.copy(output = v))
      case "--partitions" :: v :: t =>
        int("--partitions", v).flatMap(n => parse(t, acc.copy(partitions = n)))
      case "--threads" :: v :: t    =>
        int("--threads", v).flatMap(n => parse(t, acc.copy(threads = n)))
      case "--no-combiner" :: t     => parse(t, acc.copy(combiner = false))
      case "--metrics" :: v :: t    => parse(t, acc.copy(metrics = Some(v)))
      case ("-v" | "--verbose") :: t => parse(t, acc.copy(verbose = true))
      // any other dash-prefixed token is a flag typo, not an input path —
      // without this, "-verbose" would silently become an input file
      case flag :: _ if flag.startsWith("-") => Left(s"unknown flag $flag")
      case path :: t => parse(t, acc.copy(inputs = acc.inputs :+ path))
    }

  /** `env` and `err` are injectable for tests; production uses the real
    * process environment and stderr (where the reference prints too). */
  def run(spark: SparkSession, a: Args,
          env: Map[String, String] = sys.env,
          err: java.io.PrintStream = System.err): Unit = {
    val base = a.job match {
      case "wordcount" => SampleJobs.wordCount
      case "inverted"  => SampleJobs.invertedIndex
      case other => throw new IllegalArgumentException(s"unknown job $other")
    }
    // reference job.c:209-217: getenv("MR_DISABLE_COMBINER"), strcmp "1"
    val envDisabled = env.get("MR_DISABLE_COMBINER").contains("1")
    val combinerOn = a.combiner && !envDisabled && base.combine.nonEmpty
    val job = base.copy(numPartitions = a.partitions,
      combine = if (combinerOn) base.combine else None)
    if (a.verbose) {
      // mirrors the reference's config block (job.c:186-192)
      err.println("MapReduce Job Configuration:")
      err.println(s"  Threads:   ${a.threads}")
      err.println(s"  Reducers:  ${a.partitions}")
      err.println(s"  Files:     ${a.inputs.size}")
      err.println(s"  Output:    ${a.output}/")
      err.println(s"  Combiner:  ${if (combinerOn) "Enabled" else "Disabled"}")
      if (envDisabled)
        err.println("  Note: Combiner disabled via MR_DISABLE_COMBINER=1")
      err.println("\nStarting MapReduce execution...")
    }
    def runJob(): Unit =
      MRJob.runToText(spark, job, MRJob.textInput(spark, a.inputs), a.output)
    val m = a.metrics.map(_ => MetricsReport.install(spark))
    try {
      val t0 = System.nanoTime()
      // the window drains the async listener bus after the job, so the
      // report counts every one of its tasks
      m match {
        case Some(rep) => rep.window(runJob())
        case None => runJob()
      }
      if (a.verbose) {
        // the reference's performance summary (job.c:272-284); CPU rusage
        // has no per-job JVM equivalent, so wall time is the shared line
        val wall = (System.nanoTime() - t0) / 1e9
        err.println("\n===== MapReduce Performance =====")
        err.println(s"Threads     : ${a.threads}")
        err.println(s"Reducers    : ${a.partitions}")
        err.println(s"Files       : ${a.inputs.size}")
        err.println(f"Wall time   : $wall%.3f sec")
        err.println(s"\nOutput: ${a.output}/part-* (${a.partitions} files)")
        err.println("====================================")
      }
      for (path <- a.metrics; rep <- m) rep.write(path)
    } finally m.foreach(spark.sparkContext.removeSparkListener)
  }

  def main(argv: Array[String]): Unit =
    parse(argv.toList, Args()) match {
      case Right(a) if a.inputs.nonEmpty && a.output.nonEmpty =>
        val spark = GraftSession.create("graft-cli",
          Some(s"local[${a.threads}]"), shufflePartitions = a.partitions)
        try run(spark, a) finally spark.stop()
      case Right(_) => System.err.println(usage); sys.exit(2)
      case Left(err) =>
        System.err.println(s"error: $err\n$usage"); sys.exit(2)
    }
}
