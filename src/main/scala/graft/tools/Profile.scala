package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}
import graft.metrics.MetricsReport

/** Profile named SparkEntry queries (dev tool) — the focused twin of
  * Bench for plan iteration, without paying the whole suite. Each query
  * is warmed once at sf0.001 (JIT, codegen), then run 3 times at the
  * target dir; the min-wall run is printed with its shuffle-write MB,
  * job count, summed job seconds and the driver gaps between jobs
  * (planning, commit-protocol fs work, manifest parsing — the part of
  * the wall no executor spends). The query function's build (the
  * DataFrame it returns, and any job it runs eagerly to get there) is
  * its own window, printed apart from the run as `build` jobs and
  * seconds; the shuffle MB sums both windows, the job and gap seconds
  * are the run's.
  *
  * `--plan` adds the planning phases of a fresh build (analyze, optimize,
  * physical plan, in ms; analyze includes any jobs the query runs while
  * it is being built, such as a sink's writes), how often the plan scans
  * parquet and explodes rows (a subtree evaluated twice is invisible in
  * wall time until the corpus is big), and the formatted physical plan.
  *
  *   SPARK_GRAFT_SF_DIR=… runMain graft.tools.Profile <query>… [--plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val showPlan = args.contains("--plan")
    val names = args.filterNot(_ == "--plan").toSeq
    require(names.nonEmpty,
      "usage: Profile <query>… [--plan] (names from SparkEntry.queries)")
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the session Bench builds, so the numbers compare with its record
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(
      appName = "graft-profile", master = Some(s"local[$cpus]"),
      shufflePartitions = cpus.toIntOption.getOrElse(32))
    val metrics = MetricsReport.install(spark)
    fns.foreach { case (name, fn) =>
      fn(spark, "/root/testdata/sf0.001").count()
      val runs = (1 to 3).map { _ =>
        lazy val df = fn(spark, sfDir)
        (metrics.window(df), metrics.window(df.count()))
      }
      def wall(r: (MetricsReport.Window, MetricsReport.Window)): Double =
        r._1.wallS + r._2.wallS
      val (b, w) = runs.minBy(wall)
      println(f"[profile] $name%-28s ${wall((b, w))}%6.2f s  " +
        f"build ${b.jobs}%2d jobs ${b.wallS}%5.2f s  " +
        f"run ${w.jobs}%3d jobs ${w.wallS}%6.2f s  " +
        f"${b.shuffleMb + w.shuffleMb}%8.2f MB shuffle  " +
        f"job ${w.jobS}%6.2f s  gap ${w.gapS}%6.2f s  " +
        s"(runs ${runs.map(r => f"${wall(r)}%.2f").mkString("/")})")
      if (showPlan) {
        val t0 = System.nanoTime()
        val qe = fn(spark, sfDir).queryExecution
        qe.analyzed
        val t1 = System.nanoTime()
        qe.optimizedPlan
        val t2 = System.nanoTime()
        qe.executedPlan
        val t3 = System.nanoTime()
        val plan = qe.executedPlan.toString
        def ms(a: Long, b: Long): Long = (b - a) / 1000000
        println(f"[profile] $name%-28s analyze=${ms(t0, t1)}%dms " +
          f"optimize=${ms(t1, t2)}%dms plan=${ms(t2, t3)}%dms  " +
          s"${"Scan parquet".r.findAllIn(plan).length} parquet scans, " +
          s"${"Generate".r.findAllIn(plan).length} generates")
        println(qe.explainString(FormattedMode))
      }
    }
    spark.stop()
  }
}
