package graft.metrics

import graft.{SparkSpec, Tables}

class MetricsReportSpec extends SparkSpec {

  /** Install a report on the shared session for `body` only: a report
    * left installed would keep counting every later suite's jobs. */
  private def withReport[A](body: MetricsReport => A): A = {
    val m = MetricsReport.install(spark)
    try body(m) finally spark.sparkContext.removeSparkListener(m)
  }

  test("listener collects job/task/shuffle counters and renders stably") {
    // run a job with a real shuffle so the exchange counters move; the
    // window drains the async listener bus before the report is read
    val r = withReport { m =>
      m.window(
        Tables.orders(spark, sfDir).groupBy("o_orderstatus").count().collect())
      m.report()
    }
    assert(r.startsWith("GRAFT METRICS REPORT"))
    // fixed section order — the reference's easy-diffing contract
    val idx = Seq("== Job Configuration ==", "== Timing ==",
      "== Input / Output ==", "== Shuffle", "== Top 10 stages")
      .map(r.indexOf)
    assert(idx.forall(_ >= 0) && idx === idx.sorted, s"section order:\n$r")
    assert("jobs: (\\d+)".r.findFirstMatchIn(r).get.group(1).toInt >= 1)
    assert("tasks: (\\d+)".r.findFirstMatchIn(r).get.group(1).toInt > 0)
  }

  test("failed tasks are detected by reason type, not string rendering") {
    import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}
    // fed synthetic events directly, never installed on the bus
    val m = new MetricsReport(spark.sparkContext)
    def event(reason: org.apache.spark.TaskEndReason): SparkListenerTaskEnd =
      SparkListenerTaskEnd(0, 0, "ResultTask", reason,
        new TaskInfo(0L, 0, 0, 0, 0L, "driver", "localhost",
          TaskLocality.PROCESS_LOCAL, false),
        null, null)
    m.onTaskEnd(event(org.apache.spark.Success))
    m.onTaskEnd(event(org.apache.spark.TaskKilled("synthetic", Seq.empty,
      Seq.empty, Seq.empty)))
    m.onTaskEnd(event(org.apache.spark.UnknownReason))
    val r = m.report()
    assert(r.contains("tasks: 3 (failed 2)"), s"report:\n$r")
  }

  test("report writes to disk") {
    val path = scratchDir("mr").toString + "/metrics_report.txt"
    withReport { m =>
      m.window(Tables.nation(spark, sfDir).count())
      m.write(path)
    }
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      .contains("GRAFT METRICS REPORT"))
  }

  test("back-to-back windows on one report: each sees only its own body") {
    val (shuffled, local) = withReport { m =>
      val shuffled = m.window(
        Tables.orders(spark, sfDir).groupBy("o_orderstatus").count().collect())
      // no exchange: any shuffle counted here leaked from the window above
      val local = m.window(Tables.nation(spark, sfDir).collect())
      (shuffled, local)
    }
    assert(shuffled.shuffleWriteBytes > 0 && shuffled.shuffleWriteRecords > 0,
      s"groupBy window: $shuffled")
    assert(shuffled.jobs >= 1, s"groupBy window: $shuffled")
    assert(local.shuffleWriteBytes == 0 && local.shuffleWriteRecords == 0,
      s"scan window: $local")
    assert(local.jobs >= 1, s"scan window: $local")
  }
}
