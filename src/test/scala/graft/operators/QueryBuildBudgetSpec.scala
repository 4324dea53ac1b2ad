package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.metrics.MetricsReport

/** The build-time job budget of the benchmark's read-only query mix:
  * how many Spark jobs each query function runs while it builds its
  * DataFrame, counted by [[MetricsReport.window]] on a warm session
  * (every artifact the queries read is built, and every input table's
  * schema memoised). A build reads input metadata, not data, so it runs
  * no job — except q29's, whose AvailableNow drain of the event stream
  * runs inside the build. */
class QueryBuildBudgetSpec extends SparkSpec {

  private val queries = Seq(
    "q2_inverted_index", "q28_mr_wordcount", "q5_filter_agg",
    "q14_time_bucket", "q33_cube", "q16_text_stats", "q15_exact_dedup",
    "q22_ann_lsh", "q29_stream_time_bucket")
  private val budget = Map("q29_stream_time_bucket" -> 1L)

  test("a warm build of each query-mix query runs no Spark job but " +
      "q29's drain") {
    val fns = queries.map(q => q -> SparkEntry.queries(q))
    fns.foreach { case (_, fn) => fn(spark, sfDir).count() }
    val m = MetricsReport.install(spark)
    val jobs =
      try fns.map { case (q, fn) => q -> m.window(fn(spark, sfDir)).jobs }
      finally spark.sparkContext.removeSparkListener(m)
    val over = jobs.filter { case (q, n) => n > budget.getOrElse(q, 0L) }
    assert(over.isEmpty, s"builds over budget: $over (all: $jobs)")
  }
}
