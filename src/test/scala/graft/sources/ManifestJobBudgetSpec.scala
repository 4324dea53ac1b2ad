package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.MetricsReport

/** The manifest lifecycle's job budget: how many Spark jobs each table
  * operation runs, counted by [[MetricsReport.window]] on a small
  * bounds-stamped table. Every input is a typed in-memory frame, so no
  * input schema-inference job is counted — what remains is the
  * engine's own plan. Outstanding equality deletes are read under
  * their declared key schema and not deduplicated, so a read under
  * deletes is the delete-key broadcast plus the scan. */
class ManifestJobBudgetSpec extends SparkSpec {

  private def jobs(body: => Any): Long = {
    val m = MetricsReport.install(spark)
    try m.window(body).jobs
    finally spark.sparkContext.removeSparkListener(m)
  }

  /** Rows `k` in [from, until) with a payload derived from the key, in
    * one partition, like a small input file (a guard's `take(1)` that
    * finds nothing runs one job per partition-scale-up round). */
  private def rows(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1)
      .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))

  private def keys(from: Long, until: Long, step: Long): DataFrame =
    spark.range(from, until, step, 1).select(col("id").as("k"))

  /** A 4-file table clustered and bounds-stamped on `k`. */
  private def table(): String = {
    val root = scratchDir("graft-jobbudget").toString + "/tbl"
    ManifestTable.overwrite(spark, root,
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      boundsCol = Some("k"))
    root
  }

  /** Run every read entry point; their job counts, in order. */
  private def reads(root: String): Seq[Long] = Seq(
    jobs(ManifestTable.read(spark, root).collect()),
    jobs(ManifestTable.readWhereKeyBetween(spark, root, "k", 10, 60)
      .collect()),
    jobs(ManifestTable.readAt(spark, root,
      ManifestTable.currentVersion(spark, root).get).collect()))

  test("reads: one job without outstanding deletes, two under them") {
    val root = table()
    val clean = reads(root)
    assert(clean.forall(_ <= 1), s"reads without deletes ran $clean jobs")
    ManifestTable.deleteWhereKeyIn(spark, root, "k", keys(0, 400, 10))
    val deleted = reads(root)
    assert(deleted.forall(_ <= 2), s"reads under deletes ran $deleted jobs")
  }

  test("append, merge and optimize budgets") {
    val root = table()
    // the interval stab, the changed-key broadcast, the rewrite
    val merge = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(5, 50, 10), rows(100, 110)))
    assert(merge <= 3, s"merge ran $merge jobs")
    ManifestTable.deleteWhereKeyIn(spark, root, "k", keys(0, 400, 10))
    // the resurrection guard (broadcast + probe), the write
    val append = jobs(ManifestTable.append(spark, root, rows(1000, 1100),
      boundsCol = Some("k")))
    assert(append <= 3, s"append under deletes ran $append jobs")
    // + the delete-key broadcast and the delete probe (broadcast and a
    // two-stage global count); the delete files carry verbatim
    val untouched = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(301, 360, 10), rows(305, 309)))
    assert(untouched <= 7, s"merge under deletes ran $untouched jobs")
    // + the consolidation write of the surviving keys (broadcast,
    // distinct, write): the merge changes delete keys 200 and 210
    val consolidating = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(201, 260, 10), rows(200, 215)))
    assert(consolidating <= 10,
      s"consolidating merge ran $consolidating jobs")
    val optimize = jobs(ManifestTable.optimize(spark, root, "k", 4))
    assert(optimize <= 4, s"optimize under deletes ran $optimize jobs")
  }
}
