package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.MetricsReport

/** The manifest lifecycle's job budget: how many Spark jobs each table
  * operation runs, counted by [[MetricsReport.window]] on a small
  * bounds-stamped table. Every input is a typed in-memory frame or a
  * parquet file read under a declared schema, so no input
  * schema-inference job is counted — what remains is the engine's own
  * plan. Outstanding equality deletes are read under
  * their declared key schema and not deduplicated, so a read under
  * deletes is the delete-key broadcast plus the scan — or the scan
  * alone when no delete file's leading-key bounds meet the kept
  * files'. */
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

  /** `df` landed as a parquet file and read back under its declared
    * schema, like a caller's key file: nullable columns (an in-memory
    * key is provably non-null, so a null guard over it plans no job),
    * no schema-inference job. */
  private def landed(df: DataFrame): DataFrame = {
    val path = scratchDir("graft-jobbudget-in").toString + "/in"
    df.write.parquet(path)
    spark.read.schema(df.schema).parquet(path)
  }

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
    // a pruned read whose kept file [1000, 1099] misses the delete
    // file's [0, 390]: no delete-key broadcast
    ManifestTable.append(spark, root, rows(1000, 1100), boundsCol = Some("k"))
    val missed = jobs(ManifestTable.readWhereKeyBetween(spark, root, "k",
      1010, 1060).collect())
    assert(missed <= 1, s"read missing every delete file ran $missed jobs")
  }

  test("delete: one job") {
    val root = table()
    // the key frame's dedup and write in one job; the null-key guard
    // reads the staged footer
    val in = landed(keys(0, 400, 10).union(keys(0, 400, 20)))
    val delete = jobs(ManifestTable.deleteWhereKeyIn(spark, root, "k", in))
    assert(delete <= 1, s"delete ran $delete jobs")
  }

  test("append, merge and optimize budgets") {
    val root = table()
    // the interval stab, the changed-key broadcast, the rewrite
    val merge = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(5, 50, 10), rows(100, 110)))
    assert(merge <= 3, s"merge ran $merge jobs")
    ManifestTable.deleteWhereKeyIn(spark, root, "k", keys(0, 400, 10))
    // the write alone: the staged file's [1000, 1099] misses the
    // delete file's [0, 390], so the resurrection guard holds unprobed
    val append = jobs(ManifestTable.append(spark, root, rows(1000, 1100),
      boundsCol = Some("k")))
    assert(append <= 1, s"bounds-disjoint append under deletes ran " +
      s"$append jobs")
    // [381, 389] meets [0, 390] and holds no deleted key: + the
    // delete-key broadcast and the semi-join probe
    val overlapping = jobs(ManifestTable.append(spark, root,
      rows(381, 390), boundsCol = Some("k")))
    assert(overlapping <= 3, s"overlapping append under deletes ran " +
      s"$overlapping jobs")
    // the stab over the changed keys left-outer joined to the delete
    // keys (their broadcast + the stab), the rewrite (one broadcast of
    // delete and changed keys + the write); the delete files carry
    // verbatim
    val untouched = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(301, 360, 10), rows(305, 309)))
    assert(untouched <= 4, s"merge under deletes ran $untouched jobs")
    // + the survivors' write (the changed-key broadcast + the write):
    // the merge changes delete keys 200 and 210
    val consolidating = jobs(ManifestTable.mergeCoW(spark, root, "k",
      keys(201, 260, 10), rows(200, 215)))
    assert(consolidating <= 6,
      s"consolidating merge ran $consolidating jobs")
    val optimize = jobs(ManifestTable.optimize(spark, root, "k", 4))
    assert(optimize <= 4, s"optimize under deletes ran $optimize jobs")
  }
}
