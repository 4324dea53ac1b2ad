package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.metrics.MetricsReport
import graft.operators.ManifestQueries

/** The restartable version-tail runner: every committed version is
  * folded exactly once, a kill at any point loses no progress and a
  * resume converges to the same state, a crashed (markerless) write is
  * replayed idempotently, and old folded states vacuum without
  * breaking the cursor. */
class ManifestTailSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "text")

  /** A three-commit table with constructed row-level deltas. */
  private def buildTable(): String = {
    val root = scratchDir("graft-tail").toString + "/tbl"
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      docs.where(col("doc_id") % 7 === 0).select("doc_id"),
      docs.where(col("doc_id") % 7 === 1)
        .withColumn("text", concat(col("text"), lit(" e2"))))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      docs.where(col("doc_id") % 7 === 2).select("doc_id"),
      docs.where(col("doc_id") % 7 === 3)
        .withColumn("text", concat(col("text"), lit(" e3"))))
    root
  }

  private def freshStateDir(): String =
    scratchDir("graft-tailstate").toString +
      "/state"

  private def run(root: String, stateDir: String, max: Int): Int =
    ManifestTail.catchUp(spark, root, stateDir, maxVersions = max)(
      seed = v1 => ManifestQueries.scd2Seed(v1),
      fold = (base, changes, v) => ManifestQueries.scd2Step(base,
        graft.operators.CurationPipeline.reconcileDocChanges(changes), v))

  private def jobs(body: => Any): Long = {
    val m = MetricsReport.install(spark)
    try m.window(body).jobs
    finally spark.sparkContext.removeSparkListener(m)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    ManifestQueries.presentScd2(df).collect().map(_.toSeq).toSeq

  test("kill mid-history + resume converges; crashed write replays " +
      "idempotently; state vacuum keeps the cursor") {
    val root = buildTable()
    val st = freshStateDir()
    // simulated kill after each version: progress persists per step
    assert(run(root, st, max = 1) === 1)
    assert(ManifestTail.cursor(spark, st) === Some(1))
    assert(run(root, st, max = 1) === 1)
    assert(ManifestTail.cursor(spark, st) === Some(2))
    // a resumed call infers its resume point's schema from the footer
    // (one job of its budget)
    val resume = jobs(assert(run(root, st, max = Int.MaxValue) === 1))
    assert(resume <= 9, s"resuming one version ran $resume jobs")
    assert(ManifestTail.cursor(spark, st) === Some(3))
    val killed = rows(ManifestTail.currentState(spark, st).get)
    // a fresh uninterrupted catch-up lands on the identical state
    val st2 = freshStateDir()
    // ... and reads back every state it wrote under the schema it
    // wrote: no fold infers its base, which would cost a job apiece
    val straightJobs = jobs(assert(run(root, st2, max = Int.MaxValue) === 3))
    assert(straightJobs <= 17,
      s"catching up three versions ran $straightJobs jobs")
    val straight = rows(ManifestTail.currentState(spark, st2).get)
    assert(killed === straight,
      "killed-and-resumed tail diverged from the uninterrupted one")
    // the is_current slice is exactly the table's newest version
    val newest = ManifestTable.read(spark, root)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val current = killed.filter(_(4) == 1)
      .map(r => r.head.asInstanceOf[Long] -> r(1).asInstanceOf[String])
      .toMap
    assert(current === newest)
    // crashed-write replay: drop v3's _SUCCESS — the cursor falls back
    // and the version is redone from the same immutable inputs
    val fs = new Path(st).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$st/v3/_SUCCESS"), false)
    assert(ManifestTail.cursor(spark, st) === Some(2))
    val replay = jobs(assert(run(root, st, max = Int.MaxValue) === 1))
    assert(replay <= 9, s"replaying one version ran $replay jobs")
    assert(rows(ManifestTail.currentState(spark, st).get) === straight,
      "replayed version produced a different state")
    // caught up: another invocation is a no-op
    assert(run(root, st, max = Int.MaxValue) === 0)
    // vacuum old folds: cursor and current state survive
    assert(ManifestTail.vacuumStates(spark, st, retain = 1) === 2)
    assert(ManifestTail.cursor(spark, st) === Some(3))
    assert(rows(ManifestTail.currentState(spark, st).get) === straight)
  }
}
