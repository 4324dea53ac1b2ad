package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ManifestTable

/** The exactly-once upsert sink: a batch's rows and its txn marker
  * land in ONE atomic commit, so every replay window of foreachBatch
  * recovery (the engine re-delivers the last possibly-uncommitted
  * batch) resolves to a no-op — and the marker survives every
  * evolutionary commit, including compaction. */
class ManifestSinkSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "lang")

  test("replayed batches are no-ops at every recovery window; markers " +
      "survive append and optimize; overwrite resets them") {
    val root = scratchDir("graft-sink").toString + "/tbl"
    val app = "sink-spec"
    ManifestTable.overwrite(spark, root, docs.limit(0).repartition(1))
    val b0 = docs.where(col("doc_id") % 2 === 0)
    val b1full = docs.where(col("doc_id") % 2 === 1)
      .unionByName(b0.limit(5).withColumn("lang", lit("xx")))
    // batch 0 applies; its exact replay (crash between commit and
    // engine checkpoint) is a no-op
    assert(ManifestSink.upsertBatch(spark, root, "doc_id", app, b0, 0L))
    val vAfter0 = ManifestTable.currentVersion(spark, root)
    assert(!ManifestSink.upsertBatch(spark, root, "doc_id", app, b0, 0L))
    assert(ManifestTable.currentVersion(spark, root) === vAfter0)
    // batch 1 upserts 5 updated rows; replaying BOTH old ids is a no-op
    assert(ManifestSink.upsertBatch(spark, root, "doc_id", app,
      b1full, 1L))
    assert(!ManifestSink.upsertBatch(spark, root, "doc_id", app, b0, 0L))
    assert(!ManifestSink.upsertBatch(spark, root, "doc_id", app,
      b1full, 1L))
    assert(ManifestTable.lastTxnVersion(spark, root, app) === Some(1L))
    // last-writer-wins state
    assert(ManifestTable.read(spark, root)
      .where(col("lang") === "xx").count() === 5)
    assert(ManifestTable.read(spark, root).count() === docs.count())
    // markers survive an unrelated append and a compaction
    ManifestTable.append(spark, root,
      docs.limit(1).withColumn("doc_id", col("doc_id") + 5000000L))
    assert(ManifestTable.lastTxnVersion(spark, root, app) === Some(1L))
    ManifestTable.optimize(spark, root, "doc_id", 2)
    assert(ManifestTable.lastTxnVersion(spark, root, app) === Some(1L),
      "compaction amnesia'd the sink's cursor — a replayed batch " +
        "would double-apply")
    assert(!ManifestSink.upsertBatch(spark, root, "doc_id", app,
      b1full, 1L))
    // two writer apps keep independent cursors
    assert(ManifestSink.upsertBatch(spark, root, "doc_id", "other-app",
      docs.limit(1), 0L))
    assert(ManifestTable.lastTxnVersion(spark, root, app) === Some(1L))
    assert(ManifestTable.lastTxnVersion(spark, root, "other-app")
      === Some(0L))
    // overwrite replaces the table and resets every marker
    ManifestTable.overwrite(spark, root, docs.limit(3))
    assert(ManifestTable.lastTxnVersion(spark, root, app).isEmpty)
  }

  test("CDC apply: delete rows route to removeKeys in the same " +
      "txn-marked commit; a replayed delete batch is a no-op; an " +
      "in-batch delete+insert pair resolves to replace") {
    val root = scratchDir("graft-sink-cdc").toString +
      "/tbl"
    val app = "cdc-spec"
    ManifestTable.overwrite(spark, root, docs.limit(0).repartition(1))
    // batch 0: pure inserts
    val b0 = docs.withColumn("_change", lit("insert"))
    assert(ManifestSink.applyChangesBatch(spark, root, "doc_id", app,
      b0, 0L))
    assert(ManifestTable.read(spark, root).count() === docs.count())
    // batch 1: deletes of %3==0, applied exactly once — the replay
    // (the foreachBatch recovery window) must NOT re-merge
    val b1 = docs.where(col("doc_id") % 3 === 0)
      .withColumn("_change", lit("delete"))
    assert(ManifestSink.applyChangesBatch(spark, root, "doc_id", app,
      b1, 1L))
    val vAfter = ManifestTable.currentVersion(spark, root)
    val expect = docs.where(col("doc_id") % 3 =!= 0).count()
    assert(ManifestTable.read(spark, root).count() === expect)
    assert(!ManifestSink.applyChangesBatch(spark, root, "doc_id", app,
      b1, 1L), "a replayed delete batch re-applied")
    assert(ManifestTable.currentVersion(spark, root) === vAfter)
    assert(ManifestTable.read(spark, root).count() === expect)
    // batch 2: a delete+insert PAIR of one key (a rewrite commit's
    // carried-row shape in a change feed) = replace, not delete
    val one = docs.where(col("doc_id") % 3 =!= 0).orderBy("doc_id")
      .limit(1)
    val b2 = one.withColumn("_change", lit("delete"))
      .unionByName(one.withColumn("lang", lit("zz"))
        .withColumn("_change", lit("insert")))
    assert(ManifestSink.applyChangesBatch(spark, root, "doc_id", app,
      b2, 2L))
    assert(ManifestTable.read(spark, root).count() === expect)
    assert(ManifestTable.read(spark, root)
      .where(col("lang") === "zz").count() === 1)
  }

  test("maxVersionsPerTrigger=1 paces the tail to strictly per-commit " +
      "batches after the initial snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("graft-pace").toString
    val root = s"$base/tbl"
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drain(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) => {
          val n = b.count()
          if (n > 0) batches.synchronized { batches += n }
          ()
        })
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // the initial snapshot is ONE batch regardless of pacing...
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 === 0))
    drain()
    // ...but a catch-up across TWO commits paces to one batch each
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 3 === 1))
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 3 === 2))
    drain()
    assert(batches.toSeq === Seq(
      docs.where(col("doc_id") % 3 === 0).count(),
      docs.where(col("doc_id") % 3 === 1).count(),
      docs.where(col("doc_id") % 3 === 2).count()),
      s"pacing broke per-commit batching: $batches")
  }
}
