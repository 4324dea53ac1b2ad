package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** EXACTLY-ONCE STREAMING UPSERT into a manifest table — the write
  * side of the manifest streaming story (the source tails commits;
  * this PRODUCES them from a stream). `foreachBatch` gives
  * at-least-once batch delivery: on recovery the engine replays the
  * last possibly-uncommitted batch, so a naive sink double-applies it.
  * The fix is Delta's transactional-writer protocol, carried by the
  * manifest format's `#txn-<appId>=<version>` header
  * ([[ManifestTable.lastTxnVersion]]): each batch commits through ONE
  * [[ManifestTable.mergeCoW]] whose manifest rename atomically lands
  * BOTH the rows and the batch-id marker — a replayed batch reads the
  * marker at or past its own id and becomes a no-op. Kill the query
  * anywhere (before the merge, between merge and engine checkpoint,
  * after both) and the table still applies every batch exactly once.
  *
  * Why it matters at 100 TB: this is continuous ingestion with UPSERT
  * semantics (CDC apply, late-correction feeds) where the engine's
  * append-only file sink can't express replacement — and the merge is
  * the bounds-pruned CoW (delta-sized interval stabbing from the
  * manifest, only files holding changed keys rewritten), so per-batch
  * cost scales with the batch, not the table.
  *
  * Bootstrap: the caller creates the table once (overwrite — even a
  * zero-row seed works: `emptyBatch.repartition(1)` stages one
  * schema-bearing file) BEFORE starting the stream; overwrite is also
  * the one operation that resets writer markers (it replaces the
  * table outright).
  */
object ManifestSink {

  /** Apply one micro-batch idempotently; true = applied, false =
    * replay of an already-committed batch (no-op). */
  def upsertBatch(spark: SparkSession, root: String, keyCol: String,
                  appId: String, batch: DataFrame,
                  batchId: Long): Boolean = {
    val last = ManifestTable.lastTxnVersion(spark, root, appId)
    if (last.exists(_ >= batchId)) false
    else {
      ManifestTable.mergeCoW(spark, root, keyCol,
        removeKeys = batch.select(keyCol).limit(0),
        upserts = batch,
        txn = Some((appId, batchId)))
      true
    }
  }

  /** The `foreachBatch` function for a keyed upsert stream into
    * `root`. Usage:
    * {{{
    *   df.writeStream.foreachBatch(
    *     ManifestSink.upsertInto(spark, root, "event_id", "my-app"))
    * }}} */
  def upsertInto(spark: SparkSession, root: String, keyCol: String,
                 appId: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         Long) => Unit =
    (batch, batchId) => {
      upsertBatch(spark, root, keyCol, appId, batch.toDF(), batchId)
      ()
    }

  /** Apply one CHANGE-DATA micro-batch idempotently — the delete-
    * bearing twin of [[upsertBatch]], closing the CDC loop the
    * manifest change feed opens (q170 EMITS deletes; this APPLIES
    * them). Rows tagged `'delete'` in `changeCol` contribute their key
    * to the merge's `removeKeys`; every other row is an upsert (the
    * tag column dropped). Both land through ONE [[ManifestTable
    * .mergeCoW]] commit carrying the batch-id txn marker, so the whole
    * batch — deletes included — is exactly-once: a replayed batch sees
    * its marker and is a no-op, and within a batch an upsert of a key
    * also tagged delete wins (replace semantics — exactly how a
    * rewrite commit's carried rows arrive as delete+insert pairs, so
    * file-granularity CDF reconciles by construction). Feed with
    * `maxVersionsPerTrigger = 1` for strict cross-commit ordering
    * (see [[ManifestStreamSource]]). */
  def applyChangesBatch(spark: SparkSession, root: String, keyCol: String,
                        appId: String, batch: DataFrame, batchId: Long,
                        changeCol: String = "_change"): Boolean = {
    val last = ManifestTable.lastTxnVersion(spark, root, appId)
    if (last.exists(_ >= batchId)) false
    else {
      ManifestTable.mergeCoW(spark, root, keyCol,
        removeKeys = batch.where(col(changeCol) === "delete")
          .select(keyCol),
        upserts = batch.where(col(changeCol) =!= "delete")
          .drop(changeCol),
        txn = Some((appId, batchId)))
      true
    }
  }

  /** [[applyChangesBatch]] as a `foreachBatch` function. */
  def applyChangesInto(spark: SparkSession, root: String, keyCol: String,
                       appId: String)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         Long) => Unit =
    (batch, batchId) => {
      applyChangesBatch(spark, root, keyCol, appId, batch.toDF(), batchId)
      ()
    }

  /** Q176: THE CDC LOOP CLOSED — a manifest table's change feed
    * drained into a SECOND manifest table through the exactly-once
    * delete-bearing sink, hash-gated. The source takes four commits
    * (snapshot, append, merge-on-read equality delete, and a CoW merge
    * that removes live keys AND resurrects deleted ones — delete
    * sequencing in the feed's own history); after EACH commit a fresh
    * process drains the CDF stream (`maxVersionsPerTrigger = 1`, so
    * batches are per-commit) through [[applyChangesInto]]. After the
    * final drain, a whole re-drain against the same checkpoint AND a
    * force-replay of the last (delete-bearing) batch must both be
    * no-ops. The gate asserts mirror ≡ source row-for-row, then emits
    * the mirror's aggregate — which the oracle recomputes from the
    * commit rules, so a dropped delete, a double-applied batch, or a
    * missed resurrection is hash-fatal. */
  def q176CdcApplySink(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.Artifacts.freshRoot(spark, sfDir, "manifest_cdcapply_")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val appId = "q176-cdc-apply"
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    def drainOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", src)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch(applyChangesInto(spark, dst, "doc_id", appId))
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // bootstrap the mirror (schema-bearing zero-row seed)
    ManifestTable.overwrite(spark, dst, docs.limit(0).repartition(1))
    // commit 1: the snapshot (bounds-stamped, clustered)
    ManifestTable.overwrite(spark, src,
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    drainOnce()
    // commit 2: append the rest
    ManifestTable.append(spark, src,
      docs.where(pmod(col("doc_id"), lit(5)) === 0),
      boundsCol = Some("doc_id"))
    drainOnce()
    // commit 3: merge-on-read equality delete
    ManifestTable.deleteWhereKeyIn(spark, src, "doc_id",
      docs.where(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
    drainOnce()
    // commit 4: a CoW merge over the outstanding deletes — removes
    // live keys (%13, minus the upsert set) and UPSERTS %11 keys
    // (resurrecting the deleted ones among them)
    ManifestTable.mergeCoW(spark, src, "doc_id",
      removeKeys = docs.where(pmod(col("doc_id"), lit(13)) === 0 &&
        pmod(col("doc_id"), lit(11)) =!= 0).select("doc_id"),
      upserts = docs.where(pmod(col("doc_id"), lit(11)) === 0)
        .withColumn("lang", concat(col("lang"), lit("_x"))))
    drainOnce()
    // replay safety, both layers
    val vBefore = ManifestTable.currentVersion(spark, dst)
    drainOnce()
    val lastBatch = ManifestTable.lastTxnVersion(spark, dst, appId)
      .getOrElse(0L)
    val replayed = applyChangesBatch(spark, dst, "doc_id", appId,
      ManifestTable.readChangesBetween(spark, src, 3, 4), lastBatch)
    require(!replayed &&
      ManifestTable.currentVersion(spark, dst) == vBefore,
      "a replayed CDC batch re-applied — the txn marker failed")
    // the mirror IS the source, row for row — ONE multiset-equality
    // probe (signed per-row counts summing to zero everywhere) instead
    // of the prior four count jobs (union-distinct + distinct + two
    // counts); strictly stronger, and empty exactly when the tables
    // are equal as multisets
    val srcRows = ManifestTable.read(spark, src)
    val dstRows = ManifestTable.read(spark, dst)
    val drift = srcRows.withColumn("_s", lit(1L))
      .unionByName(dstRows.withColumn("_s", lit(-1L)))
      .groupBy(srcRows.columns.map(col).toSeq: _*)
      .agg(sum(col("_s")).as("_d"))
      .where(col("_d") =!= 0).take(1)
    require(drift.isEmpty, "mirror drifted from source")
    dstRows.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("lang")
  }

  /** Q171: the exactly-once upsert sink end to end, hash-gated —
    * events stream in as three landing files (one micro-batch each,
    * the query RESTARTED between landings), where batch 2 and batch 3
    * also carry UPDATED rows for earlier keys (+100 cents for
    * event_id ≡ 0 (mod 5) in the prior slice). Each batch lands
    * through one CoW merge carrying its batch-id marker; after the
    * final drain the LAST of the three drains is re-run against the
    * same checkpoint AND the final batch is force-replayed through the
    * sink directly — both must be no-ops (the spec pins versions; the
    * hash gate pins rows). The oracle recomputes last-writer-wins per
    * key arithmetically. */
  def q171StreamUpsertSink(spark: SparkSession,
                           sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.Artifacts.freshRoot(spark, sfDir, "manifest_upsert_")
    val root = s"$base/tbl"
    val appId = "q171-upsert"
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    def slice(i: Int) = ev.where(pmod(col("event_id"), lit(3)) === i)
    def updated(i: Int) = slice(i)
      .where(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("cents", col("cents") + 100)
    // landing files: batch 1 = slice 0; batch 2 = slice 1 + updates of
    // slice 0; batch 3 = slice 2 + updates of slice 1 (append-mode
    // writes into ONE flat dir; each drain sees the new files as one
    // micro-batch)
    slice(0).write.mode("append").parquet(s"$base/landing")
    // bootstrap the sink table (schema-bearing zero-row seed)
    ManifestTable.overwrite(spark, root, ev.limit(0).repartition(1))
    def drainOnce(): Unit = {
      val q = spark.readStream
        .schema(ev.schema)
        .parquet(s"$base/landing")
        .writeStream
        .foreachBatch(upsertInto(spark, root, "event_id", appId))
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainOnce()
    slice(1).unionByName(updated(0))
      .write.mode("append").parquet(s"$base/landing")
    drainOnce()
    slice(2).unionByName(updated(1))
      .write.mode("append").parquet(s"$base/landing")
    drainOnce()
    // replay safety, both layers: a whole re-drain against the same
    // checkpoint and a direct force-replay of the final batch id must
    // change nothing (the txn marker makes them no-ops)
    val vBefore = ManifestTable.currentVersion(spark, root)
    drainOnce()
    val replayed = upsertBatch(spark, root, "event_id", appId,
      slice(2).unionByName(updated(1)),
      ManifestTable.lastTxnVersion(spark, root, appId).getOrElse(0L))
    require(!replayed && ManifestTable.currentVersion(spark, root)
      == vBefore,
      "a replayed batch re-applied — the txn marker failed")
    ManifestTable.read(spark, root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("sum_user_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }
}
