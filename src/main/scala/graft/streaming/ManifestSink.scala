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
}
