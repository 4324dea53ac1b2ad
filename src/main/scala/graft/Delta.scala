package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The change-set rule of every incremental refresh — the one place that
  * decides what changed between two snapshots and what a refresh does
  * about it. Three steps:
  *
  *  - [[classify]]: a full-outer hash diff of two keyed snapshots into
  *    `removed` / `added` / `modified` rows, unchanged ids dropped;
  *  - [[stale]] / [[fresh]]: removed or modified ids are STALE (their
  *    old rows must go), added or modified ids are FRESH (their new rows
  *    must be derived);
  *  - [[apply]]: a derived table refreshed by the delta — the base
  *    left-anti the stale ids, unioned with the rows derived for the
  *    fresh ids only.
  *
  * The refresh family (q79's diff, the q80/q83/q91/q93/q95/q98/q99/q107
  * refreshes, q154's suffix refresh, the q157 CDC refresh and the
  * q160/q161 SCD2 folds) reads its delta only through these, so a
  * reuse-the-base-plus-delta plan and its from-scratch twin can never
  * disagree on what changed. Deliberately NO broadcast hints: at real
  * scale a delta id list is billions of rows, so the joins stay
  * shuffle-on-id (AQE broadcasts them at test scale on its own). */
object Delta {

  /** The change-kind column of a classified delta. */
  private val Change = "change"

  /** Diff snapshot `a` against snapshot `b` on key `id`. Both sides
    * carry a content hash in column `hash` — computed BEFORE the diff
    * (map-side, so the join moves digests, never payloads); `b` may
    * carry more columns, which pass through (null on removed rows).
    * Returns `(id, change, old_<hash>, new_<hash>, b's other columns)`
    * for changed ids only, absent hashes as "" — delta-sized. */
  def classify(a: DataFrame, b: DataFrame, id: String,
               hash: String): DataFrame = {
    val (o, n) = (col(s"old_$hash"), col(s"new_$hash"))
    val carried = b.columns.filterNot(c => c == id || c == hash).map(col)
    a.select(col(id), col(hash).as(s"old_$hash"))
      .join(b.withColumnRenamed(hash, s"new_$hash"), Seq(id), "full_outer")
      .where(o.isNull || n.isNull || o =!= n)
      .select(Seq(col(id),
        when(n.isNull, "removed").when(o.isNull, "added")
          .otherwise("modified").as(Change),
        coalesce(o, lit("")).as(s"old_$hash"),
        coalesce(n, lit("")).as(s"new_$hash")) ++ carried: _*)
  }

  /** The delta rows whose old version must leave a derived table. */
  def stale(delta: DataFrame): DataFrame =
    delta.where(col(Change).isin("removed", "modified"))

  /** The delta rows whose new version must enter a derived table. */
  def fresh(delta: DataFrame): DataFrame =
    delta.where(col(Change).isin("added", "modified"))

  /** `base` refreshed by `delta` on key `id`: every row of a stale id
    * dropped (anti join — the base reads its bucket layout in place,
    * only the delta-sized id list moves), unioned with `freshRows` of
    * the fresh delta rows (without the change column) — the one place a
    * refresh derives anything, so its cost scales with the delta. */
  def apply(base: DataFrame, delta: DataFrame, id: String)(
      freshRows: DataFrame => DataFrame): DataFrame =
    base.join(stale(delta).select(id), Seq(id), "left_anti")
      .unionByName(freshRows(fresh(delta).drop(Change)))
}
