package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped derived state — the one module that knows how it is
  * keyed, cached and placed. Three kinds:
  *
  *  - MATERIALIZED ARTIFACTS: intermediate relations computed once per
  *    (session, input dir) and persisted as bucketed, partitioned or
  *    manifest-committed tables that every consumer query reads. AQE's
  *    ReuseExchange shares a subtree only WITHIN one plan; across
  *    queries each consumer would recompute the full lineage (round 3
  *    measured the MinHash signature subtree running four times — four
  *    full corpus passes for one logical artifact). At 100 TB a
  *    production pipeline writes derived relations (shingles,
  *    signatures, codebooks) as first-class catalog tables exactly once
  *    and feeds every downstream stage from them; this registry is that
  *    story in miniature. Bucketed + sorted on the key column so
  *    key-keyed joins and aggregates downstream skip their exchange
  *    (Spark reads bucket metadata as the child's output partitioning).
  *  - DRIVER CACHES ([[Memo]]): small driver-held derivations (codebooks,
  *    PQ models, the dedup trio, sketches, staged renders, and each input
  *    table's parquet schema, which [[Tables.load]] infers once).
  *  - FRESH ROOTS ([[freshRoot]]): an emptied per-input directory under
  *    the warehouse, where a gated query rebuilds its own table.
  *
  * FRESHNESS RULE. Every name, cache key and root derives from
  * `prefix` + [[Tables.dirKey]] of the input dir ([[nameOf]]). The key
  * folds a content fingerprint of the dir's listing, so a dir whose
  * files are rewritten mid-session yields a new name — every artifact
  * rebuilds and every cached model retrains instead of serving stale
  * rows (ArtifactsSpec pins it).
  *
  * LOCK-ORDER RULE. The registry lock (`built`) may be held while
  * taking a [[Memo]]'s lock, never the reverse: an artifact build may
  * read a memo (the curated handoff's build reads the dedup trio), and
  * a memo build may materialize artifacts and consult other memos. A
  * memo therefore never holds its lock across `build` — it also must
  * not block cache HITS for the length of a multi-job training run —
  * and computes [[Tables.dirKey]] (a recursive listing) before taking
  * any lock. A lost race builds twice and keeps the first value;
  * derivations are deterministic, so the duplicate is only wasted work.
  */
object Artifacts {
  /** Tables already materialized this JVM, per session (weak-keyed so a
    * discarded session's entries are collectable). */
  private val built =
    new java.util.WeakHashMap[SparkSession, mutable.Set[String]]

  private def builtSet(spark: SparkSession): mutable.Set[String] =
    built.computeIfAbsent(spark, _ => mutable.Set.empty)

  /** The session that last built each table name — the enforcement half
    * of the single-active-session assumption: a SECOND live session
    * rebuilding the same name would delete warehouse files the first
    * session's live plans still reference, so that is an error, not a
    * silent rebuild. A stopped (or garbage-collected — the reference is
    * weak, so a dead session doesn't stay pinned for the JVM's life)
    * builder releases its claim; a DISCARDED-but-uncollected child
    * session (spark.newSession() shares the SparkContext, so it can
    * never be "stopped" on its own) must release explicitly via
    * [[release]] — otherwise every other session gets a
    * GC-timing-dependent IllegalStateException for its table names. */
  private val builders = mutable.Map
    .empty[String, java.lang.ref.WeakReference[SparkSession]]

  /** Explicitly release every table claim held by `spark` — the hook for
    * short-lived child sessions (spark.newSession()), which share the
    * SparkContext and therefore never read as stopped: call this when
    * discarding one so its claims don't linger until an arbitrary GC.
    * The warehouse tables themselves stay in place; the next session to
    * materialize the same name takes ownership (and rebuilds). */
  def release(spark: SparkSession): Unit = built.synchronized {
    builders.filterInPlace((_, ref) => ref.get ne spark)
    built.remove(spark)
    ()
  }

  /** `prefix` + the input dir's [[Tables.dirKey]]: the name of every
    * artifact table, fresh root and streaming query derived from
    * `sfDir` (the freshness rule above). */
  def nameOf(spark: SparkSession, sfDir: String, prefix: String): String =
    prefix + Tables.dirKey(spark, sfDir)

  /** Run `build` once per (session, name), persist it bucketed on
    * `bucketCol` as table [[nameOf]]`(spark, sfDir, prefix)`, and return
    * the table. Reentrant: a build may itself materialize another
    * artifact (signatures build reads the shingle artifact). Only one
    * LIVE session may own a table name at a time (asserted);
    * per-(session, name) rebuilds never happen.
    *
    * Why this writer is EXEMPT from the manifest-commit discipline
    * ([[graft.sources.ManifestTable]], which [[materializeManifest]]
    * applies to the plain-file artifacts): bucketed output is a CATALOG
    * property — Spark reads the bucket spec from the metastore entry
    * `saveAsTable` writes, and that spec is what lets every downstream
    * key-keyed join/aggregate skip its exchange; a manifest table reads
    * as plain `spark.read.parquet`, which cannot carry bucketing. The
    * delete-then-recreate swap window this leaves is UNOBSERVABLE under
    * the registry's lifecycle, by construction rather than by luck:
    * (a) within a session the build runs at most once per name, under
    * the registry lock, BEFORE any consumer resolves the table — there
    * is no reader to race; (b) a name encodes a content fingerprint of
    * its input, so a changed input reads a fresh name, never a
    * mid-rewrite one; (c) cross-session races are an asserted ERROR
    * (the builders map), not a window; (d) a stale on-disk table from a
    * DEAD JVM is rewritten before this JVM has any readers. Each of
    * (a)-(d) is pinned in ArtifactsSpec. */
  def materialize(spark: SparkSession, sfDir: String, prefix: String,
                  bucketCol: String, buckets: Int = 8)
                 (build: => DataFrame): DataFrame =
    materializeWith(spark, nameOf(spark, sfDir, prefix))(
      _.write.bucketBy(buckets, bucketCol).sortBy(bucketCol))(build)

  /** [[materialize]]'s PARTITIONED twin: persist the build
    * directory-partitioned on `partitionCol` instead of bucketed — the
    * layout for predicate-pruned scans (a filter on the partition column
    * never lists, let alone reads, the other partitions), where
    * bucketing is the layout for exchange-free joins. Same
    * once-per-(session, name) and ownership contract — and the same
    * manifest-commit EXEMPTION as [[materialize]], for the same reason:
    * `SHOW PARTITIONS` / static partition pruning resolve through the
    * catalog entry, and the swap window is unobservable under the
    * registry lifecycle (see [[materialize]]'s scaladoc, points a-d). */
  def materializePartitioned(spark: SparkSession, sfDir: String,
                             prefix: String, partitionCol: String)
                            (build: => DataFrame): DataFrame =
    materializeWith(spark, nameOf(spark, sfDir, prefix))(
      _.write.partitionBy(partitionCol))(build)

  /** The MANIFEST-COMMITTED artifact writer — for plain-file artifacts
    * (no catalog bucketing / partition spec needed), the build lands as
    * a [[graft.sources.ManifestTable]] OVERWRITE at
    * [[manifestRoot]]`(spark, sfDir, prefix)`: one atomic
    * manifest rename publishes it, a previous JVM's version stays
    * readable to any plan that resolved it until the post-commit
    * vacuum, and a writer crash leaves the old version intact plus
    * invisible orphans — the engine's own rewriters running on the
    * engine's own ACID layer. The build's own file layout (range
    * partitioning + in-file sort, and the per-file column statistics it
    * yields) lands verbatim — staging writes the plan's partitions
    * as-is; `boundsCol` additionally stamps per-file key bounds so
    * consumers can bounds-prune from the manifest alone
    * ([[graft.sources.ManifestTable.readWhereKeyIn]]). Same
    * once-per-(session, name) registry and ownership contract. */
  def materializeManifest(spark: SparkSession, sfDir: String,
                          prefix: String,
                          boundsCol: Option[String] = None)
                         (build: => DataFrame): DataFrame = {
    import graft.sources.ManifestTable
    val name = nameOf(spark, sfDir, prefix)
    val root = warehousePath(spark, name).toString
    built.synchronized {
      if (!builtSet(spark).contains(name)) {
        assertOwnership(spark, name)
        ManifestTable.overwrite(spark, root, build, boundsCol = boundsCol)
        // bound cross-JVM growth: retire every pre-existing version's
        // files. Safe because the commit above already serialized this
        // JVM's readers (none exist before the build returns) and a
        // concurrent session is an asserted error; the retention window
        // still protects any in-flight stage.
        ManifestTable.vacuum(spark, root, retain = 1)
        builtSet(spark).add(name)
        builders.put(name, new java.lang.ref.WeakReference(spark))
        ()
      }
    }
    ManifestTable.read(spark, root)
  }

  /** `<warehouse>/<prefix><dirKey>`, left as it is: the root
    * [[materializeManifest]] commits under — exposed so consumers can
    * run bounds-pruned reads against the artifact's own manifest — and
    * the root of a table a query keeps across calls itself. */
  def manifestRoot(spark: SparkSession, sfDir: String,
                   prefix: String): String =
    warehousePath(spark, nameOf(spark, sfDir, prefix)).toString

  /** An emptied `<warehouse>/<prefix><dirKey>` for a query that
    * rebuilds its own table (or database, or stream state) from
    * `sfDir` on every call. The warehouse is per process and removed on
    * exit ([[GraftSession]]), so a root never outlives its JVM. */
  def freshRoot(spark: SparkSession, sfDir: String, prefix: String): String =
    emptied(spark, nameOf(spark, sfDir, prefix)).toString

  private def warehousePath(spark: SparkSession, name: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  /** `<warehouse>/<name>`, deleted if present. Resolution goes through
    * the Hadoop FileSystem API so non-local warehouse URIs (hdfs://,
    * s3a://) delete correctly — a java.io.File of a stripped URI
    * silently no-ops on them. */
  private def emptied(spark: SparkSession, name: String): Path = {
    val p = warehousePath(spark, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    p
  }

  /** A driver-side derivation cache: one value per (session, input dir,
    * `tag`), weak-keyed by session so a discarded session's entries are
    * collectable. Keyed by [[Tables.dirKey]] (the freshness rule), and
    * it follows the lock-order rule above: the key is computed before
    * the lock, `build` runs outside it, and a lost race keeps the first
    * stored value. */
  final class Memo[V] {
    private val bySession =
      new java.util.WeakHashMap[SparkSession, mutable.Map[(String, String), V]]

    private def entries(spark: SparkSession): mutable.Map[(String, String), V] =
      bySession.computeIfAbsent(spark, _ => mutable.Map.empty)

    def apply(spark: SparkSession, sfDir: String, tag: String = "")
             (build: => V): V = {
      val key = (Tables.dirKey(spark, sfDir), tag)
      bySession.synchronized(entries(spark).get(key)).getOrElse {
        val v = build
        bySession.synchronized(entries(spark).getOrElseUpdate(key, v))
      }
    }
  }

  private def assertOwnership(spark: SparkSession, name: String): Unit =
    builders.get(name).flatMap(r => Option(r.get)).foreach { prev =>
      if (prev != spark && !prev.sparkContext.isStopped)
        throw new IllegalStateException(
          s"artifact table $name is owned by another live session; " +
            "two active sessions sharing one warehouse would delete " +
            "each other's files")
    }

  private def materializeWith(spark: SparkSession, name: String)
      (writer: DataFrame => org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row])(build: => DataFrame): DataFrame = {
    built.synchronized {
      if (!builtSet(spark).contains(name)) {
        assertOwnership(spark, name)
        // the in-memory catalog resets per JVM but the warehouse dir
        // persists: clear both so saveAsTable never sees a stale
        // location
        spark.sql(s"DROP TABLE IF EXISTS $name")
        emptied(spark, name)
        writer(build).mode("overwrite").saveAsTable(name)
        builtSet(spark).add(name)
        builders.put(name, new java.lang.ref.WeakReference(spark))
        ()
      }
    }
    spark.table(name)
  }
}
