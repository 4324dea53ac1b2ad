package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.{Delta, Tables}
import graft.functions.CommonPrefixLen

/** PARTITION-BOUNDED suffix-table refresh — the missing incremental
  * story for the engine's most expensive recurring job (the r14 verdict,
  * missing #6): the per-doc longest-cross-doc-match table
  * ([[SuffixQueries.suffixShared]]) is a GLOBAL property, so q116 proved
  * delta-LOCAL refresh unsound (removing a document can lower an
  * untouched survivor's max) and shipped full-recompute-plus-delta-write
  * as the sound form. This module is the sound MIDDLE: recompute only
  * the RANGE PARTITIONS of the stored suffix index whose prefix domain
  * the delta actually touches, and reuse every other partition's stored
  * aggregates verbatim.
  *
  * Why partition-local is sound where doc-local is not. The per-doc max
  * is a max over adjacent cross-doc LCPs in the global suffix order.
  * Fix the stored index's range partitioning:
  *
  *  1. Every position row of a REMOVED doc lives in some stored
  *     partition, and every ADDED row lands in a determinable partition
  *     (the stored first-key boundaries are monotone) — both delta-sized
  *     computations against O(partitions) driver state, no corpus scan.
  *     Call those partitions AFFECTED.
  *  2. An UNAFFECTED partition's row multiset — and therefore its
  *     internal adjacency pairs — is bit-identical before and after the
  *     delta. Crucially its pairs can never involve a removed doc
  *     (those rows would have made it affected), so its stored
  *     per-(partition, doc) maxes remain exact. The q116
  *     counterexample (survivor's best match removed) lands in an
  *     affected partition BY CONSTRUCTION: the pair involved the
  *     removed doc's row.
  *  3. The only cross-partition interactions are the O(partitions)
  *     BOUNDARY pairs (last row of p vs first row of the next non-empty
  *     partition). Those are recomputed on the driver from per-partition
  *     summaries — stored for unaffected partitions, fresh for affected
  *     ones — so first/last-row churn and emptied partitions are handled
  *     exactly.
  *
  * Refreshed result = max over {stored unaffected maxes} ∪ {rescanned
  * affected maxes} ∪ {recomputed boundary pairs} — EQUAL to the full
  * rebuild on snapshot B (q154's hash gate pins it against the oracle's
  * independent SQL construction; the spec pins it against
  * [[SuffixQueries.suffixSharedB]] and on a constructed
  * removed-best-match case).
  *
  * Cost shape, stated honestly: the refresh reads ONLY the affected
  * partitions of the stored index (partition-pruned scan — the index is
  * stored `partitionBy(part)`), plus delta-sized position work and
  * O(partitions) driver state. A delta of D positions touches ≤ D
  * partitions, so the bounded fraction is ~min(1, D/P) — and D counts
  * POSITIONS, not docs (one ~600-char doc is ~600 keys spread across
  * the prefix domain), so the regime where pruning pays is
  * delta-positions ≲ partitions. Measured at sf0.1 (SCALING.md's
  * partition-bounded suffix refresh section): the q79 recrawl delta (601k
  * positions) hits 100% of partitions at every width tested — there
  * refresh ≈ rebuild plus bookkeeping and the r10 "recompute freely"
  * guidance stands; a single-doc edit (95 positions) hits ~84% of 32
  * partitions but only ~10% of 512 (suffix CLUSTERING pulls it under
  * the uniform bound — an edited doc's keys concentrate near its old
  * ones), refreshing in 1.7–1.9 s vs the ~4.3 s rebuild. At a 100 TB
  * index with 10⁵⁺ partitions that single-doc shape is the
  * fix-up/takedown path (delete these documents, patch this one), and
  * it never re-sorts the corpus. One suffix-order subtlety is pinned by
  * key choice: sort keys are (pref, doc_id), ties can span partition
  * boundaries, so removal-affected partitions are found by RANGE
  * intersection (firstKey ≤ key ≤ lastKey), never by a single
  * assignment.
  */
object SuffixRefresh extends Serializable {

  import SuffixQueries.PrefixCap

  /** One stored range partition's metadata: enough to rebuild every
    * boundary pair and to route delta keys, in O(partitions) driver
    * space. */
  private[graft] case class Summary(part: Int, nRows: Long,
      firstPref: String, firstDoc: Long, lastPref: String, lastDoc: Long)

  /** Suffix-order key comparison — Spark sorts StringType in UTF-8
    * BINARY order, which differs from java.lang.String's UTF-16 order
    * beyond ASCII, so delta routing must compare the same way the
    * exchange sorted. Takes pre-converted UTF8Strings: the routing
    * loops compare each probe against O(log parts) boundary keys, so
    * both sides are converted ONCE (boundaries once per task, the
    * probe once per row), never per comparison. */
  private def cmpKey(prefA: UTF8String, docA: Long,
                     prefB: UTF8String, docB: Long): Int = {
    val c = prefA.compareTo(prefB)
    if (c != 0) c else java.lang.Long.compare(docA, docB)
  }

  /** The suffix-sorted position table with its range-partition id made
    * EXPLICIT — the stored form the refresh prunes on. */
  private[graft] def taggedIndexOf(docs: DataFrame,
      parts: Int): DataFrame = {
    val spark = docs.sparkSession
    val pos = SuffixQueries.positions(docs, PrefixCap)
      .select(col("doc_id"), col("pref"))
      .localCheckpoint() // the range sampler reads rows, not lineage
    val sorted = pos
      .repartitionByRange(parts, col("pref"), col("doc_id"))
      .sortWithinPartitions("pref", "doc_id")
    val schema = StructType(Seq(
      StructField("part", IntegerType, nullable = false),
      StructField("doc_id", LongType, nullable = false),
      StructField("pref", StringType, nullable = false)))
    spark.createDataFrame(
      sorted.rdd.mapPartitionsWithIndex((pid, it) =>
        it.map(r => Row(pid, r.getLong(0), r.getString(1)))),
      schema)
  }

  /** Per-(partition, doc) max over the partition's INTERNAL adjacent
    * cross-doc LCPs — the stored aggregate unaffected partitions reuse.
    * Re-sorts explicitly, so it accepts both the build-time tagged
    * relation and refresh-time rebuilt partition contents. */
  private[graft] def innerMaxOf(tagged: DataFrame): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val pairs = tagged.select("part", "doc_id", "pref")
      .repartition(col("part"))
      .sortWithinPartitions("part", "pref", "doc_id")
      .rdd.mapPartitions { it =>
        // a task may hold several whole partitions (hash grouping):
        // reset the sliding state at every part change
        var curPart = Int.MinValue
        var prevDoc = 0L
        var prevPref: String = null
        it.flatMap { r =>
          val p = r.getInt(0)
          val d = r.getLong(1)
          val pref = r.getString(2)
          val out =
            if (p == curPart && prevPref != null && prevDoc != d)
              Iterator((p, prevDoc, d,
                CommonPrefixLen.prefixChars(prevPref, pref)))
            else Iterator.empty
          curPart = p
          prevDoc = d
          prevPref = pref
          out
        }
      }.toDF("part", "doc_id", "doc_id2", "l")
    pairs.select(col("part"), col("doc_id"), col("l"))
      .unionAll(pairs.select(col("part"), col("doc_id2").as("doc_id"),
        col("l")))
      .groupBy("part", "doc_id")
      .agg(max(col("l")).cast(LongType).as("l"))
  }

  /** Per-partition first/last keys + row count (struct min/max —
    * lexicographic by (pref, doc_id), the sort order). Only non-empty
    * partitions appear. */
  private[graft] def summariesOf(tagged: DataFrame): DataFrame =
    tagged.select("part", "doc_id", "pref")
      .groupBy("part")
      .agg(count(lit(1)).as("n_rows"),
        min(struct(col("pref"), col("doc_id"))).as("first"),
        max(struct(col("pref"), col("doc_id"))).as("last"))
      .select(col("part"), col("n_rows"),
        col("first.pref").as("first_pref"),
        col("first.doc_id").as("first_doc"),
        col("last.pref").as("last_pref"),
        col("last.doc_id").as("last_doc"))

  private[graft] def toSummaries(df: DataFrame): Seq[Summary] =
    df.collect().map(r => Summary(r.getAs[Int]("part"),
      r.getAs[Long]("n_rows"), r.getAs[String]("first_pref"),
      r.getAs[Long]("first_doc"), r.getAs[String]("last_pref"),
      r.getAs[Long]("last_doc"))).toSeq.sortBy(_.part)

  /** The O(partitions) boundary pairs: last row of each non-empty
    * partition vs the next non-empty partition's first row, LCP'd on
    * the driver (the strings are already in the summaries). */
  private[graft] def boundaryOf(
      sums: Seq[Summary]): Seq[(Long, Long, Long)] = {
    val ne = sums.filter(_.nRows > 0).sortBy(_.part)
    ne.sliding(2).flatMap {
      case Seq(a, b) if a.lastDoc != b.firstDoc =>
        Iterator((a.lastDoc, b.firstDoc,
          CommonPrefixLen.prefixChars(a.lastPref, b.firstPref).toLong))
      case _ => Iterator.empty
    }.toSeq
  }

  /** Assemble the per-doc table from per-(part, doc) maxes + boundary
    * pairs — used identically on the A state (spec sanity), the
    * refreshed state (q154), and the constructed spec cases. */
  private[graft] def perDocOf(spark: SparkSession, innerMax: DataFrame,
      boundary: Seq[(Long, Long, Long)], minReport: Int): DataFrame = {
    import spark.implicits._
    val b = boundary.toDF("doc_id", "doc_id2", "l")
    innerMax.select(col("doc_id"), col("l"))
      .unionByName(b.select(col("doc_id"), col("l")))
      .unionByName(b.select(col("doc_id2").as("doc_id"), col("l")))
      .groupBy("doc_id")
      .agg(max(col("l")).cast(LongType).as("max_shared"))
      .where(col("max_shared") >= minReport)
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Stored A-state artifacts (once per session per dir)
  // -------------------------------------------------------------------

  private val IndexAPrefix = "graft_sfxridx_"

  /** The stored suffix index as a MANIFEST-COMMITTED artifact,
    * bounds-stamped on `part` (one range partition per file, so a
    * file's [lo, hi] is its partition id): the refresh's
    * affected-partition read opens only the affected partitions' FILES,
    * decided from the manifest alone — file-level pruning where the
    * directory-partitioned layout pruned directories, plus the
    * transactional rewrite every artifact build now rides. */
  def indexA(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materializeManifest(spark, sfDir, IndexAPrefix,
        boundsCol = Some("part")) {
      taggedIndexOf(Tables.documents(spark, sfDir),
        spark.sessionState.conf.numShufflePartitions)
    }

  def innerMaxA(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_sfxrinner_", "doc_id") {
      innerMaxOf(indexA(spark, sfDir))
    }

  def summariesA(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materializeManifest(spark, sfDir, "graft_sfxrsums_") {
      summariesOf(indexA(spark, sfDir))
    }

  // -------------------------------------------------------------------
  // The refresh
  // -------------------------------------------------------------------

  /** What a refresh did — the per-doc result plus everything
    * [[advance]] needs to commit the state forward (the fresh rows,
    * inner maxes, and merged summaries of the affected partitions). */
  case class RefreshResult(perDoc: DataFrame, affectedParts: Set[Int],
                           totalParts: Int,
                           freshRows: DataFrame,
                           freshInner: DataFrame,
                           mergedSums: Seq[Summary])

  /** Core refresh over explicit state — [[q154SuffixRefresh]] wires it
    * to the q79 snapshot pair; the spec drives constructed corpora
    * through it directly. `removedDocs`/`addedDocs` are (doc_id, text)
    * relations (for an edit, the doc appears in both). */
  private[graft] def refreshOf(spark: SparkSession, index: DataFrame,
      innerA: DataFrame, sums: Seq[Summary], removedDocs: DataFrame,
      addedDocs: DataFrame, minReport: Int,
      indexForParts: Option[Seq[Int] => DataFrame] = None): RefreshResult = {
    val ne = sums.filter(_.nRows > 0).sortBy(_.part)
    require(ne.nonEmpty, "refresh over an empty stored index")
    val firstKeys = ne.map(s => (s.firstPref, s.firstDoc)).toArray
    val lastKeys = ne.map(s => (s.lastPref, s.lastDoc)).toArray
    val partIds = ne.map(_.part).toArray
    val bcFirst = spark.sparkContext.broadcast(firstKeys)
    val bcLast = spark.sparkContext.broadcast(lastKeys)
    val bcParts = spark.sparkContext.broadcast(partIds)

    // route an ADDED key to the last non-empty partition whose first
    // key <= it (below-everything keys go to the first partition) —
    // any monotone assignment consistent with the stored order is a
    // valid suffix order, and per-doc maxes are order-invariant among
    // equal keys
    def assignPart(firsts: Array[(UTF8String, Long)], ids: Array[Int],
                   pref: UTF8String, doc: Long): Int = {
      var lo = 0
      var hi = firsts.length - 1
      if (cmpKey(pref, doc, firsts(0)._1, firsts(0)._2) < 0) return ids(0)
      while (lo < hi) { // invariant: firsts(lo) <= key
        val mid = (lo + hi + 1) >>> 1
        if (cmpKey(firsts(mid)._1, firsts(mid)._2, pref, doc) <= 0) lo = mid
        else hi = mid - 1
      }
      ids(lo)
    }

    def toU(keys: Array[(String, Long)]): Array[(UTF8String, Long)] =
      keys.map { case (s, d) => (UTF8String.fromString(s), d) }

    import spark.implicits._
    val addedTagged = SuffixQueries.positions(addedDocs, PrefixCap)
      .select(col("doc_id"), col("pref")).as[(Long, String)]
      .mapPartitions { it =>
        val f = toU(bcFirst.value) // converted once per task
        val ids = bcParts.value
        it.map { case (d, p) =>
          (assignPart(f, ids, UTF8String.fromString(p), d), d, p)
        }
      }.toDF("part", "doc_id", "pref")
      .localCheckpoint() // read thrice below (affected set, rebuild, count)

    // a REMOVED key affects every partition whose [first, last] range
    // contains it — ties on (pref, doc_id) can span boundaries, so this
    // is a range intersection, not a single assignment
    val removedAffected = SuffixQueries.positions(removedDocs, PrefixCap)
      .select(col("doc_id"), col("pref")).as[(Long, String)]
      .mapPartitions { it =>
        val f = toU(bcFirst.value) // converted once per task
        val l = toU(bcLast.value)
        val ids = bcParts.value
        it.flatMap { case (d, ps) =>
          val p = UTF8String.fromString(ps) // once per row
          // first partition whose LAST key >= key .. last whose FIRST
          // key <= key (both monotone)
          var lo = 0
          var hi = l.length - 1
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cmpKey(l(mid)._1, l(mid)._2, p, d) < 0) lo = mid + 1
            else hi = mid
          }
          val from = lo
          lo = 0; hi = f.length - 1
          while (lo < hi) {
            val mid = (lo + hi + 1) >>> 1
            if (cmpKey(f(mid)._1, f(mid)._2, p, d) <= 0) lo = mid
            else hi = mid - 1
          }
          (from to lo).iterator.map(ids(_))
        }
      }.distinct().collect().toSet

    val addAffected = addedTagged.select("part").distinct()
      .collect().map(_.getInt(0)).toSet
    val affected = removedAffected ++ addAffected

    val removedIds = removedDocs.select("doc_id").distinct()
    // rebuild ONLY the affected partitions: pruned index read minus
    // removed docs plus routed additions. A caller with file-level
    // metadata (the manifest-backed state) supplies indexForParts so
    // the read opens only the affected partitions\' FILES; the plain
    // path filters the given relation (parquet row-group stats still
    // skip within files)
    val affectedIndex =
      if (affected.isEmpty) // empty delta: nothing to rescan
        index.where(lit(false))
      else indexForParts
        .map(f => f(affected.toSeq.sorted))
        .getOrElse(index.where(col("part").isin(affected.toSeq: _*)))
    val fresh = affectedIndex.select("part", "doc_id", "pref")
      // deliberately NO broadcast hint: at real scale the removed-id
      // list is takedown-batch-sized to billions of rows, so the join
      // must be free to stay shuffle-on-doc_id; AQE broadcasts it at
      // test scale on its own (the refresh family's house rule)
      .join(removedIds, Seq("doc_id"), "left_anti")
      .unionByName(addedTagged)
      .localCheckpoint() // feeds both the rescan and fresh summaries
    val freshInner = innerMaxOf(fresh)
    val freshSums = toSummaries(summariesOf(fresh))
    // merge summaries: stored for unaffected, fresh for affected
    // (affected partitions emptied by the delta simply drop out)
    val merged = (sums.filterNot(s => affected.contains(s.part)) ++
      freshSums).sortBy(_.part)
    val keptInner = innerA.where(!col("part").isin(affected.toSeq: _*))
    val perDoc = perDocOf(spark, keptInner.unionByName(freshInner),
      boundaryOf(merged), minReport)
    RefreshResult(perDoc, affected, ne.size, fresh, freshInner, merged)
  }

  /** Q154: the per-doc suffix table for snapshot B by PARTITION-BOUNDED
    * refresh of the stored snapshot-A index — must equal the full
    * rebuild ([[SuffixQueries.suffixSharedB]]), and the oracle pins it
    * with the same independent SQL construction that gates q116's
    * B side. Removed rows = A text of deleted+edited docs; added rows =
    * B text of new+edited docs (both delta-sized; the stored index is
    * read only at its affected partitions). */
  def q154SuffixRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshForSnapshotB(spark, sfDir).perDoc

  /** The q79-delta refresh with its diagnostics (shared by q154 and the
    * scaling tool). */
  def refreshForSnapshotB(spark: SparkSession,
                          sfDir: String): RefreshResult = {
    val docs = Tables.documents(spark, sfDir)
    val index = indexA(spark, sfDir)
    val innerA = innerMaxA(spark, sfDir)
    val sums = toSummaries(summariesA(spark, sfDir))
    val delta = CurationPipeline.snapshotChanges(spark, sfDir)
    val removedDocs = docs
      .join(Delta.stale(delta).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    val addedDocs = CurationPipeline.snapshotB(docs)
      .join(Delta.fresh(delta).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
    refreshOf(spark, index, innerA, sums, removedDocs, addedDocs,
      minReport = 1,
      // the stored index is a bounds-stamped manifest artifact: open
      // only the affected partitions' files, decided from its manifest
      indexForParts = Some(parts =>
        graft.sources.ManifestTable.readWhereKeyIn(spark,
          graft.Artifacts.manifestRoot(spark, sfDir, IndexAPrefix),
          "part", parts.map(_.toLong))))
  }

  // -------------------------------------------------------------------
  // Durable, ADVANCING state: the suffix index as manifest tables
  // -------------------------------------------------------------------

  /** The durable suffix-refresh state: three relation tables (the
    * partition-tagged index, the per-(partition, doc) inner maxes, the
    * per-partition summaries) plus a CATALOG table — each a
    * [[graft.sources.ManifestTable]]. The catalog's rows are the
    * (relation, version) pointers of the last COMPLETE advance; its one
    * commit is the multi-table transaction point (the Iceberg-catalog /
    * Delta-log shape): the three relation commits are invisible to
    * readers until the catalog pointer lands, so a reader can never
    * pair mixed versions and a crash between commits leaves only
    * orphaned child versions that the next [[advance]] rolls back. */
  case class StateRoots(index: String, inner: String, sums: String,
                        catalog: String)

  private def rootsUnder(rootBase: String): StateRoots =
    StateRoots(s"$rootBase/index", s"$rootBase/inner",
      s"$rootBase/sums", s"$rootBase/catalog")

  /** The state trio as a [[graft.sources.ManifestCatalog]] — the
    * generalized home of the catalog-pointer pattern this module
    * pioneered (round 16); [[buildState]]/[[advance]] are now plain
    * `transact` calls, and crash recovery (orphan rollback, vacuum
    * floor) lives in the shared primitive. */
  private def catalogOf(roots: StateRoots) =
    graft.sources.ManifestCatalog.Catalog(roots.catalog,
      Map("index" -> roots.index, "inner" -> roots.inner,
        "sums" -> roots.sums))

  /** Materialize the suffix-refresh state for `docs` under `rootBase`
    * as three manifest tables plus the catalog pointer. Index and
    * inner-max files are bounds-stamped on `part`, so [[advance]]'s
    * partition replacement is a bounds-pruned copy-on-write MERGE —
    * affected files found from the manifest alone. */
  def buildState(spark: SparkSession, docs: DataFrame, parts: Int,
                 rootBase: String): StateRoots = {
    import graft.sources.ManifestTable
    val roots = rootsUnder(rootBase)
    val tagged = taggedIndexOf(docs, parts).localCheckpoint()
    graft.sources.ManifestCatalog.transact(spark, catalogOf(roots)) { _ =>
      Map(
        "index" -> ManifestTable.overwrite(spark, roots.index, tagged,
          boundsCol = Some("part")),
        "inner" -> ManifestTable.overwrite(spark, roots.inner,
          innerMaxOf(tagged), boundsCol = Some("part")),
        "sums" -> ManifestTable.overwrite(spark, roots.sums,
          summariesOf(tagged)))
    }
    roots
  }

  /** Apply a delta AND commit the state forward, so consecutive deltas
    * CHAIN (the production shape: one recrawl/takedown after another,
    * never a rebuild): the affected partitions' fresh rows and inner
    * maxes land as copy-on-write MERGEs keyed on `part` (unchanged
    * partitions' files carried verbatim, pruned from manifest bounds),
    * the summaries re-stamp (O(partitions) rows, a plain overwrite),
    * and the CATALOG pointer commit makes all three visible AT ONCE —
    * the transaction point. Crash recovery is automatic: a child table
    * whose newest version is ahead of the catalog pin carries a dead
    * advance's orphaned commit, and is rolled back with
    * [[graft.sources.ManifestTable.restore]] (zero data IO) before this
    * advance computes. Single concurrent WRITER assumed (the same
    * single-rewriter contract every state advance in the engine
    * carries); readers need no coordination at all. Returns the
    * refresh diagnostics; the advanced per-doc table is
    * [[perDocFromState]]. */
  def advance(spark: SparkSession, roots: StateRoots,
              removedDocs: DataFrame, addedDocs: DataFrame,
              minReport: Int = 1): RefreshResult = {
    import spark.implicits._
    import graft.sources.ManifestTable
    var out: RefreshResult = null
    // one ManifestCatalog transaction: orphan rollback from a crashed
    // predecessor, the three member commits, and the single catalog
    // publish all live in the shared primitive now
    graft.sources.ManifestCatalog.transact(spark, catalogOf(roots)) { _ =>
      val res = refreshOf(spark,
        ManifestTable.read(spark, roots.index),
        ManifestTable.read(spark, roots.inner),
        toSummaries(ManifestTable.read(spark, roots.sums)),
        removedDocs, addedDocs, minReport,
        // the read-side payoff of the bounds-stamped index: open only
        // the affected partitions' files, decided from the manifest
        indexForParts = Some(parts => ManifestTable.readWhereKeyIn(
          spark, roots.index, "part", parts.map(_.toLong))))
      val affectedDf = res.affectedParts.toSeq.sorted.toDF("part")
      val (vIdx, _, _) = ManifestTable.mergeCoW(spark, roots.index, "part",
        affectedDf, res.freshRows)
      val (vInn, _, _) = ManifestTable.mergeCoW(spark, roots.inner, "part",
        affectedDf, res.freshInner)
      val vSum = ManifestTable.overwrite(spark, roots.sums,
        res.mergedSums.toDF()
          .select(col("part"), col("nRows").as("n_rows"),
            col("firstPref").as("first_pref"),
            col("firstDoc").as("first_doc"),
            col("lastPref").as("last_pref"),
            col("lastDoc").as("last_doc")))
      out = res
      Map("index" -> vIdx, "inner" -> vInn, "sums" -> vSum)
    }
    out
  }

  /** The per-doc longest-cross-doc-match table assembled from the
    * catalog-PINNED state — after [[advance]], this is the refreshed
    * table (equal to a full rebuild on the advanced corpus,
    * spec-pinned across chained deltas). Reading through the catalog
    * pins makes this safe against a concurrent or crashed advance:
    * uncommitted child versions are simply not referenced, and the two
    * `readAt`s resolve the SAME transaction's versions (snapshot
    * isolation per table, coordinated by the one catalog read). */
  def perDocFromState(spark: SparkSession, roots: StateRoots,
                      minReport: Int = 1): DataFrame = {
    import graft.sources.{ManifestCatalog, ManifestTable}
    // ONE catalog read pins the whole trio — two readPinned calls
    // could straddle a concurrent advance's commit and pair versions
    // from different transactions
    val pins = ManifestCatalog.pins(spark, catalogOf(roots))
    perDocOf(spark,
      ManifestTable.readAt(spark, roots.inner, pins("inner")),
      boundaryOf(toSummaries(
        ManifestTable.readAt(spark, roots.sums, pins("sums")))),
      minReport)
  }
}
