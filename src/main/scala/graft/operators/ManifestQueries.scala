package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField}

import graft.{Artifacts, Tables}
import graft.sources.{ManifestCatalog, ManifestTable, ManifestTail,
  ZOrderLayout}
import graft.streaming.{ManifestSink, ManifestStreamProvider}

/** The manifest table format's gated demos through the Scala API: the
  * commit, merge, delete, evolution and branch lifecycle, the SCD2
  * history folded three ways (q160 in memory, q161 by the restartable
  * tail, q178 as a two-table catalog transaction), the z-order layouts
  * (q130, q162, q193), and the manifest stream source and exactly-once
  * sink (q164, q170, q171, q176, q177). Each body drives the format's
  * public operations, so the modules under `sources/` and `streaming/`
  * hold only the format. The SQL-catalog twins are
  * [[SqlCatalogQueries]]. */
object ManifestQueries {

  /** Q152: the manifest lifecycle end-to-end, hash-gated — build the
    * documents table as a manifest table (v1 = 80% of docs), APPEND the
    * rest (v2), OPTIMIZE clustered on doc_id (v3), then read ALL THREE
    * versions by time travel and emit each one's totals. The oracle
    * recomputes v1's subset and the full table directly from parquet, so
    * the hash gate pins the three commit semantics at once: append
    * accumulates (v2 = all docs), optimize changes NO row (v3 == v2 —
    * the rewrite is invisible to readers except in file count), and
    * history stays readable after later commits. sum(doc_id) makes a
    * row-identity slip (not just a count slip) hash-visible. */
  def q152ManifestLifecycle(spark: SparkSession,
                            sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_docs_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwrite(spark, root, docs.where(col("doc_id") % 5 =!= 0))
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 5 === 0))
    ManifestTable.optimize(spark, root, "doc_id", targetFiles = 4)
    val perVersion = (1 to 3).map { v =>
      ManifestTable.readAt(spark, root, v)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text"))).as("n_chars"))
        .select(lit(v).cast("int").as("version"),
          col("n_docs"), col("sum_doc_id"), col("n_chars"))
    }
    perVersion.reduce(_ unionByName _).orderBy("version")
  }

  /** Q155: the recrawl applied as a copy-on-write MERGE — the documents
    * table lives as a manifest table (v1 = snapshot A, written as 8
    * doc_id-clustered files so files have real key ranges), the q79 delta
    * lands in ONE [[ManifestTable.mergeCoW]] commit (deletes + edits +
    * inserts), and the result must BE snapshot B row-for-row: the oracle
    * replays the recrawl rules directly over the parquet and compares
    * doc_id + md5(text) — so a dropped carried file, a surviving removed
    * row, a lost concurrent row, or an unapplied edit all fire the hash
    * gate. Diagnostics (files carried vs rewritten) are the spec's job;
    * at the q79 delta every file contains changed keys (doc_id % 10 rules
    * touch every range), so carry-over is exercised by the spec's
    * range-local delta instead. */
  def q155ManifestMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_merge_")
    // bounds-stamped (manifest format v2): the merge finds its affected
    // files from the manifest alone, no snapshot scan
    CurationPipeline.mergeSnapshotB(spark, root,
      Tables.documents(spark, sfDir))
    ManifestTable.read(spark, root)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Q156: the bounds-pruned RANGE READ, hash-gated — the documents table
    * as a bounds-stamped manifest table (8 doc_id-clustered files), then
    * [[ManifestTable.readWhereKeyBetween]] over the lowest fifth of the
    * id domain: the file set is decided from the manifest header +
    * per-file [lo, hi] alone (no footer reads — the spec pins inputFiles
    * < total), and the oracle recomputes the same range directly from
    * parquet, so a wrongly-pruned file (missing rows) or an unapplied
    * residual filter (extra rows) fires the hash gate. The range bounds
    * are integer arithmetic over min/max, identical on both engines. */
  def q156ManifestPrunedRead(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_pruned_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (mm.getLong(0),
      mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 5)
    ManifestTable.readWhereKeyBetween(spark, root, "doc_id", lo, hi)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text"))).as("n_chars"))
      .orderBy("lang")
  }

  /** Q163: format v5's point lookup, hash-gated — build lineitem as a
    * manifest table CLUSTERED on l_orderkey (so l_partkey is scattered:
    * every file's [lo, hi] on it spans the domain and stats alone prune
    * nothing) with `bloomCols = l_partkey`, then answer `l_partkey IN (5
    * probe keys)` through [[ManifestTable.readWherePointIn]]. The oracle
    * runs the same IN directly on parquet, so the hash gate pins the
    * no-false-negative contract: blooms may keep a wasted file, they may
    * never drop a matching row. The spec pins the pruning itself (files
    * opened ≪ files listed) — a correctness gate can't, since skipping is
    * invisible in the result by design. */
  def q163ManifestBloomPoint(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_bloom_")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    ManifestTable.overwriteClustered(spark, root, li, "l_orderkey", 8,
      bloomCols = Seq("l_partkey"))
    // deterministic probes: the 5 smallest part keys present (bounded
    // 5-row collect, same at every sf)
    val probes = li.select(col("l_partkey")).distinct()
      .orderBy(col("l_partkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    ManifestTable.readWherePointIn(spark, root, "l_partkey", probes)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_orderkey"),
        // integer-exact quantity sum: addition-order independent
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
      .orderBy(col("l_partkey"))
  }

  /** Q169: merge-on-read equality deletes end to end, hash-gated —
    * land documents as a manifest table, DELETE every doc_id ≡ 2
    * (mod 5) as one O(delta) delete commit (zero data-file IO, every
    * data file carried verbatim — the spec pins that), read the table
    * in BOTH regimes: 'mor' (outstanding delete files, readers
    * anti-join) and 'compacted' (optimize applied + dropped the
    * deletes). Both stages must equal the oracle's filtered aggregate
    * — the apply-at-read and apply-at-compaction paths cannot drift. */
  def q169ManifestEqualityDelete(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_eqdel_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(pmod(col("doc_id"), lit(5)) === 2).select("doc_id"))
    def aggOf(stage: String): DataFrame =
      ManifestTable.read(spark, root).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"))
        .withColumn("stage", lit(stage))
    val mor = aggOf("1_mor").localCheckpoint() // pin BEFORE compaction
    ManifestTable.optimize(spark, root, "doc_id", 4)
    mor.unionByName(aggOf("2_compacted"))
      .select("stage", "lang", "n_docs", "sum_doc_id")
      .orderBy("stage", "lang")
  }

  /** Q173: DESCRIBE HISTORY + time travel by TIMESTAMP, hash-gated on
    * the versioned contents — three commits land documents in thirds;
    * the query asserts the history invariants the wall-clock makes
    * un-hashable (one CommitInfo per version, commit instants
    * non-decreasing, metadata row counts exact, `readAtTimestamp` at
    * each commit's own instant resolving to exactly that version, a
    * pre-history timestamp failing loudly), then emits each version's
    * aggregate — which the oracle recomputes from the slice
    * definitions, so a wrong version resolution is hash-fatal. */
  def q173HistoryTimeTravel(spark: SparkSession,
                            sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_history_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    def third(i: Int) = docs.where(pmod(col("doc_id"), lit(3)) === i)
    ManifestTable.overwrite(spark, root, third(0))
    ManifestTable.append(spark, root, third(1))
    ManifestTable.append(spark, root, third(2))
    val h = ManifestTable.history(spark, root)
    require(h.map(_.version) == Seq(1, 2, 3) &&
      h.forall(_.deleteFiles == 0) &&
      h.map(_.timestampMs) == h.map(_.timestampMs).sorted,
      s"history shape wrong: $h")
    h.foreach { c =>
      require(c.rows.contains(
          ManifestTable.readAt(spark, root, c.version).count()),
        s"metadata row count drifted at v${c.version}")
      require(ManifestTable.readAtTimestamp(spark, root, c.timestampMs)
        .count() == c.rows.get,
        s"timestampAsOf at v${c.version}'s own instant resolved wrong")
    }
    require(scala.util.Try(ManifestTable.readAtTimestamp(spark, root,
        h.head.timestampMs - 1)).isFailure,
      "a pre-history timestamp must fail loudly, not serve a later " +
        "version")
    h.map(c => ManifestTable.readAt(spark, root, c.version)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"))
        .withColumn("version", lit(c.version)))
      .reduce(_ unionByName _)
      .select("version", "n_docs", "sum_doc_id")
      .orderBy("version")
  }

  /** Q174: CHECK constraints end to end, hash-gated — a constrained
    * table accepts two valid ingests (append + CoW merge), REJECTS a
    * violating append, a violating merge, and a constraint declared
    * over already-violating data (all three loudly, table unchanged —
    * asserted inside the query), and the constraint survives a
    * compaction. The oracle recomputes the final state arithmetically,
    * so an ingest that slipped a rejected batch in (or lost a valid
    * one) is hash-fatal. */
  def q174CheckConstraints(spark: SparkSession,
                           sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_check_")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    ManifestTable.overwrite(spark, root,
      li.where(pmod(col("l_orderkey"), lit(2)) === 0))
    ManifestTable.addConstraint(spark, root, "non_negative_price",
      "price_cents >= 0")
    // valid ingests pass: one append, one keyed CoW merge
    ManifestTable.append(spark, root,
      li.where(pmod(col("l_orderkey"), lit(2)) === 1))
    val bump = li.where(col("l_orderkey") === 1)
      .withColumn("price_cents", col("price_cents") + 1)
    ManifestTable.mergeCoW(spark, root, "l_orderkey",
      removeKeys = bump.select("l_orderkey").limit(0),
      // a merge keys whole orders: replace order 1's rows wholesale
      upserts = bump)
    val vBefore = ManifestTable.currentVersion(spark, root)
    // violating ingests are rejected loudly, table untouched
    require(scala.util.Try(ManifestTable.append(spark, root,
      li.limit(3).withColumn("price_cents", lit(-1L)))).isFailure,
      "violating append was accepted")
    require(scala.util.Try(ManifestTable.mergeCoW(spark, root, "l_orderkey",
      bump.select("l_orderkey").limit(0),
      bump.withColumn("price_cents", lit(-5L)))).isFailure,
      "violating merge was accepted")
    require(scala.util.Try(ManifestTable.addConstraint(spark, root,
      "impossible", "l_orderkey < 0")).isFailure,
      "a constraint over violating data was accepted")
    require(ManifestTable.currentVersion(spark, root) == vBefore,
      "a rejected ingest changed the table")
    // the constraint survives compaction
    ManifestTable.optimize(spark, root, "l_orderkey", 4)
    require(ManifestTable.constraintsOf(spark, root)
      == Map("non_negative_price" -> "price_cents >= 0"),
      "compaction shed the constraint")
    ManifestTable.read(spark, root).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_cents")).as("sum_price_cents"))
      .orderBy("l_returnflag")
  }

  /** Q179: COPY-ON-WRITE MERGE OVER OUTSTANDING EQUALITY DELETES (delete
    * sequencing), hash-gated — documents land clustered on doc_id, a MoR
    * delete suppresses every doc_id ≡ 1 (mod 3), then ONE
    * [[ManifestTable.mergeCoW]] interleaves all three delete-sequencing
    * cases: plain removes (doc_id ≡ 4 (mod 10) — some deleted, some
    * live), RESURRECTING upserts (doc_id ≡ 7 (mod 10): 7 mod 3 = 1 ⊂
    * deleted; 17 mod 3 = 2 live — mixed), and untouched deleted keys that
    * must STAY suppressed via the consolidated delete file the merge
    * carries forward. The oracle recomputes the final state from the
    * rules over raw parquet and compares doc_id + md5(text), so a
    * resurrected row that stayed suppressed, a suppressed row that
    * leaked, a lost remove, or an unapplied upsert is hash-fatal. The
    * spec pins the mechanics (consolidated delete file, carried files
    * untouched, optimize afterwards agreeing). */
  def q179MergeOverDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_mergedel_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(pmod(col("doc_id"), lit(3)) === 1).select("doc_id"))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = docs.where(pmod(col("doc_id"), lit(10)) === 4)
        .select("doc_id"),
      upserts = docs.where(pmod(col("doc_id"), lit(10)) === 7)
        .withColumn("text", concat(col("text"), lit(" upd"))))
    ManifestTable.read(spark, root)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Q187: COMPOSITE equality deletes (multi-column `#deletecol=`,
    * Iceberg's multi-column equality-delete shape), hash-gated — the
    * lineitem table keyed by the (l_orderkey, l_linenumber) TUPLE
    * takes one O(delta) delete commit of the tuples matching
    * `orderkey ≡ 0 (mod 5) ∧ linenumber odd` (zero data-file IO —
    * every data file carried verbatim), read in BOTH regimes ('mor':
    * readers anti-join the tuple set; 'compacted': optimize applies
    * and drops it). Both stages must equal the oracle's complement
    * aggregate — a row suppressed on a partial tuple match (the
    * single-column bug a composite delete exists to avoid) changes
    * counts and fires the gate. The one-column-SET-per-table rule,
    * the tuple resurrection guard, and the merge rejection are
    * spec-pinned. */
  def q187CompositeDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_compdel_")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    ManifestTable.overwriteClustered(spark, root, li, "l_orderkey", 8)
    ManifestTable.deleteWhereKeysIn(spark, root,
      Seq("l_orderkey", "l_linenumber"),
      li.where(pmod(col("l_orderkey"), lit(5)) === 0 &&
          pmod(col("l_linenumber"), lit(2)) === 1)
        .select("l_orderkey", "l_linenumber"))
    def aggOf(stage: String): DataFrame =
      ManifestTable.read(spark, root).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("stage", lit(stage))
    val mor = aggOf("1_mor").localCheckpoint() // pin BEFORE compaction
    ManifestTable.optimize(spark, root, "l_orderkey", 4)
    mor.unionByName(aggOf("2_compacted"))
      .select("stage", "l_returnflag", "n_rows", "sum_price_cents")
      .orderBy("stage", "l_returnflag")
  }

  /** Q191: TUPLE-KEYED COPY-ON-WRITE MERGE OVER OUTSTANDING COMPOSITE
    * EQUALITY DELETES (q179's delete-sequencing gate on a q187-shaped
    * table), hash-gated — lineitem keyed by the (l_orderkey,
    * l_linenumber) TUPLE: a composite MoR delete suppresses every
    * `orderkey ≡ 0 (mod 5) ∧ linenumber odd` tuple, then ONE
    * [[ManifestTable.mergeCoWKeys]] interleaves all three sequencing
    * cases at tuple granularity — removes of LIVE tuples (orderkey ≡ 4
    * (mod 10) — disjoint from the ≡0 (mod 5) delete set) AND removes of
    * SUPPRESSED tuples (orderkey ≡ 0 (mod 10), odd linenumbers — every
    * one sits in the delete set: the remove must make its delete moot,
    * dropping the tuple from the consolidated delete file without
    * resurrecting anything), RESURRECTING upserts (orderkey ≡ 5 (mod 10):
    * its odd-linenumber tuples sit in the delete set, its even ones are
    * live — mixed), and untouched deleted tuples that must STAY
    * suppressed via the consolidated delete file the merge carries
    * forward. The oracle replays the rules over raw parquet; a row
    * resurrected on a partial tuple match (the single-column bug), a
    * suppressed tuple that leaked, a lost remove, or an unapplied upsert
    * shifts the identity-weighted aggregate and fires the hash gate.
    * Mechanics (consolidated delete file, leading-column file pruning,
    * whole-tuple guard, mismatched-key rejection) are spec-pinned. */
  def q191CompositeMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_compmerge_")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    ManifestTable.overwriteClustered(spark, root, li, "l_orderkey", 8)
    ManifestTable.deleteWhereKeysIn(spark, root,
      Seq("l_orderkey", "l_linenumber"),
      li.where(pmod(col("l_orderkey"), lit(5)) === 0 &&
          pmod(col("l_linenumber"), lit(2)) === 1)
        .select("l_orderkey", "l_linenumber"))
    ManifestTable.mergeCoWKeys(spark, root,
      Seq("l_orderkey", "l_linenumber"),
      removeKeys = li.where(pmod(col("l_orderkey"), lit(10)) === 4 ||
          (pmod(col("l_orderkey"), lit(10)) === 0 &&
            pmod(col("l_linenumber"), lit(2)) === 1))
        .select("l_orderkey", "l_linenumber"),
      upserts = li.where(pmod(col("l_orderkey"), lit(10)) === 5)
        .withColumn("price_cents", col("price_cents") + 7))
    ManifestTable.read(spark, root)
      .groupBy(col("l_returnflag"),
        pmod(col("l_orderkey"), lit(10)).as("okey_mod"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price_cents")).as("sum_price_cents"),
        sum(col("l_orderkey") * col("l_linenumber")).as("sum_key_product"))
      .orderBy("l_returnflag", "okey_mod")
  }

  /** Q184: ROW-LEVEL COPY-ON-WRITE UPDATE ([[ManifestTable.updateWhere]]
    * — the redaction/correction shape: a takedown rewrites ONLY the files
    * holding matching rows), hash-gated — every doc_id ≡ 0 (mod 9) gets
    * its lang reset to the redaction sentinel and its text suffixed;
    * non-matching rows must pass through BIT-IDENTICAL (md5(text) hashes
    * the whole corpus, so a mangled carried or pass-through row anywhere
    * is hash-fatal). The oracle replays the CASE arithmetic over raw
    * parquet. The no-match no-op, the constraint gate on updated values,
    * and carried-vs-rewritten file counts are the spec's pins. */
  def q184UpdateWhere(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_update_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    ManifestTable.updateWhere(spark, root, pmod(col("doc_id"), lit(9)) === 0,
      Seq("lang" -> lit("xx"),
        "text" -> concat(col("text"), lit(" [redacted]"))))
    ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** Q158: SCHEMA EVOLUTION, hash-gated — the documents table committed
    * WITHOUT a lang column (v1), then an append that ADDS it (v2:
    * add-column evolution widens the committed `#schema=` header), read
    * back as one relation: pre-evolution rows surface lang as null
    * (grouped under a sentinel), post-evolution rows carry it. The
    * oracle replays the same two-phase union with a NULL lang for the
    * first subset, so a silently-dropped column, a misresolved old
    * file, or a wrong null-fill all fire the hash gate. Time-travel
    * schema (v1 has no lang at all) is the spec's pin. */
  def q158SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_evo_")
    val docs = Tables.documents(spark, sfDir)
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text"))
    ManifestTable.append(spark, root,
      docs.where(col("doc_id") % 3 === 0).select("doc_id", "text", "lang"))
    ManifestTable.read(spark, root)
      .groupBy(coalesce(col("lang"), lit("pre_evolution")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(length(col("text"))).as("n_chars"))
      .orderBy("lang")
  }

  /** Q198: FIELD-ID SCHEMA EVOLUTION ACROSS A FULL add → rename → drop
    * HISTORY, hash-gated — the documents table evolves through six
    * commits (create two-column → ADD lang header-only → append
    * three-column rows → RENAME lang→language header-only → append
    * rows written under the NEW name → DROP text header-only), so the
    * final table mixes files written under THREE namings/widths; the
    * query aggregates THREE regimes — post-add (v3, time travel),
    * post-rename (v5, time travel: files named `lang` and `language`
    * must merge BY FIELD ID under the renamed schema), and the
    * current post-drop mask — and the oracle replays each regime's
    * row set from raw parquet. A rename that nulled the old files'
    * values, a drop that leaked, or a time travel serving the wrong
    * regime shifts a group and is hash-fatal. The header-only pins
    * (same files across ALTERs), the re-add-gets-fresh-id
    * no-resurrection rule, and every rejection are
    * ManifestTableSpec's pins. */
  def q198FieldIdEvolution(spark: SparkSession,
                           sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_fid_")
    val docs = Tables.documents(spark, sfDir)
    ManifestTable.overwrite(spark, root,                           // v1
      docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text"))
    ManifestTable.addColumns(spark, root,                          // v2
      Seq(StructField("lang", StringType)))
    ManifestTable.append(spark, root,                              // v3
      docs.where(col("doc_id") % 3 === 0)
        .select("doc_id", "text", "lang"))
    ManifestTable.renameColumn(spark, root, "lang", "language")    // v4
    ManifestTable.append(spark, root,                              // v5
      docs.where(col("doc_id") % 10 === 1)
        .select((-(col("doc_id") + 1)).as("doc_id"), col("text"),
          col("lang").as("language")))
    ManifestTable.dropColumn(spark, root, "text")                  // v6
    def regime(df: DataFrame, langCol: String, stage: String,
               chars: Column): DataFrame =
      df.groupBy(coalesce(col(langCol), lit("pre_evolution"))
          .as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"), chars.as("n_chars"))
        .withColumn("stage", lit(stage))
    regime(ManifestTable.readAt(spark, root, 3), "lang", "1_added",
        sum(length(col("text"))))
      .unionByName(regime(ManifestTable.readAt(spark, root, 5), "language",
        "2_renamed", sum(length(col("text")))))
      .unionByName(regime(ManifestTable.read(spark, root), "language",
        "3_dropped", max(lit(-1L))))
      .select("stage", "lang", "n_docs", "sum_doc_id", "n_chars")
      .orderBy("stage", "lang")
  }

  /** Q199: WRITABLE BRANCHES — WRITE-AUDIT-PUBLISH, hash-gated: a recrawl
    * merge is STAGED on branch `audit` (commits invisible to every main
    * read), audited through BOTH surfaces (Scala
    * [[ManifestTable.readBranch]] and SQL `VERSION AS OF 'audit'` — the
    * spec pins they agree), and published as ONE main commit; a main-line
    * append lands DURING the branch life and must survive the publish
    * (file-granularity rebase over append-only main movement). Three
    * stages gate the isolation story: `1_main_pre` (pre-publish main —
    * the staged merge must be invisible, the concurrent append visible),
    * `2_branch_audit` (the branch head — merge applied, concurrent append
    * invisible: the audit sees exactly what it approves), `3_published`
    * (merge + append together). The oracle replays all three from the
    * rules; a leaked staged row, a lost concurrent append, or a publish
    * that resurrected a removed row is hash-fatal. Conflict rejections
    * (non-append main movement, schema /constraint drift, vacuumed gaps),
    * the vacuum retention floor, and dropBranch are ManifestTableSpec's
    * pins. */
  def q199BranchWap(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_wap_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8) // v1
    ManifestTable.createBranch(spark, root, "audit")                 // v2
    // a main-line append DURING the branch life (the negative
    // namespace — disjoint from the staged merge's key ranges)
    ManifestTable.append(spark, root,                                // v3
      docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .select((-(col("doc_id") + 1)).as("doc_id"), col("lang"),
          col("text")),
      boundsCol = Some("doc_id"))
    // the STAGED merge, on the branch: remove ≡7, edit ≡3 (mod 10)
    ManifestTable.mergeCoWKeys(spark, root, Seq("doc_id"),
      removeKeys = docs.where(pmod(col("doc_id"), lit(10)) === 7)
        .select("doc_id"),
      upserts = docs.where(pmod(col("doc_id"), lit(10)) === 3)
        .withColumn("text", concat(col("text"), lit(" v2"))),
      branch = Some("audit"))
    def agg(df: DataFrame, stage: String): DataFrame =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text"))).as("n_chars"))
        .withColumn("stage", lit(stage))
        .localCheckpoint() // pinned BEFORE publish mutates the table
    val mainPre = agg(ManifestTable.read(spark, root), "1_main_pre")
    val auditRead = agg(ManifestTable.readBranch(spark, root, "audit"),
      "2_branch_audit")
    ManifestTable.publishBranch(spark, root, "audit")                // v4
    mainPre.unionByName(auditRead)
      .unionByName(agg(ManifestTable.read(spark, root), "3_published"))
      .select("stage", "lang", "n_docs", "sum_doc_id", "n_chars")
      .orderBy("stage", "lang")
  }

  /** Q159: MANIFEST STATISTICS, hash-gated — per-version row counts of a
    * three-commit table (overwrite, append, optimize) answered FROM THE
    * MANIFEST'S v3 STATS ALONE: no data file is opened for the counts
    * (the spec pins that [[ManifestTable.rowCountFromStats]] is defined
    * and that a scan agrees); the oracle recomputes each version's subset
    * count directly from parquet, so a mis-stamped row count anywhere
    * fires the hash gate. This is the metadata-only `count(*)` every
    * format's file statistics exist for. */
  def q159ManifestStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_stats_")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    ManifestTable.overwriteClustered(spark, root,
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", 6)
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 5 === 0),
      boundsCol = Some("doc_id"))
    ManifestTable.optimize(spark, root, "doc_id", targetFiles = 3)
    (1 to 3).map { v =>
      val n = ManifestTable.rowCountFromStats(spark, root, Some(v))
        .getOrElse(throw new IllegalStateException(
          s"version $v of $root has outstanding deletes"))
      (v, n)
    }.toDF("version", "n_rows").orderBy("version")
  }

  /** Q160: SCD2 HISTORY BY TAILING MANIFEST COMMITS — the dimension-
    * maintenance pattern the CDC read (q157) exists for, run over a
    * MULTI-commit history: the documents table takes two successive
    * copy-on-write recrawl merges (v2 = the q79 rules, v3 = a second
    * delete+edit wave), and the type-2 slowly-changing dimension (doc_id,
    * text_md5, [valid_from, valid_to) in VERSION numbers, is_current) is
    * folded INCREMENTALLY: one [[ManifestTable.readChangesBetween]] per
    * commit closes the open rows of removed/modified keys and opens rows
    * for added/modified ones — each fold step is delta-file-sized
    * (carried files never surface), and no snapshot pair is ever
    * re-diffed. The oracle reconstructs the same history independently
    * (three snapshot CTEs + gaps-and-islands runs over version-stamped
    * hashes), so a missed close, a phantom open, or a wrong validity
    * bound anywhere in the fold fires the hash gate. At 100 TB this is
    * how a dimension table tracks a fact table that rewrites daily:
    * consume commits, never compare corpora. */
  def q160ManifestScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val root = buildScd2DemoTable(spark, sfDir, "manifest_scd2_")
    // the SCD2 fold: seed from v1, then apply each commit's CDC delta
    var scd = scd2Seed(ManifestTable.readAt(spark, root, 1))
    val latest = ManifestTable.currentVersion(spark, root).get
    for (v <- 2 to latest) {
      scd = scd2Step(scd,
        CurationPipeline.cdcDocDelta(spark, root, v - 1, v),
        v)
        .localCheckpoint() // keep the fold's lineage flat across commits
    }
    presentScd2(scd)
  }

  /** The three-commit documents history q160/q161 fold: v1 = the raw
    * table (8 doc_id-clustered bounds-stamped files), v2 = the q79
    * recrawl as one CoW merge, v3 = a second delete+edit wave over the
    * current table (positive ids only — the synthetic namespace stays
    * put). Returns the table root (rebuilt fresh per call). */
  private[graft] def buildScd2DemoTable(spark: SparkSession, sfDir: String,
                                        prefix: String): String = {
    val root = Artifacts.freshRoot(spark, sfDir, prefix)
    CurationPipeline.mergeSnapshotB(spark, root,
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
    val cur = ManifestTable.readAt(spark, root, 2)
    ManifestTable.mergeCoW(spark, root, "doc_id",
      cur.where(col("doc_id") > 0 && col("doc_id") % 10 === 9)
        .select("doc_id"),
      cur.where(col("doc_id") > 0 && col("doc_id") % 10 === 4)
        .withColumn("text", concat(col("text"), lit(" updated v3"))))
    root
  }

  /** SCD2 state seeded from a table's FIRST committed version. */
  private[graft] def scd2Seed(snapshotV1: DataFrame): DataFrame =
    snapshotV1.select(col("doc_id"), md5(col("text")).as("text_md5"),
      lit(1).as("valid_from"), lit(null).cast("int").as("valid_to"))

  /** One SCD2 fold step: close the open rows of removed/modified keys
    * at version `v`, open rows for added/modified ones — `delta` is a
    * reconciled row-level change relation
    * ([[CurationPipeline.cdcDocDelta]]'s shape). */
  private[graft] def scd2Step(base: DataFrame, deltaIn: DataFrame,
                              v: Int): DataFrame = {
    val delta = deltaIn.localCheckpoint() // delta-sized; read twice
    val closing = graft.Delta.stale(delta)
      .select(col("doc_id"), lit(1).as("_close"))
    val opening = graft.Delta.fresh(delta)
      .select(col("doc_id"), md5(col("text")).as("text_md5"),
        lit(v).as("valid_from"), lit(null).cast("int").as("valid_to"))
    base
      .join(closing, Seq("doc_id"), "left")
      .withColumn("valid_to",
        when(col("_close") === 1 && col("valid_to").isNull, lit(v))
          .otherwise(col("valid_to")))
      .drop("_close")
      .unionByName(opening)
  }

  /** Fail with `what` unless `a` and `b` hold the same rows as
    * multisets: ONE probe of signed per-row counts (+1 per row of `a`,
    * -1 per row of `b`, grouped on every column), empty exactly when
    * the two are equal. */
  private def requireSameRows(a: DataFrame, b: DataFrame,
                              what: String): Unit = {
    val drift = a.withColumn("_s", lit(1L))
      .unionByName(b.withColumn("_s", lit(-1L)))
      .groupBy(a.columns.map(col).toSeq: _*)
      .agg(sum(col("_s")).as("_d"))
      .where(col("_d") =!= 0).take(1)
    require(drift.isEmpty, what)
  }

  private[graft] def presentScd2(scd: DataFrame): DataFrame =
    scd
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .select("doc_id", "text_md5", "valid_from", "valid_to", "is_current")
      .orderBy("doc_id", "valid_from")

  /** Q161: the same SCD2 history as q160, maintained by the RESTARTABLE
    * version-tail runner ([[ManifestTail]]) instead of an in-memory
    * fold: each committed version is processed EXACTLY ONCE into a
    * persisted state dir (`v<N>` + `_SUCCESS`), the cursor is the
    * newest complete state, and a killed/restarted runner resumes from
    * it — the spec kills the catch-up mid-history and proves the resume
    * converges to the identical table; this query runs the full
    * catch-up and presents the final state, so the q160 oracle gates
    * the runner's end state row-for-row (one oracle, two maintenance
    * paths — q117/q142's shared-gate discipline). */
  def q161ManifestTailScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val root = buildScd2DemoTable(spark, sfDir, "manifest_tail_")
    val stateDir = Artifacts.freshRoot(spark, sfDir, "manifest_tailstate_")
    ManifestTail.catchUp(spark, root, stateDir)(
      seed = v1 => scd2Seed(v1),
      fold = (base, changes, v) => scd2Step(base,
        CurationPipeline.reconcileDocChanges(changes), v))
    presentScd2(ManifestTail.currentState(spark, stateDir).get)
  }

  /** Q178: A TWO-TABLE TRANSACTIONAL PIPELINE on the generalized catalog,
    * hash-gated — the q160 SCD2 history maintained as a PAIR of manifest
    * tables ('dim' = the type-2 dimension, 'cur' = the current-snapshot
    * mirror) that must never be seen from different transactions: each
    * source commit applies as ONE [[ManifestCatalog.transact]] (fold the
    * CDC delta into dim, re-mirror cur, one catalog publish), with a
    * CRASH INJECTED mid-history — a transaction that commits dim and dies
    * before the catalog pointer — whose orphan the next transact rolls
    * back ([[ManifestTable.restore]], content-compared so recovery never
    * re-restores forever). The final dim is q160's oracle VERBATIM (one
    * oracle, THREE maintenance paths now: in-memory fold q160, durable
    * tail q161, catalog transaction q178 — the shared-gate discipline),
    * and the gate also asserts cur ≡ the source's newest snapshot. */
  def q178CatalogTxnScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import ManifestCatalog.{Catalog, pins, readAtPins, transact}
    val root = buildScd2DemoTable(spark, sfDir, "manifest_cattxn_")
    val base = Artifacts.freshRoot(spark, sfDir,
      "manifest_cattxn_state_")
    val cat = Catalog(s"$base/catalog",
      Map("dim" -> s"$base/dim", "cur" -> s"$base/cur"))
    // seed transaction: dim from v1, cur mirrors v1
    transact(spark, cat) { _ =>
      val v1 = ManifestTable.readAt(spark, root, 1)
      Map(
        "dim" -> ManifestTable.overwrite(spark, cat.tables("dim"),
          scd2Seed(v1)),
        "cur" -> ManifestTable.overwrite(spark, cat.tables("cur"), v1))
    }
    val latest = ManifestTable.currentVersion(spark, root).get
    def applyCommit(v: Int, crashBeforeCatalog: Boolean): Unit = {
      val r = scala.util.Try(transact(spark, cat) { pinned =>
        val folded = scd2Step(
          ManifestTable.readAt(spark, cat.tables("dim"), pinned("dim")),
          CurationPipeline.cdcDocDelta(spark, root, v - 1, v), v)
        val vDim = ManifestTable.overwrite(spark, cat.tables("dim"),
          folded)
        if (crashBeforeCatalog)
          throw new IllegalStateException(
            "injected crash between member commit and catalog commit")
        Map("dim" -> vDim,
          "cur" -> ManifestTable.overwrite(spark, cat.tables("cur"),
            ManifestTable.readAt(spark, root, v)))
      })
      require(r.isSuccess != crashBeforeCatalog,
        s"crash injection at source v$v did not behave: $r")
    }
    for (v <- 2 to latest) {
      // the crashed attempt leaves dim's orphan; the retry must roll
      // it back and land the SAME transaction
      if (v == 2) applyCommit(v, crashBeforeCatalog = true)
      applyCommit(v, crashBeforeCatalog = false)
    }
    // cur is exactly the source's newest snapshot — ONE pins read
    // resolves both members (the multi-member consumer discipline)
    val p = pins(spark, cat)
    requireSameRows(ManifestTable.read(spark, root),
      readAtPins(spark, cat, p, "cur"),
      "the mirror member drifted from the source")
    presentScd2(readAtPins(spark, cat, p, "dim"))
  }

  /** Q193: N-DIMENSIONAL Z-ORDER — the q162/q188 discipline at THREE
    * dimensions, hash-gated: lineitem lands unclustered, ONE
    * [[ManifestTable.optimizeZOrderCols]] rewrites it into the 3-D Morton
    * layout (l_orderkey, l_partkey, l_suppkey —
    * [[ZOrderLayout.zValueN]]'s generic interleave) with v4 stats stamped
    * for all three columns, and a 3-predicate rectangle (each dimension's
    * lower quarter — an order-range x part-range x supplier-range slice)
    * is answered by [[ManifestTable.readWhereRect]] pruning files on
    * EVERY dimension from the manifest alone. The oracle recomputes the
    * rectangle aggregate straight from parquet with the same integer
    * bounds arithmetic, so a wrongly-skipped file or an unapplied
    * residual fires the hash gate. The LAYOUT claim — 3-D pruning
    * strictly beats every 2-D projection of the same three columns on
    * this query — is ManifestTableSpec's pin (skipping is invisible in a
    * correct result by design). */
  def q193ZOrder3D(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_z3_")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    ManifestTable.overwrite(spark, root, li)
    ManifestTable.optimizeZOrderCols(spark, root, ZOrderLayout.Z3Cols,
      targetFiles = 64)
    ManifestTable.readWhereRect(spark, root,
        ZOrderLayout.rectangle3Of(spark, sfDir))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).as("sum_orderkey"),
        sum(col("price_cents")).as("sum_price_cents"))
      .orderBy("l_returnflag")
  }

  /** Q130: rectangle slice off the Z-ORDERED events table — the reader
    * side of the layout. The filter is plain pushed per-column
    * predicates (literal user_id and ts bounds — `PushedFilters` in the
    * scan, spec-pinned); the Z-layout's file stats turn them into file
    * skipping on BOTH dimensions at once. Output carries the Z-value
    * itself so the hash gate pins the interleave arithmetic, the
    * bounds derivation, and the layout round-trip together. */
  def q130ZOrderRectangle(spark: SparkSession, sfDir: String): DataFrame = {
    import ZOrderLayout.tsOfMicros
    val (uHi, tLo, tHi) = ZOrderLayout.rectangleOf(spark, sfDir)
    ZOrderLayout.zEvents(spark, sfDir)
      .where(col("user_id") >= 0L && col("user_id") <= uHi &&
        col("ts") >= lit(tsOfMicros(tLo)) &&
        col("ts") <= lit(tsOfMicros(tHi)))
      .select(col("event_id"), col("user_id"),
        col("event_type"), col("zv"))
      .orderBy("event_id")
  }

  /** Q162: the Z-layout's rectangle served by MANIFEST-level 2-D file
    * skipping (format v4) — q130 pruned through parquet's per-file
    * column statistics at scan time; here the same z-clustered events
    * land as a manifest table with PER-FILE [lo, hi] stats on BOTH
    * rectangle dimensions (`statsCols = user_id, ts` — one stamped pass
    * at write time), and [[ManifestTable.readWhereRect]] decides the
    * file set from the manifest alone: a file is skipped the moment ONE
    * dimension's stats miss the rectangle, before any footer is opened
    * or directory listed. The z-clustering is what makes those stats
    * tight hyper-rectangles — without it every file spans both domains
    * and nothing prunes (the spec pins the 2-D file set strictly
    * smaller than either single dimension's). The oracle recomputes the
    * rectangle aggregate straight from parquet with the same integer
    * bounds arithmetic, so a wrongly-skipped file (missing rows) or an
    * unapplied residual (extra rows) fires the hash gate. */
  def q162ZOrderManifestRect(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val root = Artifacts.freshRoot(spark, sfDir, "manifest_zrect_")
    ManifestTable.overwrite(spark, root, ZOrderLayout.zOrdered(spark, sfDir),
      statsCols = Seq("user_id", "ts"))
    val (uHi, tLo, tHi) = ZOrderLayout.rectangleOf(spark, sfDir)
    eventTotals(ManifestTable.readWhereRect(spark, root,
        Seq(("user_id", 0L, uHi), ("ts", tLo, tHi))))
      .orderBy("event_type")
  }

  /** Per event_type: the event count, user-id sum and exact value
    * cents q162, q164, q177 and q197 gate. */
  private def eventTotals(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_id")).as("sum_user_id"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))

  /** The events in three event_id slices (mod 3), the commits the
    * stream demos land one at a time. */
  private def eventThirds(spark: SparkSession,
                          sfDir: String): Int => DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("value"))
    i => ev.where(pmod(col("event_id"), lit(3)) === i)
  }

  /** One fresh AvailableNow query of [[eventTotals]] over the stream
    * `events` into the complete-mode memory table `qn`, resuming from
    * `checkpoint` — each call is a new "process" continuing where the
    * last one stopped. */
  private def drainEventTotals(events: DataFrame, qn: String,
                               checkpoint: String): Unit =
    eventTotals(events).writeStream.format("memory").queryName(qn)
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** q164's history, which q197 replays by table name: the events land
    * in `root` as three slice commits (overwrite, append, append), one
    * [[drainEventTotals]] pass over `stream` (the table read as a
    * stream, rebuilt per pass) after each; returns the final totals. */
  private[operators] def drainedThirds(spark: SparkSession, sfDir: String,
                                       root: String, qn: String,
                                       checkpoint: String)(
      stream: => DataFrame): DataFrame = {
    val slice = eventThirds(spark, sfDir)
    ManifestTable.overwrite(spark, root, slice(0))
    drainEventTotals(stream, qn, checkpoint)
    ManifestTable.append(spark, root, slice(1))
    drainEventTotals(stream, qn, checkpoint)
    ManifestTable.append(spark, root, slice(2))
    drainEventTotals(stream, qn, checkpoint)
    spark.table(qn).orderBy("event_type")
  }

  /** Q164: the manifest table AS A STREAM, hash-gated — land events as
    * a manifest table in three commits, and between each commit run an
    * AvailableNow pass of ONE checkpointed streaming aggregation whose
    * source is the table itself. Each pass is a fresh "process": the
    * engine's checkpoint carries the VERSION offset (so pass 2 reads
    * only commit 2's files, pass 3 only commit 3's) and the state store
    * carries the running aggregate. The final complete-mode table must
    * therefore equal the one-shot batch aggregate over all events — the
    * oracle — which a dropped, duplicated, or re-snapshotted commit
    * would break. Money sums are exact cents (q162's discipline). */
  def q164StreamManifestSource(spark: SparkSession,
                               sfDir: String): DataFrame = {
    val base = Artifacts.freshRoot(spark, sfDir, "manifest_stream_")
    val root = s"$base/tbl"
    drainedThirds(spark, sfDir, root,
        Artifacts.nameOf(spark, sfDir, "q164_agg_"), s"$base/ck")(
      spark.readStream.format(classOf[ManifestStreamProvider].getName)
        .option("path", root).load())
  }

  /** Q177: THE APPEND TAIL ACROSS INTERLEAVED COMPACTIONS, hash-gated
    * — q164's checkpointed streaming aggregation (fresh process per
    * drain), but the table is OPTIMIZED between appends, twice. With
    * `.option("onRewriteCommits", "skip")` the tail ignores the
    * rewrite commits' output files entirely (Delta's
    * `skipChangeCommits`): every event still arrives EXACTLY ONCE
    * (appends flow; a rewrite adds no rows by contract), so the final
    * complete-mode table must equal the one-shot batch aggregate —
    * q164's own oracle verbatim (one oracle, two maintenance
    * histories: the q160/q161 shared-gate discipline). A re-delivered
    * carried row (the failure this policy exists for) would double a
    * count and fire the hash gate. The DEFAULT policy's loud failure
    * on the same history, and the explicit `redeliver` opt-in, are
    * ManifestStreamSpec's pins. */
  def q177TailAcrossOptimize(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val base = Artifacts.freshRoot(spark, sfDir, "manifest_tailopt_")
    val root = s"$base/tbl"
    val qn = Artifacts.nameOf(spark, sfDir, "q177_agg_")
    val slice = eventThirds(spark, sfDir)
    def drainOnce(): Unit = drainEventTotals(
      spark.readStream.format(classOf[ManifestStreamProvider].getName)
        .option("path", root)
        .option("onRewriteCommits", "skip")
        .load(), qn, s"$base/ck")
    ManifestTable.overwriteClustered(spark, root, slice(0), "event_id", 4)
    drainOnce()
    ManifestTable.optimize(spark, root, "event_id", 2) // rewrite #1
    ManifestTable.append(spark, root, slice(1))
    drainOnce() // one batch spans rewrite + append: append rows only
    ManifestTable.append(spark, root, slice(2))
    ManifestTable.optimize(spark, root, "event_id", 3) // rewrite #2
    drainOnce()
    spark.table(qn).orderBy("event_type")
  }

  /** Q170: the CHANGE DATA FEED stream, hash-gated — documents land as
    * a manifest table (v1 = ~80%), an append adds the rest (v2), a
    * merge-on-read equality delete suppresses every doc_id ≡ 0 (mod 7)
    * (v3); a checkpointed CDF stream drains after EACH commit (three
    * fresh processes — version offsets prove continuation), landing
    * (doc_id, lang, _change) rows in a parquet sink. The gate folds
    * the feed back into a table — inserts anti-joined by the streamed
    * delete keys — and aggregates; it must equal the oracle's filtered
    * aggregate, which breaks if the feed drops, duplicates, or
    * mis-tags any commit's rows. */
  def q170ManifestChangeFeed(spark: SparkSession,
                             sfDir: String): DataFrame = {
    val base = Artifacts.freshRoot(spark, sfDir, "manifest_cdf_")
    val root = s"$base/tbl"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    def drainOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/feed")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ManifestTable.overwrite(spark, root,
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0))
    drainOnce()
    ManifestTable.append(spark, root,
      docs.where(pmod(col("doc_id"), lit(5)) === 0))
    drainOnce()
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
    drainOnce()
    val feed = spark.read.parquet(s"$base/feed")
    val dels = feed.where(col("_change") === "delete").select("doc_id")
    feed.where(col("_change") === "insert")
      .join(dels, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))
      .orderBy("lang")
  }

  /** Q176: THE CDC LOOP CLOSED — a manifest table's change feed drained
    * into a SECOND manifest table through the exactly-once delete-bearing
    * sink, hash-gated. The source takes four commits (snapshot, append,
    * merge-on-read equality delete, and a CoW merge that removes live
    * keys AND resurrects deleted ones — delete sequencing in the feed's
    * own history); after EACH commit a fresh process drains the CDF
    * stream (`maxVersionsPerTrigger = 1`, so batches are per-commit)
    * through [[ManifestSink.applyChangesInto]]. After the final drain, a
    * whole re-drain against the same checkpoint AND a force-replay of the
    * last (delete-bearing) batch must both be no-ops. The gate asserts
    * mirror ≡ source row-for-row, then emits the mirror's aggregate —
    * which the oracle recomputes from the commit rules, so a dropped
    * delete, a double-applied batch, or a missed resurrection is
    * hash-fatal. */
  def q176CdcApplySink(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Artifacts.freshRoot(spark, sfDir, "manifest_cdcapply_")
    val src = s"$base/src"
    val dst = s"$base/dst"
    val appId = "q176-cdc-apply"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    def drainOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", src)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch(
          ManifestSink.applyChangesInto(spark, dst, "doc_id", appId))
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // bootstrap the mirror (schema-bearing zero-row seed)
    ManifestTable.overwrite(spark, dst, docs.limit(0).repartition(1))
    // commit 1: the snapshot (bounds-stamped, clustered)
    ManifestTable.overwriteClustered(spark, src,
      docs.where(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", 8)
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
    val replayed = ManifestSink.applyChangesBatch(spark, dst, "doc_id",
      appId,
      ManifestTable.readChangesBetween(spark, src, 3, 4), lastBatch)
    require(!replayed &&
      ManifestTable.currentVersion(spark, dst) == vBefore,
      "a replayed CDC batch re-applied — the txn marker failed")
    // the mirror IS the source, row for row
    val srcRows = ManifestTable.read(spark, src)
    val dstRows = ManifestTable.read(spark, dst)
    requireSameRows(srcRows, dstRows, "mirror drifted from source")
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
    val base = Artifacts.freshRoot(spark, sfDir, "manifest_upsert_")
    val root = s"$base/tbl"
    val appId = "q171-upsert"
    val ev = Tables.events(spark, sfDir)
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
        .foreachBatch(
          ManifestSink.upsertInto(spark, root, "event_id", appId))
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
    val replayed = ManifestSink.upsertBatch(spark, root, "event_id", appId,
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
