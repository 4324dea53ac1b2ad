package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.functions.Text

/** Deduplication surface for LLM training-data pipelines, over the
  * `documents` table. Four escalating strategies:
  *
  *  - Q15 exact dedup: group on `xxhash64(norm)` + exact verify
  *    ([[dupGroupsFromFeatures]]), reading the hash off the
  *    [[TextQueries.docFeatures]] artifact, so the corpus-wide pass
  *    scans fixed-width columns and its exchange carries 8-byte keys,
  *    never the normalized string — semantics identical to grouping on
  *    the text itself.
  *  - Q18 MinHash + LSH: per-doc signatures computed entirely map-side
  *    (array expressions, zero shuffle), then an LSH band self-join so
  *    candidate generation is O(candidates), never O(n²).
  *  - Q19 n-gram Jaccard: exact pairwise Jaccard via an inverted
  *    shingle→doc join — the classic "similarity join by inverted index"
  *    that only pairs documents actually sharing a shingle.
  *  - Q20 SimHash: 32-bit fingerprints as integers; near-dup = small
  *    hamming distance (pairing left to the caller / Q18-style banding).
  *
  * The reference engine has no dedup operator; its closest semantics is the
  * combiner's per-key value dedup (reference main.c:62-81), which Q15
  * generalizes from value lists to whole documents. Sketch algorithms are
  * the published ones: MinHash resemblance (Broder, "On the resemblance
  * and containment of documents", 1997), LSH banding (Indyk–Motwani 1998 /
  * Leskovec-Rajaraman-Ullman MMDS ch.3), SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002).
  *
  * All hash material derives from md5 (hex prefixes / 32-bit chunks cast
  * to long) so the DuckDB oracle reproduces every signature bit-for-bit;
  * ranking/thresholds use rounded doubles only.
  */
object DedupQueries {

  /** 64-bit content key for the narrow-shuffle exact dedup: the corpus
    * exchanges this instead of the normalized text. */
  private[graft] def normHash(norm: Column): Column = xxhash64(norm)

  /** The corpus-wide half of narrow-key exact dedup, over an explicit
    * `(h, doc_id)` relation: one aggregate carrying `(partial count,
    * partial min)` — 8-byte keys plus two fixed-width partials with
    * map-side combine, never documents; at 100 TB the wire cost is
    * count-of-distinct-norms rows per task, not the corpus. Carrying
    * min(doc_id) here is what lets q15 answer singleton groups from
    * THIS pass (the single member IS the keeper — a collision needs two
    * rows). The shipped queries feed it from the
    * [[TextQueries.docFeatures]] artifact, so the pass reads a
    * fixed-width column pair instead of re-tokenizing the corpus. */
  private[graft] def hashGroupsOfKeyed(hDoc: DataFrame): DataFrame =
    hDoc.groupBy("h").agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"))

  /** [[hashGroupsOfKeyed]] over a raw `(doc_id, norm)` relation — the
    * form for relation-valued inputs (specs, embedded uses) that have
    * no features artifact behind them. */
  private[graft] def hashGroups(idNorm: DataFrame): DataFrame =
    hashGroupsOfKeyed(
      idNorm.select(normHash(col("norm")).as("h"), col("doc_id")))

  /** The doc_ids belonging to multi-hash groups — the dup-sized routing
    * list of narrow-key dedup. The probe is bloom-prefiltered MAP-SIDE
    * (q66's discipline, over `multiH`'s 64-bit hashes): rows that miss
    * the bloom never reach the join, so even when the planner falls
    * back from broadcasting `multiH` to a shuffle join — the regime the
    * unhinted join deliberately permits — the keyed side of that
    * exchange is bloom-hits only (dups + the FP trickle). The exact
    * join then drops the FPs. Checkpointed: consumers size a second
    * bloom from it and join through it. */
  private[graft] def dupMemberIds(hDoc: DataFrame,
                                  multiH: DataFrame): DataFrame =
    bloomHits(hDoc, col("h"),
        buildBloomOn(multiH, col("h"), bloomBitsFor(multiH.count())))
      .join(multiH, Seq("h"))
      .select("doc_id")
      .localCheckpoint()

  /** `(doc_id, norm)` for exactly `ids`, resolved from the raw
    * `documents` table: the scan is bloom-prefiltered on doc_id
    * map-side, the normalized string is computed ONLY for bloom hits
    * (dups + the FP trickle — the corpus is never re-tokenized), and
    * the exact join drops the FPs. In the forced non-broadcast regime
    * the exchange under that join therefore carries dup-sized
    * `(doc_id, norm)` rows, never the corpus's text. */
  private[graft] def normsForIds(spark: SparkSession, sfDir: String,
                                 ids: DataFrame): DataFrame =
    bloomHits(Tables.documents(spark, sfDir).select("doc_id", "text"),
        col("doc_id"),
        buildBloomOn(ids, col("doc_id"), bloomBitsFor(ids.count())))
      .select(col("doc_id"), Text.normalized(col("text")).as("norm"))
      .join(ids, Seq("doc_id"))

  /** Per-NORM-group keeper metadata over a dup-sized verify base:
    * (norm, keep_id, dup_cnt) — checkpointed, since keepers, the
    * dropped list AND the exact-dup edge set all derive from it. The
    * norm column stays inside this dup-sized relation; consumers
    * project it away. */
  private def keeperGroupsOf(base: DataFrame): DataFrame =
    base
      .groupBy("norm")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Narrow-key EXACT dedup metadata over the documents under `sfDir`,
    * optionally restricted by `pred` (a predicate over
    * [[TextQueries.docFeatures]] columns — the curation front passes
    * its quality gate so the dedup decision is computed among
    * survivors):
    *
    *  - `multiH`: hashes with >1 member (the narrow corpus-wide pass —
    *    an aggregate over the artifact's `(h, doc_id)` columns, no
    *    tokenize);
    *  - `keepers`: `(keep_id, dup_cnt)` — the exact per-NORM-group
    *    min-doc_id and size among multi-hash docs (the [[normsForIds]]
    *    verify pass, doubly bloom-prefiltered: an h-bloom routes
    *    artifact rows, a doc_id-bloom guards the documents rescan that
    *    resolves real norms for dup rows only), so a 64-bit collision
    *    can never merge two distinct texts (the two colliding
    *    singletons each come back as their own keeper);
    *  - `dropped`: the doc_ids the dedup REMOVES (multi members that are
    *    not keepers) — the decision in its narrowest form.
    *
    * All three are dup-group-sized and localCheckpoint-backed: consumers
    * would otherwise re-run the corpus aggregate per use (the q79 delta
    * discipline). Consumers attach the decision by ONE `left_anti`
    * against `dropped` — their wide rows never probe `multiH`/`keepers`
    * directly. Joins against these sides are deliberately unhinted: they
    * are dup-sized, so AQE broadcasts them at any realistic dup rate,
    * and at the extreme (billions of dup groups) the planner falls back
    * to a shuffle join — which, with the bloom-guarded probe and the
    * narrow attach, exchanges only bloom-hit rows and 8-byte ids, never
    * the corpus's text or norm columns (spec-pinned with broadcasts
    * force-disabled in ScaleSpec).
    *
    * Measured trade at sf0.1 (SCALING.md "Narrow-key exact dedup"):
    * consumer shuffles narrowed ~10× (q64 1.37 → 0.08 MB), and the
    * features-artifact form keeps the per-query wall cost to the
    * metadata jobs — the tokenize passes moved into the build-once
    * artifact.
    *
    * COMPUTED ONCE per (session, dir, predicate) and shared across
    * queries — the cluster-labels discipline ([[clusterLabels]]): the
    * dedup decision is a pure function of the corpus snapshot, q15/q67
    * read the same raw-corpus trio and q50/q64 the same gated ones, and
    * the trio is a handful of metadata jobs whose per-query scheduling
    * cost would otherwise dominate toy-scale wall time. Bench prewarms
    * the shipped predicates into `artifacts_sec`
    * ([[CurationPipeline.prewarmDedupMeta]]), so per-query numbers show
    * consumer cost, same accounting as every other artifact. */
  def dupGroupsFromFeatures(spark: SparkSession, sfDir: String,
                            pred: Column = lit(true))
      : (DataFrame, DataFrame, DataFrame) = {
    val meta = dupMetaFor(spark, sfDir, pred)
    (meta.multiH, meta.keepers, meta.dropped)
  }

  /** The cached [[DupMeta]] for (dir, predicate) — derivation shared by
    * the trio consumers and [[exactDupEdges]], so the edge path can
    * never observe a cache entry the trio path didn't just ensure. */
  private def dupMetaFor(spark: SparkSession, sfDir: String,
                         pred: Column): DupMeta =
    trioCache(spark, sfDir, pred.toString) {
      val keyed = TextQueries.docFeatures(spark, sfDir)
        .where(pred).select("h", "doc_id")
      val multiH = hashGroupsOfKeyed(keyed)
        .where(col("cnt") > 1).select("h").localCheckpoint()
      val ids = dupMemberIds(keyed, multiH)
      dupMetaOf(multiH, normsForIds(spark, sfDir, ids).localCheckpoint())
    }

  /** The EXACT-dup edge set of the corpus under `sfDir`: one
    * `(doc_id_1 = member, doc_id_2 = keeper)` row per non-keeper member
    * of each exact-dup norm group — [[dupGroupsFromFeatures]]' fourth
    * product, derived from the SAME checkpointed verify base (shared
    * session cache), so the cluster build's exact edges and q15's
    * keeper rule cannot drift. Dup-sized; evaluated lazily so gated
    * trio consumers (q50/q64) never pay for it. */
  private[graft] def exactDupEdges(spark: SparkSession,
                                   sfDir: String): DataFrame =
    // the lazy edge build (a checkpoint job) is forced outside the
    // memo's lock; DupMeta's lazy val has its own monitor, so
    // concurrent forcing stays race-free
    dupMetaFor(spark, sfDir, lit(true)).edges

  /** Metadata bundle one verify base yields: the trio every consumer
    * attaches, plus the exact-dup edge set the cluster build consumes —
    * `edges` lazy (checkpoint on first use). */
  private final class DupMeta(val multiH: DataFrame, val keepers: DataFrame,
                              val dropped: DataFrame,
                              edgesThunk: () => DataFrame) {
    lazy val edges: DataFrame = edgesThunk()
  }

  /** Metas already derived this session, keyed by (dir, predicate SQL).
    * A predicate built through a different expression tree misses the
    * cache and rebuilds: never wrong, only unshared. */
  private val trioCache = new Artifacts.Memo[DupMeta]

  /** [[dupGroupsFromFeatures]] over a raw `(doc_id, norm)` relation —
    * same metadata, same keeper rule, for inputs that are not the
    * documents table (the synthetic-dup spec; any embedded relation).
    * Norms resolve from the relation itself instead of a documents
    * rescan. */
  private[graft] def dupGroups(idNorm: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val keyed = idNorm.select(normHash(col("norm")).as("h"), col("doc_id"))
    val multiH = hashGroupsOfKeyed(keyed)
      .where(col("cnt") > 1).select("h").localCheckpoint()
    val ids = dupMemberIds(keyed, multiH)
    val meta = dupMetaOf(multiH, idNorm.join(ids, Seq("doc_id")).localCheckpoint())
    (meta.multiH, meta.keepers, meta.dropped)
  }

  /** The shared tail of both metadata forms: keepers, the dropped-id
    * list and the lazy edge set from one checkpointed verify base, so
    * the keeper rule (tie-break, collision handling) cannot drift
    * between q15's answer, the pipeline's dedup decisions and the
    * cluster build's exact edges. */
  private def dupMetaOf(multiH: DataFrame, base: DataFrame): DupMeta = {
    val normKeepers = keeperGroupsOf(base).localCheckpoint()
    val keepers = normKeepers.select("keep_id", "dup_cnt")
    // the DROPPED-id list: multi-hash members that are not their norm
    // group's keeper — the complete per-doc dedup decision as a narrow,
    // dup-sized relation. Consumers attach it with ONE anti-join instead
    // of probing multiH + keepers with their wide rows, so the corpus
    // side never carries text/norm into the attach even when the
    // dup-sized side is too big to broadcast. Derived from the
    // checkpointed base + keepers: no extra corpus pass.
    val dropped = base.select("doc_id")
      .join(keepers.select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // exact-dup edges (member -> keeper): the same norm-group join the
    // old cluster build ran corpus-wide, here over two dup-sized
    // checkpointed relations — norm strings never leave them
    val edges = () => base.select("doc_id", "norm")
      .join(normKeepers.select("norm", "keep_id"), Seq("norm"))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as("doc_id_1"), col("keep_id").as("doc_id_2"))
      .localCheckpoint()
    new DupMeta(multiH, keepers, dropped, edges)
  }

  /** Q15: exact dedup on normalized text; keep the smallest doc_id per
    * group (deterministic representative). Narrow-key form over the
    * [[TextQueries.docFeatures]] artifact: docs whose hash is unique
    * are their own group, answered straight from the
    * [[hashGroupsOfKeyed]] aggregate (its min(doc_id) partial — no
    * anti-join); multi-hash groups resolve real norms through
    * [[normsForIds]]'s dup-sized verify pass. The query itself never
    * tokenizes the corpus — that happened once, at artifact build. The
    * oracle still groups on the normalized string itself — the hash
    * never changes the answer, only what the scan reads and the
    * exchange carries. Multi-hash keepers come from the shared
    * [[dupGroupsFromFeatures]] trio (one derivation per session), so
    * the query's own plan is a single aggregate over the artifact
    * unioned with the dup-sized keeper list. */
  def q15ExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = TextQueries.docFeatures(spark, sfDir).select("h", "doc_id")
    val groups = hashGroupsOfKeyed(keyed)
    val (_, keepers, _) = dupGroupsFromFeatures(spark, sfDir)
    groups.where(col("cnt") === 1)
      .select(col("min_id").as("keep_id"), lit(1L).as("dup_cnt"))
      .unionByName(keepers)
      .orderBy("keep_id")
  }

  /** MinHash parameters: 16 permutations, 8 bands × 2 rows.
    * Band threshold ≈ (1/8)^(1/2) ≈ 0.35 — tuned to the corpus, where
    * max observed Jaccard ≈ 0.5. */
  val NumHashes = 16
  val NumBands  = 8
  val RowsPerBand: Int = NumHashes / NumBands

  /** Per-doc MinHash signature (array of 16 long minhashes over word
    * 3-shingles), computed as shingle rows → groupBy with 16 flat `min`
    * aggregates. The 16 hash functions are the four 32-bit chunks of four
    * salted md5s — md5 (the expensive part) runs 4× per shingle, not 16×,
    * and the chunks are independent bits of a cryptographic hash, so each
    * behaves as an independent permutation.
    *
    * (A cheaper affine family h_i = h1 + i·h2 WITHOUT modular mixing is
    * statistically broken — as i grows the argmin collapses to the
    * h2-minimum, so one doc-exclusive shingle with a small h2 wrecks the
    * whole signature; caught by the estimator-error spec, est 0.125 vs
    * exact 0.988.)
    *
    * Why this shape, not nested `transform`s: (a) flat min-aggs run
    * codegen'd with map-side partial aggregation, while nested HOFs
    * evaluate interpreted; (b) the Aggregate is a materialization barrier,
    * so downstream banding/join projections bind to the computed `sig`
    * attribute instead of Catalyst's CollapseProject inlining (and
    * re-evaluating) the whole tokenize→shingle→hash lineage per band row
    * and per joined pair (measured 74 s → sub-second on 50 docs). */
  private def computeSignatures(spark: SparkSession, sfDir: String): DataFrame =
    computeSignaturesFrom(shingles(spark, sfDir))

  /** The signature pipeline over an EXPLICIT (doc_id, s) shingle
    * relation — shared by the full build (whole shingle artifact in)
    * and q83's incremental refresh (delta docs' shingles in), so the
    * two paths can never drift. */
  def computeSignaturesFrom(shingleRows: DataFrame): DataFrame = {
    val sh = shingleRows
      .select(Seq(col("doc_id")) ++ (0 until NumHashes / 4).map(a =>
        md5(concat(lit(s"$a:"), col("s"))).as(s"m$a")): _*)
    val minAggs = (0 until NumHashes).map { i =>
      val (a, b) = (i / 4, i % 4)
      min(conv(substring(col(s"m$a"), b * 8 + 1, 8), 16, 10).cast("long"))
        .as(s"h$i")
    }
    sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** The word-3-shingle ARTIFACT: `(doc_id, s)` rows for the WHOLE
    * documents table, tokenized exactly once per (session, scale dir).
    * Five query families consume shingles (signatures/q18-family, q19
    * inverted-index Jaccard, q52/q64/q67 decontamination, q66 bloom);
    * before this artifact each ran its own tokenize→window→distinct pass
    * over the corpus — at 100 TB, five full corpus scans for one logical
    * relation. Production pipelines materialize the tokenized/shingled
    * corpus once (it is THE shared input of every n-gram-based curation
    * stage) and this table is that artifact. Bucketed on doc_id so the
    * per-doc aggregates downstream (signature min-aggs, shingle-set
    * sizes, contamination counts grouped post-join) start from a
    * doc_id-clustered read. Corpus/benchmark splits filter the artifact:
    * shingling is per-document, so filter-then-shingle ≡ shingle-then-
    * filter. */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_shingles_", "doc_id") {
      Text.shingleRows(Tables.documents(spark, sfDir), "doc_id", "text", 3)
    }

  /** The MinHash signature ARTIFACT: [[computeSignatures]] run ONCE per
    * (session, scale dir) and written as a bucketed table, which every
    * consumer (q18 banding, q42 clustering, q47 verify, q50 curation)
    * then reads. Round 3 measured those four queries each recomputing
    * the tokenize→shingle→4×md5→16-min-agg subtree from scratch — four
    * full corpus passes (~12 s of the 37.5 s bench) where a production
    * pipeline runs one: at 100 TB signatures are a first-class artifact
    * written by one job and consumed by every dedup stage. Bucketed +
    * sorted on doc_id so doc_id-keyed consumers can join without an
    * exchange (the ScaleSpec bucketed-join pattern). Builds on the
    * [[shingles]] artifact, so the tokenize pass is shared with the
    * n-gram consumers too. */
  def signatures(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_signatures_", "doc_id") {
      computeSignatures(spark, sfDir)
    }

  /** Q18: MinHash LSH candidate pairs with estimated Jaccard.
    * Shuffles: one on (band_idx, band_key) for bucketing, one to dedup
    * pairs — both proportional to candidates, not n². The band key is the
    * plain concatenation of the band's minhashes (no extra hashing — it IS
    * already a hash). */
  def q18MinhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // both self-join sides read the materialized signature table; the
    // md5/min-agg pipeline runs once per (session, sfDir), not per query
    val sig = signatures(spark, sfDir)
    val bands = sig.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(NumBands - 1)),
        j => concat_ws(",",
          transform(slice(col("sig"), j * lit(RowsPerBand) + lit(1),
            lit(RowsPerBand)), h => h.cast("string"))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    val a = bands.select(col("doc_id").as("doc_id_1"), col("sig").as("sig1"),
      col("band_idx"), col("band_hash"))
    val b = bands.select(col("doc_id").as("doc_id_2"), col("sig").as("sig2"),
      col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .where(col("doc_id_1") < col("doc_id_2"))
      .select(col("doc_id_1"), col("doc_id_2"),
        round(size(filter(zip_with(col("sig1"), col("sig2"),
          (x, y) => x === y), m => m)) / lit(NumHashes.toDouble), 4)
          .as("est_jaccard"))
      .distinct()
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Q19: exact n-gram (word 3-shingle) Jaccard ≥ 0.35 via inverted-index
    * self-join: explode shingles → join on shingle → count common → Jaccard
    * from per-doc set sizes. Only co-shingled pairs are ever materialized.
    *
    * Measured and rejected: pruning single-document shingles before the
    * join (the standard similarity-join optimization for mostly-unique
    * corpora). This corpus has a ~31-word vocabulary, so virtually every
    * shingle is shared — the prune removed almost nothing and its extra
    * shuffle (or window sort) cost 1.5-7× (A/B at sf0.1: no-prune 3.2 s
    * stable; window-prune 5.8-10.9 s; groupBy-prune 4.7-23.8 s). On a
    * sparse real-world corpus add the `df > 1` filter back — the pair
    * join's input, not this operator's shape, is what explodes. */
  def q19NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // distinct co-shingled pairs with their common-shingle counts
    sh.select(col("doc_id").as("doc_id_1"), col("s"))
      .join(sh.select(col("doc_id").as("doc_id_2"), col("s")), Seq("s"))
      .where(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2").agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("doc_id_1"), col("n").as("n1")), "doc_id_1")
      .join(sz.select(col("doc_id").as("doc_id_2"), col("n").as("n2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("i").cast("double") / (col("n1") + col("n2") - col("i")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= 0.35)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Q20: 32-bit SimHash fingerprint per document, weighted by per-doc
    * token frequency. Bit b of md5(token) contributes +cnt/-cnt; fingerprint
    * sets bit b iff the sum is positive. Integer output → exact compare.
    *
    * Shape: 32 flat conditional-sum aggregates over the (doc, token, cnt)
    * rows — one shuffle, all codegen, md5 computed once per row (the
    * earlier posexplode-by-bit version re-evaluated the hash 32× per token
    * and tripled the shuffles). */
  def q20Simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashFingerprints(spark, sfDir, bits = 32)

  /** Q20's fingerprint pipeline parameterized by WIDTH — the scale knob
    * SCALING.md motivates: on this dense corpus the 32-bit/8-bit-band
    * layout collides ~20% of all pairs, and the published fix (Manku et
    * al., WWW'07 run 64-bit fingerprints) is a wider fingerprint with
    * wider bands, which shrinks false collisions exponentially while the
    * pigeonhole recall guarantee is unchanged. `bits` ≤ 60 keeps the
    * bit-weight sum inside a signed long (hex-nibble granularity; 60 bits
    * is the engine's "64-bit-class" setting, 15-bit bands × 4). Plan
    * shape is width-independent: one shuffle, `bits` flat conditional
    * sums, all codegen. */
  def simhashFingerprints(spark: SparkSession, sfDir: String,
                          bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits > 0 && bits <= 60,
      s"bits must be a positive multiple of 4 ≤ 60: $bits")
    // token rows off the span-feature artifact (same multiset as an
    // explode of Text.tokens): q48's banding self-join evaluates this
    // subtree once per side, so the artifact scan replaces what used to
    // be two corpus tokenizes per q48 run (QTime, round 8)
    val tok = spanFeatures(spark, sfDir)
      .select("doc_id", "w")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      // first bits/4 md5 hex chars → `bits`-wide non-negative long
      .withColumn("h",
        conv(substring(md5(col("w")), 1, bits / 4), 16, 10).cast("long"))
    val bitAggs = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$b"))
    tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  /** The duplicate-CLUSTER-label ARTIFACT: [[computeClusters]]'s
    * connected-components output — (doc_id, cluster) for every document
    * in a non-singleton near-dup cluster — materialized ONCE per
    * (session, scale dir) as a bucketed table. The cluster build is the
    * single most expensive job in the curation pipeline (an iterative
    * driver loop of join/agg rounds with per-round localCheckpoints);
    * round 4 measured q71 re-running the whole build inline just to look
    * labels up (4.54 s, the slowest bench entry, ~2.3 s of it the
    * rebuild). At 100 TB dup clusters are computed once per corpus
    * snapshot and read by every split/dedup/reporting job — this table
    * is that snapshot, and q42/q71 both read it. */
  def clusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_clusters_", "doc_id") {
      computeClusters(spark, sfDir)
    }

  /** Q42: duplicate CLUSTERS — the [[clusterLabels]] artifact, ordered.
    * (doc_id, cluster = min doc_id of its component), one row per
    * document in a non-singleton cluster. */
  def q42DupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterLabels(spark, sfDir).orderBy("doc_id")

  /** Q113: cluster CANONICALIZATION — the selection policy the dedup
    * family computes clusters FOR: per near-dup cluster keep exactly one
    * member, the one with the most tokens (the "longest version of the
    * page" rule), ties to the lowest doc_id. Integer-exact by design:
    * the policy ranks on `token_cnt`, never on the float quality score,
    * so the argmax can't flip on a last-ulp disagreement between
    * engines. Output per cluster: the keeper, the member count, and the
    * tokens evicted (sum minus the keeper's — the keeper has the max by
    * construction).
    *
    * Scale shape: [[clusterLabels]] is the duplicates-only subset —
    * broadcast it against the [[TextQueries.docFeatures]] artifact (the
    * corpus-sized side is never shuffled; at 100 TB the cluster table is
    * the few-percent dup fraction), then one clusters-sized aggregate.
    * `max_by` over a (token_cnt, -doc_id) struct resolves keeper and
    * tie-break in the same single pass. */
  def q113ClusterCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val members = TextQueries.docFeatures(spark, sfDir)
      .select(col("doc_id"), col("token_cnt"))
      .join(broadcast(clusterLabels(spark, sfDir)), Seq("doc_id"))
    members.groupBy("cluster")
      .agg(
        expr("max_by(doc_id, struct(token_cnt, -doc_id))").as("keep"),
        count(lit(1)).as("n_members"),
        (sum(col("token_cnt")) - max(col("token_cnt")))
          .as("evicted_tokens"))
      .orderBy("cluster")
  }

  /** Connected components over the near-dup edge set (exact-dup edges ∪
    * MinHash pairs with est ≥ 0.5), by iterative min-label propagation:
    * every doc starts labeled with its own id; each round every node
    * takes the min label in its closed neighborhood; fixed point = each
    * component labeled by its smallest doc_id. Each round is one join +
    * one aggregate plus a pointer-jump self-join (all shuffles on
    * doc_id); rounds needed = O(log diameter) — see
    * [[propagateMinLabels]]. Dup groups are tiny cliques (diameter ≤ 2
    * here), so this converges in 2-3 rounds; the cap bounds adversarial
    * chains. */
  /** The symmetric near-dup edge relation the cluster build propagates
    * over: MinHash pairs at est ≥ 0.5 (off the signature artifact) ∪
    * exact-dup edges from the narrow-key dedup metadata — the SAME
    * keeper rule q15 answers with. The corpus-on-norm-string groupBy
    * the exact side replaced (group documents on
    * Text.normalized(text), collect_list ids) was the last corpus-wide
    * norm-string exchange in the engine; [[exactDupEdges]] derives
    * from the docFeatures artifact's 8-byte hashes, with norm strings
    * confined to the dup-sized verify pass. Public to the package so
    * the spec pins THIS plan (the checkpoint in [[computeClusters]]
    * makes the shipped build's plan opaque). */
  private[graft] def clusterEdges(spark: SparkSession, sfDir: String): DataFrame =
    symmetricClusterEdges(
      q18MinhashLsh(spark, sfDir)
        .where(col("est_jaccard") >= 0.5)
        .select(col("doc_id_1"), col("doc_id_2")),
      exactDupEdges(spark, sfDir))

  /** Symmetric closure ∪ distinct over the two directed edge frames.
    * Split out so [[computeClusters]] can checkpoint `near`/`exact`
    * first (each is consumed TWICE by the union — forward + swapped —
    * so without the checkpoint the LSH banding join and the exact-dup
    * join both re-execute for their swapped copy) while
    * [[clusterEdges]] stays checkpoint-free and its plan inspectable. */
  private def symmetricClusterEdges(near: DataFrame,
                                    exact: DataFrame): DataFrame =
    near.union(exact)
      .union(near.select(col("doc_id_2").as("doc_id_1"),
        col("doc_id_1").as("doc_id_2")))
      .union(exact.select(col("doc_id_2").as("doc_id_1"),
        col("doc_id_1").as("doc_id_2")))
      .distinct()

  private def computeClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val near = q18MinhashLsh(spark, sfDir)
      .where(col("est_jaccard") >= 0.5)
      .select(col("doc_id_1"), col("doc_id_2"))
      .localCheckpoint() // pair-sized; consumed twice by the union
    val exact = exactDupEdges(spark, sfDir).localCheckpoint()
    val edges = symmetricClusterEdges(near, exact)
      .localCheckpoint() // sever lineage: edges feed every iteration
    // 64 rounds with pointer jumping covers diameter ~2^64: no graph
    // addressable by 64-bit doc_ids can hit the cap — the hard-throw
    // contract stays, but only a convergence BUG can now trigger it
    propagateMinLabels(edges, maxRounds = 64)
      .select(col("doc_id"), col("label").as("cluster"))
  }

  /** Min-label propagation to a FIXED POINT over a symmetric
    * `(doc_id_1, doc_id_2)` edge relation, with POINTER JUMPING: each
    * round first takes the min label over every node's closed
    * neighborhood (one join + one aggregate), then path-halves — each
    * node adopts its label node's label (`label ← label(label)`, one
    * self-join). Labels are monotone non-increasing and always ids of
    * component members (label(u) ≤ u from round one), so the jump is
    * safe, and it compounds: the jump target's label has itself advanced
    * this round, so the distance-to-minimum roughly DOUBLES per round —
    * rounds needed = O(log diameter), not diameter (the Shiloach-Vishkin
    * shortcut; GraphFrames' big-star/small-star CC uses the same idea).
    * Dup groups are tiny cliques (diameter ≤ 2 here) converging in 2-3
    * rounds either way; the log bound is for adversarial near-dup CHAINS
    * (each doc an edit of the last), where a cap of 64 covers any
    * component addressable by 64-bit ids.
    *
    * Convergence detection stays sound: both steps only ever lower
    * labels, so a no-change round is in particular a propagation fixed
    * point, where labels are constant per component and equal to the
    * component minimum. Non-convergence within `maxRounds` is a hard
    * error, not a warning: a partially-propagated labeling silently
    * keeps duplicate representatives (two labels for one component), and
    * every q42 consumer — the q71 split assignment above all — would
    * treat it as truth. */
  private[graft] def propagateMinLabels(edges: DataFrame,
                                        maxRounds: Int): DataFrame = {
    var labels = edges.select(col("doc_id_1").as("doc_id"))
      .distinct().withColumn("label", col("doc_id"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val prop = labels
        .join(edges, col("doc_id") === col("doc_id_1"), "left")
        .join(labels.select(col("doc_id").as("doc_id_2"),
          col("label").as("nbr_label")), Seq("doc_id_2"), "left")
        .groupBy("doc_id")
        // min(label) over the group is the node's OWN incoming label
        // (the base row's label repeats across its edge rows), carried
        // so the convergence check below needs no join back to `labels`
        .agg(least(min(col("label")), coalesce(min(col("nbr_label")),
          min(col("label")))).as("label"),
          min(col("label")).as("own"))
        .localCheckpoint() // read below (convergence count + jump)
      // convergence is checked on the PROPAGATION step: prop == labels
      // is the fixed point, where the jump is the identity — so the
      // final round skips the jump's self-join + checkpoint entirely
      // (round-8 trim: one fewer job per cluster build). Labels are
      // monotone non-increasing, so "changed" is label < own — read
      // off the checkpointed frame, no join (r19 trim).
      changed = prop.where(col("label") =!= col("own")).count()
      labels =
        if (changed == 0) prop.select(col("doc_id"), col("label"))
        else prop
          .join(prop.select(col("doc_id").as("jump_id"),
            col("label").as("jump_label")),
            col("label") === col("jump_id"), "left")
          .select(col("doc_id"),
            coalesce(col("jump_label"), col("label")).as("label"))
          .localCheckpoint() // iterative: keep the plan from growing
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"label propagation not converged after $rounds rounds " +
          s"($changed labels still moving): the dup graph has a component " +
          s"with diameter > ~2^$maxRounds; raise the round cap to cover it")
    labels
  }

  /** Q52: test-set DECONTAMINATION — the n-gram overlap check an LLM
    * training pipeline runs before training (GPT-3 appendix C / Gopher
    * appendix: drop training docs sharing n-grams with the eval set).
    * Benchmark set = every 20th doc_id, standing in for an external eval
    * corpus at identical plan shape; flagged output = corpus docs with
    * the count of distinct word 3-shingles they share with it.
    *
    * Scale shape: the benchmark side is small by construction (eval sets
    * are thousands of docs, not billions), so its distinct shingle set is
    * BROADCAST — the corpus never shuffles for the join; contamination
    * detection is a map-side hash join + one aggregate on doc_id. At
    * 100 TB this is the only shape that works: shuffling corpus shingles
    * on `s` would move the whole tokenized corpus. */
  def q52Decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    contamination(spark, sfDir).orderBy("doc_id")

  /** The CONTAMINATION artifact: q52's per-doc shared-shingle counts,
    * materialized once per (session, scale dir). Three consumers (q52's
    * report, q64's curation drop stage, q67's per-source accounting)
    * each re-ran the broadcast join + aggregate before this table
    * existed — cheap per run only because the shingle artifact feeds it,
    * but still one corpus-shingle pass per consumer at 100 TB. q66
    * deliberately does NOT read it: the bloom prefilter is the
    * independent path that must reproduce this table's contents. */
  def contamination(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_contam_", "doc_id") {
      computeContamination(spark, sfDir)
    }

  /** The contamination BUILD plan — public so the spec can pin its
    * broadcast shape (the benchmark shingle set must broadcast; the
    * corpus side must never shuffle for the join). */
  def computeContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val corpusSh = sh.where(col("doc_id") % 20 =!= 0)
    val benchSh = sh.where(col("doc_id") % 20 === 0)
      .select("s").distinct()
    corpusSh.join(broadcast(benchSh), Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("contaminated_shingles"))
  }

  /** Q47: edit-distance verification of LSH candidates — the "verify"
    * half of a candidate-verify dedup pipeline: MinHash proposes pairs
    * (cheap, probabilistic), levenshtein on the normalized-text prefix
    * confirms (exact, but only on O(candidates) pairs, never n²).
    * Distance on the first 80 chars bounds the quadratic DP cost. */
  def q47EditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        substring(Text.normalized(col("text")), 1, 80).as("prefix"))
    q18MinhashLsh(spark, sfDir)
      .select(col("doc_id_1"), col("doc_id_2"))
      .join(norm.select(col("doc_id").as("doc_id_1"),
        col("prefix").as("p1")), "doc_id_1")
      .join(norm.select(col("doc_id").as("doc_id_2"),
        col("prefix").as("p2")), "doc_id_2")
      .select(col("doc_id_1"), col("doc_id_2"),
        levenshtein(col("p1"), col("p2")).as("edit_dist"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Banded projection of q20 fingerprints: one row per (doc, band,
    * band value) — q48's candidate key. `bands` is THE scale knob:
    * splitting the 32-bit fingerprint into k bands of 32/k bits
    * pigeonhole-guarantees every pair within hamming distance k-1
    * collides on some band, while the bucket count per band (2^(32/k))
    * sets the false-collision rate. Fewer bands → wider buckets → fewer
    * candidates but a tighter detectable distance; at corpus scale you
    * widen the fingerprint (64-bit) and keep ~16-bit bands. Spec-pinned:
    * bands=2 candidates ⊇ all hamming≤1 pairs and ⊆ the bands=4 space
    * in expectation. */
  def simhashBanded(fp: DataFrame, bands: Int = 4,
                    fpBits: Int = 32): DataFrame = {
    require(fpBits % bands == 0, s"bands must divide $fpBits: $bands")
    val width = fpBits / bands
    fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          (shiftright(col("simhash"), j * width) % (1L << width)).as("bv"))): _*))
        .as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bv").as("bv"))
  }

  /** Distinct band-collision pairs with both fingerprints — q48's
    * candidate space before the hamming verify. Public so OperatorSpec's
    * band-count and band-width tests count the shipped shape. */
  def simhashCandidates(spark: SparkSession, sfDir: String,
                        bands: Int = 4, fpBits: Int = 32): DataFrame = {
    val banded = simhashBanded(
      simhashFingerprints(spark, sfDir, fpBits), bands, fpBits)
    val a = banded.select(col("doc_id").as("doc_id_1"),
      col("simhash").as("f1"), col("band"), col("bv"))
    val b = banded.select(col("doc_id").as("doc_id_2"),
      col("simhash").as("f2"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .where(col("doc_id_1") < col("doc_id_2"))
      .select("doc_id_1", "doc_id_2", "f1", "f2")
      .distinct()
  }

  /** Q48: SimHash near-dup pairing — the banded hamming join that makes
    * q20's fingerprints a dedup operator. Pigeonhole: two 32-bit
    * fingerprints within hamming distance 3 must agree on at least one of
    * their four bytes, so candidates come from an equi-join on
    * (byte_index, byte_value) — O(collisions), never n² — and the exact
    * `bit_count(xor)` filter keeps true near-dups. Same
    * candidate-then-verify shape as MinHash-LSH (q18) and edit-distance
    * verify (q47). */
  def q48SimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashCandidates(spark, sfDir)
      .select(col("doc_id_1"), col("doc_id_2"),
        bit_count(col("f1").bitwiseXOR(col("f2"))).as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy("doc_id_1", "doc_id_2")

  /** Default bloom filter size in bits (2^16 bits = 1024 longs = 8 KB);
    * two md5-derived hash positions per key. FP rate at n keys ≈
    * (1 - e^(-2n/m))^2 — ~2% at n = 5k. q66 keeps this fixed size (its
    * benchmark-shingle key count is eval-set-bounded); the dedup verify
    * guard sizes up from the observed key count via [[bloomBitsFor]]. */
  val BloomBits = 1 << 16

  /** Filter size for `n` observed keys: the power of two ≥ 8·n bits
    * (~2.5% FP at two hashes), clamped to [[BloomBits]] .. 2^24. The cap
    * bounds the task-binary literal at 2 MB; past ~2M keys the filter
    * degrades gracefully — it passes MORE rows to the exact verify join
    * (never a wrong answer), and at that dup cardinality the guarded
    * side is cluster-scale anyway. Sized from a count, not a config, so
    * the same corpus always builds the same filter. */
  private[graft] def bloomBitsFor(n: Long): Int = {
    val want = math.max(BloomBits.toLong, 8L * n)
    val pow2 = java.lang.Long.highestOneBit(want)
    val bits = if (pow2 == want) pow2 else pow2 << 1
    math.min(bits, 1L << 24).toInt
  }

  /** The two bloom bit positions of a key: independent 32-bit chunks of
    * one md5, reduced mod `bits` — one hash evaluation per key, same
    * trick as the MinHash family, and bit-reproducible by any engine
    * with md5. */
  private def bloomPositions(s: Column, bits: Int): Seq[Column] =
    Seq(1, 9).map(off =>
      conv(substring(md5(s), off, 8), 16, 10).cast("long") % bits)

  /** Q66: BLOOM-PREFILTERED decontamination — q52 rebuilt for the regime
    * where the eval-set shingle table is too big to hash-join cheaply
    * against every corpus shingle. A Bloom filter over the benchmark
    * shingles (built distributed: bit positions → bit_or per 64-bit
    * word, then collected — bounded at [[BloomWords]] rows, the
    * IVF-codebook pattern) is shipped to the scan as a LITERAL array, so
    * corpus shingles are tested map-side with two bit probes and only
    * the survivors reach the exact verification join that removes false
    * positives. This is Spark's own runtime-filter strategy
    * (InjectRuntimeFilter/BloomFilterAggregate) made explicit: at 100 TB
    * the 8 KB filter replaces a multi-GB broadcast at the scan, and the
    * verify join — left to Catalyst to pick broadcast or shuffle —
    * processes only the prefiltered trickle, not the whole tokenized
    * corpus. Output is IDENTICAL to q52 (the verify join removes every
    * false positive), so the oracle is q52's. */
  def q66BloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val corpusSh = sh.where(col("doc_id") % 20 =!= 0)
    val benchSh = sh.where(col("doc_id") % 20 === 0)
      .select("s").distinct()
    bloomHits(corpusSh, col("s"), buildBloom(benchSh))
      .join(benchSh, Seq("s"), "left_semi") // exact verify: drops bloom FPs
      .groupBy("doc_id")
      .agg(count(lit(1)).as("contaminated_shingles"))
      .orderBy("doc_id")
  }

  /** Build the bloom word array from a key column: explode each key's bit
    * positions, OR the masks per word DISTRIBUTED (one tiny aggregate),
    * collect ≤ bits/64 rows. Public for the FP-rate spec. */
  def buildBloom(keys: DataFrame): Seq[Long] =
    buildBloomOn(keys, col("s"), BloomBits)

  /** [[buildBloom]] over an arbitrary key expression and filter size —
    * non-string keys (the dedup hashes) go through their canonical
    * decimal rendering, so driver-side probes ([[bloomMightContain]])
    * see the same bytes. */
  private[graft] def buildBloomOn(keys: DataFrame, key: Column,
                                  bits: Int): Seq[Long] = {
    val byWord = keys
      .select(explode(array(bloomPositions(key.cast("string"), bits): _*))
        .as("p"))
      .groupBy((col("p") / 64).cast("int").as("w"))
      .agg(expr("bit_or(shiftleft(1L, int(p % 64)))").as("bits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Seq.tabulate(bits / 64)(i => byWord.getOrElse(i, 0L))
  }

  /** Map-side bloom route: rows of `df` whose `key` MIGHT be in the
    * filter — two bit probes per row against the word-array literal,
    * zero exchange; the consumer's exact join removes false positives.
    * The filter size rides in the array itself (`words.length · 64`), so
    * the probe can never disagree with the build. One definition for
    * q66's shingle prefilter and the dedup verify probe. */
  private[graft] def bloomHits(df: DataFrame, key: Column,
                               words: Seq[Long]): DataFrame = {
    // SQL-string probe: the DSL's shiftleft only takes a constant shift
    def hit(p: String) = expr(
      s"(element_at(graft_bloom, int($p div 64) + 1) & shiftleft(1L, int($p % 64))) != 0L")
    val positions = bloomPositions(key.cast("string"), words.length * 64)
    df.withColumn("graft_bloom", typedlit(words))
      .withColumn("graft_p1", positions.head)
      .withColumn("graft_p2", positions(1))
      .where(hit("graft_p1") && hit("graft_p2"))
      .drop("graft_bloom", "graft_p1", "graft_p2")
  }

  /** Membership probe against a driver-held bloom array — the spec-side
    * twin of the column expression in [[bloomHits]]; the filter size is
    * read off the array, mirroring the probe. */
  def bloomMightContain(words: Seq[Long], key: String): Boolean = {
    val bits = words.length * 64
    val hex = graft.functions.Hex.lower(
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")))
    Seq(0, 8).forall { off =>
      val p = (java.lang.Long.parseLong(hex.substring(off, off + 8), 16)
        % bits).toInt
      (words(p / 64) & (1L << (p % 64))) != 0
    }
  }

  /** Q88 span width in tokens. Lee et al. dedup at 50 BPE tokens; 8
    * whitespace words on this short-doc corpus sits at the same "long
    * enough that a match is never coincidence" point (the corpus has
    * ~60k positions but only ~2k distinct 8-grams recur, all from true
    * duplication). The knob trades recall (shorter spans catch more)
    * against false boilerplate hits. */
  val SpanTokens = 8

  /** Q88: DUPLICATED-SPAN detection — the substring-level dedup signal of
    * Lee et al. ("Deduplicating Training Data Makes Language Models
    * Better", ACL 2022): a position's [[SpanTokens]]-token n-gram that
    * occurs MORE THAN ONCE across the corpus marks a duplicated span,
    * and the per-document duplicated fraction is the drop/trim signal
    * (the same "fraction of n-grams in duplicates" rule Gopher/
    * RefinedWeb apply as a quality gate). Unlike the membership-style
    * shingle family (q18/q19: does doc A share ANY shingle with B), this
    * counts every POSITION — a doc that quotes one duplicated paragraph
    * in otherwise-fresh text scores low, while an exact re-crawl scores
    * 1.0.
    *
    * The published method builds a corpus suffix array; that is a
    * single-machine construction. The distributed re-expression: count
    * occurrences of every fixed-width token window (a suffix array
    * answers "longest repeated substring", the fixed width answers
    * "repeated ≥ w tokens" — the only question the drop rule asks).
    *
    * Scale shape: positional gram keys ([[spanKeys]], pure map-side) →
    * per-(doc, gram-KEY) counts → per-key totals → join back → per-doc
    * ratio. The q44 TF-IDF topology exactly (doc-term tf → term df →
    * join), so the same properties hold: every aggregate
    * map-side-combines, the (doc, key) pre-aggregate collapses
    * within-doc repeats BEFORE the key-keyed exchange, and the totals
    * join is key-keyed — AQE reuses the exchange from the totals
    * aggregate. The gram STRING never exists as a column, let alone
    * crosses an exchange (spec-pinned): each gram is built transiently
    * inside [[spanKeys]]' lambda and reduced to [[gramKey]]'s
    * md5-derived 60-bit long — the q15 narrow-key discipline at 8
    * bytes per key, and the DuckDB oracle derives the identical key so
    * even a collision (which at worst mislabels one span as
    * duplicated, a soft signal) reproduces bit-for-bit. Measured at
    * sf0.1: 9.97 MB shuffled (round-7 gram strings + window) → 5.6 MB
    * (the inherent compressed (doc_id, g, occ) positional volume),
    * wall 2.3 → 1.7 s, no window operator in the plan. */
  def q88DupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val perDocGram = spanKeys(spark, sfDir)
      .groupBy("doc_id", "g").agg(count(lit(1)).as("occ"))
    val gramTotals = perDocGram.groupBy("g")
      .agg(sum(col("occ")).as("total"))
    perDocGram.join(gramTotals, Seq("g"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("total_spans"),
        sum(when(col("total") >= 2, col("occ")).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("total_spans"), col("dup_spans"),
        round(col("dup_spans") / col("total_spans"), 4).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** 60-bit md5-derived key for a positional n-gram — the narrow form
    * the q88/q89 exchanges carry instead of the ~8-word gram string.
    * Same construction as the MinHash/KMV/fingerprint family (hex
    * prefix of md5, so DuckDB reproduces every bit); 15 nibbles keep
    * the cast inside a signed long. At ~10^5 distinct grams per sf0.1
    * the 2^60 keyspace puts a collision at ~10^-9 — and both engines
    * hash, so a collision changes neither side alone. */
  private[graft] def gramKey(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** The span-feature BUILD plan: `(doc_id, pos, w, g)` — every token
    * position with its token and (for full-width start positions) its
    * [[gramKey]]; `g` is null for the last SpanTokens−1 positions of a
    * doc and for docs shorter than the span. Generated ENTIRELY
    * MAP-SIDE: tokenize once into an array ([[Text.tokens]], native
    * codegen), then ONE native loop over all positions
    * ([[graft.functions.SpanGrams]]) digests each gram incrementally
    * into its 60-bit key — the gram string never even becomes a JVM
    * string, let alone a column.
    *
    * (The round-7 window formulation exchanged every token row on
    * doc_id just to realign consecutive tokens — ~half of q88's shuffle
    * at sf0.1 after the keys narrowed, i.e. the corpus on the wire for
    * a purely per-document computation. The round-8 `transform` lambda
    * fixed that but evaluated interpreted per position (HOFs are
    * CodegenFallback) with 8 `element_at`s + a concat + an md5 of
    * expression-tree dispatch each — round 9's native expression is
    * that loop in plain JVM code. Spec-pinned: q88's only exchanges
    * are the narrow aggregates, and no consumer re-tokenizes.) */
  private[graft] def computeSpanFeatures(spark: SparkSession,
                                         sfDir: String): DataFrame =
    spanFeaturesOf(Tables.documents(spark, sfDir).select("doc_id", "text"))

  /** [[computeSpanFeatures]] over an explicit `(doc_id, text)` relation —
    * the same map-side gram-key plan for inputs that are not the
    * documents table (the refresh's fresh documents, Bench's span
    * rebuild over snapshot B, any embedded relation), mirroring the
    * [[dupGroups]] / [[dupGroupsFromFeatures]] split. */
  private[graft] def spanFeaturesOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val t = col("t")
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .where(size(t) >= 1)
      .select(col("doc_id"), posexplode(Bridge.column(
        graft.functions.SpanGrams(Bridge.expression(t), SpanTokens))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col.w").as("w"), col("col.g").as("g"))
  }

  /** The pre-round-9 higher-order-function formulation of the span-gram
    * census, kept as the DIFFERENTIAL REFERENCE for SpanGramsParitySpec
    * (the [[Text.tokensHofReference]] discipline): same semantics,
    * interpreted per-element evaluation — the reason
    * [[graft.functions.SpanGrams]] exists. Never used in a shipped
    * plan. */
  private[graft] def spanGramsHofReference(t: Column): Column =
    transform(
      sequence(lit(0), size(t) - 1),
      i => struct(
        element_at(t, i + 1).as("w"),
        when(i <= size(t) - SpanTokens,
          gramKey(concat_ws(" ",
            (0 until SpanTokens).map(k => element_at(t, i + k + 1)): _*)))
          .as("g")))

  /** The span-feature ARTIFACT — the positional twin of [[shingles]]:
    * substring-level dedup's shared input (the distributed stand-in for
    * the corpus suffix array), tokenized exactly once per (session,
    * scale dir) and read by the whole q88/q89/q92 family. Before this
    * table, each query re-ran the tokenize+gram subtree per plan branch
    * (q89 twice, q92 four times — measured via QTime's scan counter);
    * a branch over a bucketed fixed-width table reads columns instead.
    * Bucketed on doc_id like every per-doc consumer expects. */
  def spanFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_spanfeat_", "doc_id") {
      computeSpanFeatures(spark, sfDir)
    }

  /** `(doc_id, pos, g)` for full-width positions — q88/q89's input,
    * off the [[spanFeatures]] artifact. */
  private def spanKeys(spark: SparkSession, sfDir: String): DataFrame =
    spanFeatures(spark, sfDir)
      .where(col("g").isNotNull)
      .select("doc_id", "pos", "g")

  /** Q89: duplicated-span TRIM EXTENTS — the actionable half of Lee et
    * al.'s substring dedup: q88 says HOW MUCH of a document is
    * duplicated; this says WHERE, as disjoint maximal token extents,
    * which is exactly what the curation stage that removes (rather
    * than drops) duplicated text consumes. A position is duplicated
    * iff its [[SpanTokens]]-gram occurs ≥ 2 times corpus-wide (q88's
    * rule verbatim), and covers tokens [pos, pos + SpanTokens − 1];
    * extents whose coverage overlaps or touches merge — gap-islands
    * with a width-aware gap rule (a new island starts when the
    * position jump exceeds SpanTokens, i.e. the previous extent ends
    * strictly before this one starts), so the output extents are
    * disjoint and maximal: `span_len` = last − first + SpanTokens.
    *
    * Scale shape: the corpus-wide half is ONE aggregate over
    * [[gramKey]]s (8-byte keys, map-side combine) filtered to
    * duplicated keys — dup-sized, like q15's multiH — and the
    * join-back routes only `(g, doc_id, pos)` triples. The islands
    * windows (lag flag + running sum, one partition spec) then order
    * DUPLICATED positions per doc — dup-sized again, never the
    * corpus. No gram string crosses any exchange (same pin as q88). */
  /** `(doc_id, pos)` of every DUPLICATED position — q88's rule (the
    * position's gram key occurs ≥ 2 times corpus-wide) as a relation,
    * ONE definition shared by q89 (islands) and q92 (coverage) so the
    * two can never disagree about what counts as duplicated. */
  private def dupPositions(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = spanKeys(spark, sfDir)
    val dupKeys = pos.groupBy("g").agg(count(lit(1)).as("total"))
      .where(col("total") >= 2).select("g")
    pos.join(dupKeys, Seq("g")).select(col("doc_id"), col("pos"))
  }

  def q89DupSpanTrim(spark: SparkSession, sfDir: String): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPositions(spark, sfDir)
      // null lag (first dup position of a doc) falls to otherwise(1):
      // every doc's first extent opens its own island
      .withColumn("newrun",
        when(col("pos") - lag("pos", 1).over(byDoc) <= SpanTokens, 0)
          .otherwise(1))
      .withColumn("isl", sum("newrun").over(byDoc))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + SpanTokens).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Q92: the SPAN-TRIMMED CORPUS — q89's extents APPLIED, which is what
    * Lee et al. actually do (remove the duplicated substring, keep the
    * fresh remainder — versus the doc-level drop rule that would throw
    * away a document for one quoted boilerplate paragraph). Every token
    * whose position falls inside an extent's coverage is removed; the
    * output is per-doc bookkeeping plus the md5 of the space-joined
    * surviving tokens, so the oracle hash-checks the exact
    * reconstruction without shipping the trimmed text itself.
    *
    * Scale shape: everything reads the [[spanFeatures]] artifact (no
    * tokenize in the plan — spec-pinned). The covered-position set is
    * dup-sized × SpanTokens (each duplicated start position explodes
    * into the positions it covers — identical to q89's merged extent
    * coverage, which the spec asserts), attaches by an exact
    * (doc_id, pos) join, and the reconstruction is one per-doc
    * aggregate whose collect_list carries only SURVIVING tokens. The
    * corpus-sized movement — token rows to their doc's reducer — is
    * inherent to reassembling documents. */
  def q92SpanTrimmed(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = spanFeatures(spark, sfDir).select("doc_id", "pos", "w")
    // covered tokens = the union of [p, p+w−1] over duplicated start
    // positions p ([[dupPositions]] — q89's exact rule): each explodes
    // into its SpanTokens covered positions, dup-sized × w, then
    // distinct — exactly the extent coverage q89 reports without paying
    // its islands windows; the spec ties the two formulations together
    // (removed mass ≡ Σ extent lengths).
    val covered = dupPositions(spark, sfDir)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + SpanTokens - 1))
          .as("pos"))
      .distinct()
    toks.join(covered.withColumn("cov", lit(1)), Seq("doc_id", "pos"),
        "left_outer")
      .groupBy("doc_id")
      .agg(
        sum(when(col("cov").isNull, 1L).otherwise(0L)).as("kept_tokens"),
        sum(when(col("cov").isNotNull, 1L).otherwise(0L)).as("removed_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("cov").isNull,
            struct(col("pos"), col("w"))))),
          x => x("w")), " ")).as("trimmed_md5"))
      .orderBy("doc_id")
  }

  /** Q94: N-GRAM NOVELTY — the data-SELECTION twin of q88's dup rule:
    * the fraction of a document's full-width [[SpanTokens]]-gram
    * positions whose gram occurs in NO OTHER document. Novelty ranks
    * which documents add genuinely new text to the corpus (the
    * "self-contained information" signal selection methods like
    * DSIR-style importance weighting start from), and it is NOT
    * 1 − q88's dup_ratio: a doc that repeats its own boilerplate
    * scores dup (total ≥ 2) under q88 but stays fully novel here
    * (cross-doc count = 1), so the two statistics separate
    * within-doc repetition from corpus-level redundancy.
    *
    * Scale shape: reads the [[spanFeatures]] artifact (no tokenize in
    * the plan); the per-(doc, key) DISTINCT collapses map-side on the
    * doc_id-bucketed layout before the key-keyed exchange; the
    * cross-doc document-frequency aggregate and the join-back carry
    * 8-byte [[gramKey]]s — exactly q88's topology, with df in place
    * of total occurrences. */
  def q94NgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = spanKeys(spark, sfDir)
    val gramDocs = pos.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("n_docs"))
    pos.join(gramDocs, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total_spans"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("novel_spans"))
      .select(col("doc_id"), col("total_spans"), col("novel_spans"),
        round(col("novel_spans") / col("total_spans"), 4).as("novelty_ratio"))
      .orderBy("doc_id")
  }
}
