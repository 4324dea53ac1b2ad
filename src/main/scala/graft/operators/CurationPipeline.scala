package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Delta, Tables}
import graft.functions.Text

/** End-to-end training-corpus curation — the composed pipeline a user of
  * this engine actually runs over raw documents, chaining the primitive
  * operators in the order every published data-curation stack uses
  * (quality filter → exact dedup → near-dedup):
  *
  *  1. quality gate: q24's score ≥ 0.5 (drops the low-signal tail);
  *  2. exact dedup: keep only each normalized-text group's min-doc_id
  *     representative (q15's rule);
  *  3. near-dedup: drop any stage-2 survivor whose MinHash est_jaccard
  *     ≥ 0.5 partner with a lower doc_id also survived stage 2 (greedy by
  *     id — one pass over the q18 candidate pairs, no transitive
  *     chaining, so the result is deterministic and oracle-expressible).
  *
  * Every stage reuses the already-verified primitive (q24/q15/q18); the
  * pipeline is one plan — Catalyst sees through the composition, and the
  * only shuffles are the ones the primitives already need.
  */
object CurationPipeline {

  /** The quality gate shared by every curation stage (q24's score ≥ 0.5)
    * — ONE tree, because [[DedupQueries.dupGroupsFromFeatures]] keys its
    * session cache on the predicate's SQL rendering: all consumers
    * building the gate from this val share one metadata derivation. */
  private[graft] val QualityGate: Column = col("quality") >= 0.5

  /** q64/q52's benchmark split: doc_id % 20 == 0 is the eval set. */
  private[graft] val BenchmarkSplit: Column = col("doc_id") % 20 =!= 0

  /** The dedup-metadata predicate for a quality-gated front over
    * `docPred` — the canonical tree for cache sharing. */
  private def repsPred(docPred: Column): Column = docPred && QualityGate

  /** Touch the dedup-metadata trios every shipped consumer reads (q15/
    * q67 raw, q50 gated, q64 split+gated), so a prewarming caller
    * (Bench's artifact phase) pays the derivation once under the
    * artifact accounting and per-query numbers show consumer cost. */
  def prewarmDedupMeta(spark: SparkSession, sfDir: String): Unit = {
    DedupQueries.dupGroupsFromFeatures(spark, sfDir)
    DedupQueries.dupGroupsFromFeatures(spark, sfDir, repsPred(lit(true)))
    DedupQueries.dupGroupsFromFeatures(spark, sfDir, repsPred(BenchmarkSplit))
    ()
  }

  /** Quality gate + exact-dup representative — ONE definition of the
    * shared front of q50 and q64 (q24's score ≥ 0.5, then q15's
    * min-doc_id-per-norm rule), so the two pipelines cannot drift.
    * Carries lang/text through for q64's later stages; consumers that
    * don't select them get them pruned from the scan for free.
    *
    * The dedup rule rides [[DedupQueries.dupGroupsFromFeatures]]'s
    * narrow-key metadata, not a min-over-norm window: the window formulation
    * shuffled every surviving document row — lang, text and all — on the
    * normalized-string key just to compute a min, which at 100 TB is the
    * corpus moving through one exchange. Here the corpus-wide exchange
    * carries (xxhash64(norm), partial count) and the decision attaches
    * as ONE `left_anti` against the narrow dropped-id list: a doc
    * survives iff it is not a non-keeper member of a multi-hash group.
    * The wide rows never probe the dup metadata directly, so even in the
    * non-broadcast fallback regime the corpus's text/norm columns stay
    * out of the attach exchange (the remaining fallback movement is the
    * survivors-on-doc_id exchange inherent to any per-doc decision at a
    * dup rate too high to broadcast).
    *
    * The metadata derives from the [[TextQueries.docFeatures]] artifact
    * (`docPred` + the quality gate select the same survivor set there —
    * quality/token_cnt are written by the same expressions this scan
    * computes, and a double roundtrips parquet exactly), so this plan
    * tokenizes the corpus exactly ONCE — the visible scan below; the
    * dedup passes read fixed-width artifact columns. `docPred` is the
    * caller's corpus restriction (q64's benchmark split), a predicate
    * on columns present in both `documents` and the artifact. */
  private[operators] def qualityReps(spark: SparkSession, sfDir: String,
                                     docPred: Column = lit(true)): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .where(docPred)
      .select(col("doc_id"), col("lang"), col("text"),
        Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        size(col("toks")).as("token_cnt"),
        TextQueries.qualityScore(col("text"), col("toks")).as("quality"))
      .where(QualityGate)
    val (_, _, dropped) = DedupQueries.dupGroupsFromFeatures(
      spark, sfDir, repsPred(docPred))
    scored.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Greedy near-dedup drop list: survivors with a lower-id near-dup
    * survivor (q18 candidate pairs at est ≥ 0.5) — stage 3 of q50,
    * stage 4 of q64. */
  private def nearDropped(spark: SparkSession, sfDir: String,
                          reps: DataFrame): DataFrame =
    DedupQueries.q18MinhashLsh(spark, sfDir)
      .where(col("est_jaccard") >= 0.5)
      .join(reps.select(col("doc_id").as("doc_id_1")), "doc_id_1")
      .select(col("doc_id_2").as("doc_id"))

  /** Q50: the surviving corpus with its quality metadata. */
  def q50CorpusCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = qualityReps(spark, sfDir)
      .select("doc_id", "token_cnt", "quality")
    reps.join(nearDropped(spark, sfDir, reps), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Q64: the FULL training-data curation pipeline — every published
    * curation stage, in the order production stacks run them, each one a
    * primitive this engine has already verified in isolation:
    *
    *  1. corpus split: benchmark docs (doc_id % 20 = 0, q52's convention)
    *     are the eval set, never training data;
    *  2. quality gate (q24's score ≥ 0.5);
    *  3. exact-dedup representative (q15's min-doc_id rule);
    *  4. near-dedup against the MinHash signature ARTIFACT (q18 pairs,
    *     est ≥ 0.5 — the bucketed table is computed once, not per stage);
    *  5. decontamination: drop docs sharing ≥ 3 word 3-shingles with the
    *     benchmark set (q52's broadcast join);
    *  6. deterministic stratified sampling (q53's hash rule: en 50%,
    *     others 20%);
    *  7. PII accounting on the survivors (q54's patterns).
    *
    * One Catalyst plan end-to-end: the corpus is scanned once per
    * distinct subtree, the benchmark shingle set broadcasts, and the only
    * wide shuffles are the ones the primitives already need (narrow
    * dedup-hash aggregate, signature banding, shingle aggregate).
    * Output: the curated corpus with its bookkeeping, ordered by
    * doc_id. */
  def q64CurationV2(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = qualityReps( // stages 1-3: corpus split, quality, exact dedup
      spark, sfDir, BenchmarkSplit)
    val contaminated = DedupQueries.contamination(spark, sfDir) // stage 5
      .where(col("contaminated_shingles") >= 3)
      .select("doc_id")
    reps
      .join(nearDropped(spark, sfDir, reps), Seq("doc_id"), "left_anti") // 4
      .join(contaminated, Seq("doc_id"), "left_anti")
      .where(TextQueries.stratifiedBucket(col("lang"), col("doc_id")) // 6
        < when(col("lang") === "en", lit(50)).otherwise(lit(20)))
      .select(col("doc_id"), col("lang"), col("token_cnt"), col("quality"),
        (size(regexp_extract_all(col("text"), lit(TextQueries.PiiEmail), lit(0))) + // 7
          size(regexp_extract_all(col("text"), lit(TextQueries.PiiUrl), lit(0))) +
          size(regexp_extract_all(col("text"), lit(TextQueries.PiiNum), lit(0))))
          .as("n_redactions"))
      .orderBy("doc_id")
  }

  /** Q67: per-SOURCE curation report — the observability face of the
    * pipeline: for every ingest source, how many documents it
    * contributed, how many tokens, and how much of it the curation
    * stages would cut (quality gate, exact-dup rule, decontamination).
    * This is the dashboard a data-pipeline owner reads to decide which
    * source to drop or re-crawl.
    *
    * Everything is an integer COUNT (never an averaged double), so the
    * per-source sums are order-independent and the oracle exact. The
    * dup rule is corpus-wide (a doc is a dup if it is not its norm
    * group's min-doc_id, q15's rule — even when the group spans
    * sources); contamination is q52's corpus-side flag at q64's ≥ 3
    * threshold, so benchmark docs themselves count 0. The dup bit comes
    * from the narrow-key dedup metadata (the corpus exchanges 8-byte
    * hashes, never norm strings), then one broadcast-ish join with the
    * tiny contamination list and one final per-source aggregate. */
  /** Q71: LEAKAGE-FREE train/validation/test SPLIT — the assignment step
    * run after dedup so near-duplicate documents can never straddle the
    * train/eval boundary (the classic contamination bug: a paraphrase of
    * a validation doc in the training set). Every document's split GROUP
    * is its near-dup cluster representative (q42's connected-component
    * label) when it has one, else itself; the group key — never the
    * doc_id — is hashed into 100 deterministic buckets (q53's md5
    * discipline) and cut 80/10/10. Same group ⇒ same bucket ⇒ same
    * split, by construction; spec-asserted over every q42 cluster.
    *
    * Scale shape: the cluster table is the DUPLICATES-ONLY subset — tiny
    * relative to the corpus — so it broadcasts onto the corpus scan and
    * the bucket/split derivation is map-side; nothing re-shuffles the
    * corpus. The labels come from the [[DedupQueries.clusterLabels]]
    * ARTIFACT, not an inline rebuild: round 4 measured the inline shape
    * re-running the whole iterative CC job per invocation (4.54 s, the
    * slowest bench entry; the artifact read is a bucketed-table scan). */
  def q71LeakageSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = DedupQueries.clusterLabels(spark, sfDir)
    val bucket = conv(substring(md5(concat(lit("split:"), col("grp"))),
      1, 8), 16, 10).cast("long") % 100
    Tables.documents(spark, sfDir).select("doc_id")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("grp"))
      .withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Q72: GLOBAL DENSE INDEXING — assign the curated corpus (q24 quality
    * ≥ 0.5) contiguous sample numbers 0..N−1 in doc_id order, the id an
    * export/packing job stamps on every training sample. The naive
    * formulation — `row_number() OVER (ORDER BY doc_id)` — collapses the
    * whole corpus into ONE partition to sort (the canonical scale
    * killer). The scalable shape is two-phase: range-partition on the
    * key, sort within partitions, count per partition (a tiny job), and
    * offset each partition's local index by the counts before it —
    * `RDD.zipWithIndex`, the one genuinely per-partition-imperative
    * operator in this engine (the brief's mapPartitions-as-last-resort
    * tier: a dense global index has no Catalyst equivalent —
    * monotonically_increasing_id is non-contiguous by design).
    * Deterministic regardless of sampled range boundaries: partitions
    * are ordered and sorted within, so the global sequence is the total
    * doc_id order whatever the split points.
    *
    * The kept set reads the docFeatures ARTIFACT's stored quality
    * column (the identical expression, parquet-roundtrip-exact — the
    * argument qualityReps already relies on), so this query never
    * re-tokenizes the corpus (round 4 measured the inline
    * scan+tokenize+score lineage at 4.20 s at sf0.1 and mitigated it
    * with a checkpoint; reading the fixed-width artifact removes the
    * pass entirely). The narrow (doc_id) projection is still
    * localCheckpoint'd BEFORE zipWithIndex: zipWithIndex launches a
    * count job over its upstream and the consuming job then recomputes
    * that upstream — checkpointed, the artifact filter runs once and
    * the index jobs read cached longs. */
  def q72GlobalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val kept = TextQueries.docFeatures(spark, sfDir)
      .where(QualityGate)
      .select(col("doc_id"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint()
    kept.as[Long].rdd.zipWithIndex()
      .toDF("doc_id", "seq")
      .orderBy("doc_id")
  }

  /** Q73 mixture recipe: per-language epoch weights in integer PERCENT
    * (225 = 2.25 epochs), so the fractional-epoch cut is an exact
    * integer comparison. */
  val MixWeightsPct: Map[String, Int] =
    Map("en" -> 225, "es" -> 100, "de" -> 50, "fr" -> 25, "zh" -> 150)

  /** Q73: EPOCH-WEIGHTED MIXTURE — materialize a training mix where each
    * stratum repeats by a fractional epoch count (the published data
    * recipes: some sources run >1 epoch, others are subsampled). A doc
    * with weight w gets ⌊w⌋ whole copies plus one more iff its
    * deterministic hash bucket falls under frac(w) — q53's sampling
    * discipline, so re-running reproduces the mix row for row. Output is
    * one row per (doc, epoch).
    *
    * Scale shape: weights are a literal lookup and the copy count
    * derives from the row, so the whole operator is map-side generate —
    * ZERO shuffle (spec-asserted). The copies>0 filter precedes the
    * explode because Spark's sequence(0, −1) DESCENDS (q68's hazard). */
  def q73EpochMix(spark: SparkSession, sfDir: String): DataFrame = {
    val pct = MixWeightsPct.foldLeft(lit(100): Column) {
      case (e, (l, w)) => when(col("lang") === l, lit(w)).otherwise(e)
    }
    val bucket = conv(substring(md5(concat(lit("mix:"), col("lang"),
      lit(":"), col("doc_id"))), 1, 8), 16, 10).cast("long") % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .withColumn("pct", pct)
      .withColumn("copies",
        floor(col("pct") / 100) +
          when(bucket < col("pct") % 100, 1L).otherwise(0L))
      .where(col("copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("copies") - 1)).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** The curated-corpus HANDOFF artifact (q75's write side): q50's
    * survivors as a bucketed+sorted-on-doc_id table — built once per
    * (session, scale dir), prebuilt by Bench so its cost lands in
    * `artifacts_sec` like every other artifact. */
  def curatedHandoff(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_curated_", "doc_id") {
      q50CorpusCuration(spark, sfDir)
    }

  /** Q75: BUCKETED HANDOFF SINK — the user-facing write side of the
    * engine: the curated corpus (q50's survivors) is WRITTEN as a
    * bucketed+sorted-on-doc_id table via [[curatedHandoff]] (the export
    * a training pipeline hands to every downstream job), and the query
    * then demonstrates what the layout buys — joining the handoff table
    * to the contamination artifact (bucketed the same way) needs NO
    * exchange on either side: Spark reads both tables' bucket spec as
    * their output partitioning and co-locates the join (spec-pinned
    * with broadcast disabled, mirroring the ScaleSpec bucketed-join
    * demonstration). At 100 TB this is the difference between a
    * downstream join shuffling the whole curated corpus and reading it
    * in place; every doc_id-keyed consumer (split assignment, packing,
    * indexing) gets the same free co-location. */
  def q75BucketedHandoff(spark: SparkSession, sfDir: String): DataFrame =
    curatedHandoff(spark, sfDir)
      .join(DedupQueries.contamination(spark, sfDir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("token_cnt"), col("quality"),
        coalesce(col("contaminated_shingles"), lit(0L))
          .as("contaminated_shingles"))
      .orderBy("doc_id")

  /** Snapshot B of the recrawl scenario, derived deterministically from
    * the same documents table (every doc_id ending in 7 deleted, ending
    * in 3 edited, ending in 1 duplicated under a negative-namespace new
    * id — q79's rules) — ONE definition shared by q79 (the diff) and q80
    * (the incremental refresh that consumes it), so the two ends of the
    * incremental story can never drift. In production A and B are two
    * stored snapshots. */
  def snapshotB(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 10 =!= 7)
      .withColumn("text",
        when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" updated v2")))
          .otherwise(col("text")))
      .unionByName(docs.where(col("doc_id") % 10 === 1)
        .withColumn("doc_id", -(col("doc_id") + 1L)))

  /** The recrawl as a manifest-table history at `root`: v1 = `docs`
    * (snapshot A) as 8 doc_id-clustered bounds-stamped files, v2 =
    * [[snapshotB]]'s rules as ONE copy-on-write merge (remove the ids
    * ending in 7; upsert the edits and the negative-namespace
    * duplicates). The one writer q155, q157 and the q160/q161 history
    * share, beside snapshotB so none of them can drift from it. */
  private[graft] def mergeSnapshotB(spark: SparkSession, root: String,
                                    docs: DataFrame): Unit = {
    import graft.sources.ManifestTable
    ManifestTable.overwriteClustered(spark, root, docs, "doc_id", 8)
    ManifestTable.mergeCoW(spark, root, "doc_id",
      docs.where(col("doc_id") % 10 === 7).select("doc_id"),
      snapshotB(docs).where(col("doc_id") % 10 === 3 || col("doc_id") < 0))
    ()
  }

  /** The (doc_id, change, old_md5, new_md5) delta between snapshots A
    * and B, unordered — q79 presents it; every snapshot refresh consumes
    * it. [[Delta.classify]] over the md5 of each side's text. */
  def computeSnapshotDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def hashed(d: DataFrame) =
      d.select(col("doc_id"), md5(col("text")).as("md5"))
    Delta.classify(hashed(docs), hashed(snapshotB(docs)), "doc_id", "md5")
  }

  /** The snapshot delta STAGED as a bucketed artifact — built ONCE per
    * (session, snapshot pair) and shared by q79 and every downstream
    * refresh (q80 shingles, q83 signatures). Before this, each refresh
    * re-derived the full-outer hash diff (two corpus scans + a join) for
    * the same snapshot pair — at toy scale that fixed cost alone made
    * "refresh" read slower than "rebuild" (r8: 5.13 s vs 5.00 s), and in
    * production the diff of a recrawl pair is likewise one staged job,
    * not a per-consumer recomputation. Bucketed on doc_id, the same
    * layout as every base artifact, so the stale/fresh id joins the
    * refreshes run against them are exchange-free. */
  def snapshotDeltaStaged(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_delta_", "doc_id") {
      computeSnapshotDelta(spark, sfDir)
    }

  /** The staged delta's (doc_id, change) — all a refresh reads of it. */
  private[graft] def snapshotChanges(spark: SparkSession,
                                     sfDir: String): DataFrame =
    snapshotDeltaStaged(spark, sfDir).select("doc_id", "change")

  /** A doc_id-keyed snapshot-A artifact refreshed to snapshot B by the
    * staged delta ([[Delta.apply]]); `freshRows` gets the fresh ids. */
  private def refreshToB(spark: SparkSession, sfDir: String, base: DataFrame)(
      freshRows: DataFrame => DataFrame): DataFrame =
    Delta.apply(base, snapshotChanges(spark, sfDir), "doc_id")(freshRows)

  /** Snapshot B's documents at the given doc ids. */
  private[graft] def snapshotBDocs(spark: SparkSession, sfDir: String,
                                   ids: DataFrame): DataFrame =
    snapshotB(Tables.documents(spark, sfDir)).join(ids, Seq("doc_id"))

  /** Q79: SNAPSHOT DIFF — the incremental-ingestion step between two
    * corpus snapshots (a recrawl): emit only the DELTA — added, removed,
    * and modified documents by content hash — so every downstream job
    * (shingle/signature/cluster artifacts, curation, indexing)
    * reprocesses the delta instead of the corpus. Snapshot B is derived
    * deterministically from the same table (every doc_id ending in 7
    * deleted, ending in 3 edited, ending in 1 duplicated under a new id)
    * so the oracle reproduces it exactly; in production A and B are two
    * stored snapshots. New ids live in the NEGATIVE namespace
    * (−(doc_id+1)): real ids are non-negative, so the synthetic ids can
    * never collide with a real document at ANY corpus size — an
    * additive offset would collide once doc_ids pass it, and the
    * resulting duplicate doc_id rows would make the sort
    * engine-dependent.
    *
    * Scale shape: content hashes are computed BEFORE the join (narrow,
    * map-side — the join carries 32-byte hashes, never text), and the
    * diff itself is one full-outer join on doc_id. Snapshots stored
    * bucketed on doc_id (the q75 handoff layout) make even that join
    * exchange-free; unchanged documents are filtered before the
    * presentation sort, so the output is delta-sized. */
  def q79SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame =
    snapshotDeltaStaged(spark, sfDir).orderBy("doc_id")

  /** The INCREMENTAL REFRESH build plan (what [[refreshedShingles]]
    * materializes): apply q79's delta to the snapshot-A shingle artifact
    * instead of re-shingling the corpus —
    *
    *  1. rows of removed/modified doc_ids are dropped from the base
    *     artifact (anti join on doc_id: the base side reads its bucket
    *     layout in place, only the delta-sized id list moves);
    *  2. added/modified documents — and ONLY those — run the
    *     tokenize→window→distinct shingling pass;
    *  3. the union is the refreshed table.
    *
    * The expensive stage (shingling) now scales with the delta (~27% of
    * docs under q79's rules; a weekly recrawl at 100 TB is typically
    * 1-10%), not the corpus — re-shingling the unchanged majority is the
    * single largest recurring cost a full rebuild pays for nothing.
    * Deliberately NO broadcast hints: at real scale the delta id list is
    * billions of rows, so the joins must stay shuffle-on-doc_id (AQE
    * broadcasts them at test scale on its own). Public so the spec can
    * pin the build shape (base artifact scanned, never re-shingled). */
  def computeRefreshedShingles(spark: SparkSession,
                               sfDir: String): DataFrame = {
    // delta feeds both the drop list and the fresh list: the STAGED
    // artifact serves both scans (and every other refresh consumer)
    // from its bucketed files — the hash diff itself never reruns
    refreshToB(spark, sfDir, DedupQueries.shingles(spark, sfDir)) { ids =>
      Text.shingleRows(snapshotBDocs(spark, sfDir, ids)
        .select("doc_id", "text"), "doc_id", "text", 3)
    }
  }

  /** The refreshed (snapshot-B) shingle ARTIFACT — built once per
    * (session, scale dir) by the incremental path above, bucketed on
    * doc_id like every shingle consumer expects. OperatorSpec proves the
    * incremental result row-identical to a from-scratch shingling of
    * snapshot B; Bench times the two builds against each other. */
  def refreshedShingles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_shingles_b_", "doc_id") {
      computeRefreshedShingles(spark, sfDir)
    }

  /** Q80: INCREMENTAL ARTIFACT REFRESH — the consumer q79 existed for:
    * per-document shingle counts read from the incrementally refreshed
    * artifact. The oracle computes snapshot B's shingles FROM SCRATCH in
    * DuckDB, so the hash gate is exactly the claim "refresh ≡ full
    * rebuild": any row the incremental path dropped, kept stale, or
    * duplicated breaks the hash. */
  def q80IncrementalRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshedShingles(spark, sfDir)
      .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")

  /** The row-level snapshot delta derived from a manifest table's
    * CHANGED FILES between two versions — [[computeSnapshotDelta]]'s
    * twin whose input is a version range, not two corpus scans: the
    * file-level change set is O(manifest) (the commit wrote it), only
    * the changed files are read (copy-on-write carries unchanged files
    * verbatim, so this is delta-file-sized IO), and rows a rewrite
    * merely carried (same key, same payload on both sides) cancel in
    * the keyed reconcile. Exactly the q79 delta relation — spec-pinned
    * equal — with `text` carried on the add side so downstream
    * refreshes never re-derive snapshot B. */
  private[graft] def cdcDocDelta(spark: SparkSession, root: String,
                                 fromV: Int, toV: Int): DataFrame =
    reconcileDocChanges(graft.sources.ManifestTable
      .readChangesBetween(spark, root, fromV, toV))

  /** The keyed reconcile alone, over an already-read tagged change
    * relation (`doc_id`, `text`, `_change` = insert/delete) — split out
    * so a version-tailing runner can fold the change sets it reads. */
  private[graft] def reconcileDocChanges(changesIn: DataFrame): DataFrame = {
    val changes = changesIn
      .select(col("doc_id"), col("text"), col("_change"))
      .localCheckpoint() // delta-file-sized; read twice below
    Delta.classify(
      changes.where(col("_change") === "delete")
        .select(col("doc_id"), md5(col("text")).as("md5")),
      changes.where(col("_change") === "insert")
        .select(col("doc_id"), col("text"), md5(col("text")).as("md5")),
      "doc_id", "md5")
  }

  /** Q157: CDC-DRIVEN INCREMENTAL REFRESH — q80's shingle refresh
    * rewired to consume COMMITS instead of recomputing the q79 snapshot
    * diff: the documents table lives as a bounds-stamped manifest table
    * (v1 = snapshot A), the recrawl lands as one copy-on-write MERGE
    * (v2 = snapshot B, q155's shape), and the refresh's stale/fresh
    * lists come from [[cdcDocDelta]] over the version range (1, 2] —
    * changed FILES only, with the fresh text read straight from the
    * insert rows, so neither snapshot is ever re-scanned or re-derived.
    * The oracle shingles snapshot B FROM SCRATCH (q80's exact gate), so
    * a wrong change set — a missed rewritten file, a carried row
    * misread as changed, a lost insert — fires the hash gate. At 100 TB
    * this is the Delta-CDF consumption pattern: every downstream
    * artifact refresh tails table versions, never diffs corpus
    * snapshots. */
  def q157CdcRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.Artifacts.freshRoot(spark, sfDir, "manifest_cdc_")
    mergeSnapshotB(spark, root, Tables.documents(spark, sfDir))
    val refreshed = Delta.apply(DedupQueries.shingles(spark, sfDir),
        cdcDocDelta(spark, root, 1, 2), "doc_id") { fresh =>
      Text.shingleRows(fresh.select("doc_id", "text"), "doc_id", "text", 3)
    }
    refreshed.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")
  }

  /** q83's build plan: the incremental refresh CHAINED one artifact
    * down — snapshot B's MinHash signatures derived from the base
    * signature table plus the refreshed shingle artifact, with the
    * expensive stage (4 md5s per shingle + 16 min-aggs) running over
    * the DELTA docs' shingles only. Unchanged docs' signatures are
    * unchanged by construction (a signature is a pure function of the
    * doc's shingle set), so they copy from the base table; this is the
    * "every downstream job reprocesses the delta" claim applied to the
    * artifact CHAIN, not just its first link. Public for the spec. */
  def computeRefreshedSignatures(spark: SparkSession,
                                 sfDir: String): DataFrame = {
    refreshToB(spark, sfDir, DedupQueries.signatures(spark, sfDir)) { ids =>
      DedupQueries.computeSignaturesFrom(
        refreshedShingles(spark, sfDir).join(ids, Seq("doc_id")))
    }
  }

  /** The refreshed (snapshot-B) signature ARTIFACT — q83's table. */
  def refreshedSignatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_signatures_b_", "doc_id") {
      computeRefreshedSignatures(spark, sfDir)
    }

  /** Q83: the incrementally refreshed signature artifact, presented as
    * (doc_id, csv of the 16 minhashes). The oracle recomputes snapshot
    * B's signatures FROM SCRATCH (the q18 signature CTEs over the B
    * derivation), so the hash gate proves the chained refresh equals a
    * full rebuild — including that copied base rows were safe to copy. */
  def q83SignatureRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshedSignatures(spark, sfDir)
      .select(col("doc_id"),
        concat_ws(",", transform(col("sig"), h => h.cast("string")))
          .as("sig_csv"))
      .orderBy("doc_id")

  def q67SourceReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TextQueries.docFeatures(spark, sfDir)
      .select("doc_id", "source", "token_cnt", "quality")
    // Every number in this report is a per-doc scalar the docFeatures
    // artifact already holds, so the whole query is metadata work —
    // fixed-width artifact scans and source-cardinality aggregates; the
    // corpus's text is read by NO branch of this plan. The dup flag
    // comes from the narrow-key metadata (qualityReps' discipline,
    // minus the quality filter — q67 reports dups corpus-wide): a doc
    // is a dup iff its hash group is multi AND it is not the group's
    // exact keeper. The old min-over-norm window shuffled every
    // (source, norm, counts) row on the norm string to derive the same
    // bit.
    //
    // The WIDE path is join-free: the base per-source aggregate runs
    // scan → partial agg with no flag joins at all; the dup and
    // contamination counts aggregate separately over a narrow
    // (doc_id, source) projection joined to the dup-sized id lists, and
    // the three per-source aggregates (source-cardinality rows) merge at
    // the end. Even with every join in shuffle fallback, the exchanges
    // carry (doc_id, source) pairs and per-source partials — never norm
    // or counts-wide rows.
    val (_, _, dropped) = DedupQueries.dupGroupsFromFeatures(spark, sfDir)
    val contaminated = DedupQueries.contamination(spark, sfDir)
      .where(col("contaminated_shingles") >= 3)
      .select("doc_id")
    val idSource = docs.select("doc_id", "source")
    val base = docs.groupBy("source").agg(
      count(lit(1)).as("doc_cnt"),
      sum(col("token_cnt")).as("total_tokens"),
      sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("quality_pass"))
    val dupBySource = idSource.join(dropped, Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("exact_dups"))
    val contamBySource = idSource.join(contaminated, Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("contaminated"))
    base
      .join(dupBySource, Seq("source"), "left")
      .join(contamBySource, Seq("source"), "left")
      .select(col("source"), col("doc_cnt"), col("total_tokens"),
        col("quality_pass"),
        coalesce(col("exact_dups"), lit(0L)).as("exact_dups"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"))
      .orderBy("source")
  }

  /** q95's build plan: the incremental refresh applied to the SPAN-
    * FEATURE artifact — per SCALING.md's own extrapolation the single
    * most expensive artifact at 100 TB (the ~200 TB one-shot census
    * shuffle at 10^13 positions), and until this round the only one in
    * the family (shingles q80, signatures q83, PQ codes q91) that
    * rebuilt from scratch on any snapshot change. Same discipline as
    * [[computeRefreshedShingles]]: drop the staged delta's removed/
    * modified doc_ids from the base artifact (anti join — the base
    * side reads its bucket layout in place, only the delta-sized id
    * list moves), run the tokenize→native-census pass over ONLY the
    * added/modified documents, union. Span features are strictly
    * per-document (position, token, gram key — nothing cross-doc), so
    * refresh ≡ rebuild is exact, and the recurring census cost scales
    * with the recrawl delta instead of the corpus. Public so the spec
    * can pin the build shape (base artifact scanned, never
    * re-tokenized). */
  def computeRefreshedSpanFeatures(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    refreshToB(spark, sfDir, DedupQueries.spanFeatures(spark, sfDir)) { ids =>
      DedupQueries.spanFeaturesOf(
        snapshotBDocs(spark, sfDir, ids).select("doc_id", "text"))
    }
  }

  /** The refreshed (snapshot-B) span-feature ARTIFACT — built once per
    * (session, scale dir) by the incremental path above, bucketed on
    * doc_id like the base artifact. OperatorSpec proves it row-identical
    * to a from-scratch census of snapshot B; Bench times the two builds
    * against each other (span_refresh_sec vs span_rebuild_sec). */
  def refreshedSpanFeatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_spanfeat_b_", "doc_id") {
      computeRefreshedSpanFeatures(spark, sfDir)
    }

  /** Q95: SPAN-FEATURE REFRESH — the per-document census digest of the
    * incrementally refreshed artifact: position count, full-width gram
    * count, token-length mass, and an order-independent positional
    * checksum (bit_xor of g + pos) with the minimum gram key. The
    * oracle recomputes snapshot B's span features FROM SCRATCH in
    * DuckDB (tokenize → positional 60-bit gram keys — the q88 key
    * construction over the q79 B derivation), so the hash gate is
    * exactly the claim "refresh ≡ full rebuild": a stale row kept, a
    * fresh row missed, or a duplicated row shifts a count or the xor.
    * All integer-exact; no float crosses the gate. */
  def q95SpanRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshedSpanFeatures(spark, sfDir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        count(col("g")).as("n_grams"),
        sum(length(col("w"))).as("len_sum"),
        expr("bit_xor(g + pos)").as("g_xor"),
        min(col("g")).as("g_min"))
      .orderBy("doc_id")

  /** q98's build plan: the refresh discipline applied to docFeatures —
    * the OTHER corpus text scan (the artifact profile's single most
    * expensive step, ~7 s of the sf0.1 build), whose own scaladoc has
    * promised a per-doc-upsert refresh since it shipped: every column
    * is a pure per-document function of `text`, so unlike the
    * signature chain there is no cross-document state to reconcile —
    * drop the stale rows, recompute features for the delta docs only,
    * union. With this, BOTH corpus text scans (docFeatures here,
    * spanFeatures via q95) and everything derived from them (shingles
    * q80 → signatures q83; PQ codes q91) have incremental paths — the
    * refresh family is closed over the whole artifact DAG. */
  def computeRefreshedDocFeatures(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    refreshToB(spark, sfDir, TextQueries.docFeatures(spark, sfDir)) { ids =>
      TextQueries.docFeaturesOf(snapshotBDocs(spark, sfDir, ids))
    }
  }

  /** The refreshed (snapshot-B) doc-feature ARTIFACT, bucketed on
    * doc_id like the base. ScaleSpec proves it row-identical — h
    * column included — to a from-scratch feature pass over snapshot
    * B; Bench pairs docfeat_refresh_sec vs docfeat_rebuild_sec. */
  def refreshedDocFeatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_docfeat_b_", "doc_id") {
      computeRefreshedDocFeatures(spark, sfDir)
    }

  /** Q98: DOC-FEATURE REFRESH — the oracle-checkable projection of the
    * refreshed artifact: (doc_id, source, lang, token_cnt, quality).
    * The DuckDB oracle recomputes snapshot B's features FROM SCRATCH
    * (tokenize + the q24 quality formula over the q79 B derivation),
    * so the hash gate is refresh ≡ rebuild for the feature table. The
    * `h` column stays out of the projection only because DuckDB has no
    * xxhash64 — the spec's row-identity check covers it. */
  def q98DocFeatureRefresh(spark: SparkSession, sfDir: String): DataFrame =
    refreshedDocFeatures(spark, sfDir)
      .select("doc_id", "source", "lang", "token_cnt", "quality")
      .orderBy("doc_id")

  /** q99's build plan: the DECONTAMINATION GATE re-run on a recrawl
    * without a corpus rescan — the refresh discipline CHAINED onto a
    * cross-relation artifact. Sound because the benchmark shingle set
    * is INVARIANT between the snapshots: bench ids are ≡ 0 (mod 20)
    * while q79's delta rules touch ids ending in 7 (removed), 3
    * (modified) and the negative re-add namespace — none ≡ 0 (mod 20),
    * so contamination(doc) = f(doc's shingles, bench set) stays a pure
    * per-document function across the snapshot change (spec-pinned;
    * a recrawl that DID change the eval set would rebuild — the gate
    * below is exactly the check that decides). Stale rows drop from
    * the base contamination artifact; fresh docs' counts come from the
    * ALREADY-INCREMENTAL refreshed shingle artifact (q80) joined to
    * the broadcast bench set — two chained delta-sized steps, zero
    * corpus passes. */
  def computeRefreshedContamination(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val benchSh = DedupQueries.shingles(spark, sfDir)
      .where(col("doc_id") % 20 === 0).select("s").distinct()
    refreshToB(spark, sfDir, DedupQueries.contamination(spark, sfDir)) { ids =>
      refreshedShingles(spark, sfDir)
        .join(ids, Seq("doc_id"))
        .join(broadcast(benchSh), Seq("s"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("contaminated_shingles"))
    }
  }

  /** Q99: CONTAMINATION REFRESH — the refreshed per-doc contamination
    * counts for snapshot B. The oracle recomputes B's contamination
    * FROM SCRATCH in DuckDB (shingle the B derivation, broadcast-join
    * the bench set), so the hash gate proves the chained refresh
    * (delta → refreshed shingles → contamination upsert) equals a full
    * re-gate of the new snapshot. */
  def q99ContamRefresh(spark: SparkSession, sfDir: String): DataFrame =
    computeRefreshedContamination(spark, sfDir).orderBy("doc_id")

  /** Q97: DETERMINISTIC TRAINING-ORDER SHUFFLE + SHARDING — the last
    * step of every training-data pipeline: write the corpus as N
    * shards in a pseudo-random but fully REPRODUCIBLE order (training
    * runs must be able to resume/replay the exact sample order, and
    * re-shuffling per epoch must be a seed change, not a new design).
    * Each document's order key is md5(seed ':' doc_id) — content-
    * independent and uniform, so the order is decorrelated from crawl/
    * source order (the locality a naive doc_id order would leak into
    * consecutive batches); its shard is the key's top 32 bits mod N
    * (map-side, no shuffle needed to decide placement), and its
    * position within the shard is the rank of its key there.
    *
    * Scale shape — the point is what this plan does NOT do: there is
    * no global row_number (a total order over 10^11 docs serializes
    * into one task); placement is a pure map-side hash, so the ONLY
    * exchange is the shard-keyed one the shard WRITER needs anyway,
    * and the within-shard rank is a per-shard sort of corpus/N rows —
    * embarrassingly parallel across shards, skew-free because md5 is
    * uniform. Changing the epoch seed re-runs the same two-stage job.
    * Deterministic ⇒ the DuckDB oracle replays key, shard, and rank
    * bit-for-bit. */
  def q97ShardOrder(spark: SparkSession, sfDir: String,
                    seed: String = "epoch0", shards: Int = 8): DataFrame = {
    val key = md5(concat(lit(seed), lit(":"), col("doc_id")))
    val byShard = Window.partitionBy("shard").orderBy("key")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), key.as("key"))
      .withColumn("shard",
        (conv(substring(col("key"), 1, 8), 16, 10).cast("long") % shards)
          .cast("int"))
      .withColumn("pos", row_number().over(byShard).cast("long") - 1)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Q93: TOKEN-DISTRIBUTION DRIFT between snapshots A and B — the
    * monitoring step of the recrawl story (q79 says WHICH documents
    * changed; this says what the change did to the TOKEN MIX the model
    * will train on, the distribution-shift gate every production corpus
    * refresh runs before promoting a snapshot). Per token: counts under
    * both snapshots and the per-million-rate delta, integer-exact
    * (counts and ppm both computed in BIGINT arithmetic — `DIV`
    * truncation, positive operands — so both engines reproduce every
    * row bit-for-bit; no float crosses the hash gate). Ordered by
    * drift magnitude, so the head of the result IS the drift report.
    *
    * Scale shape: NEITHER snapshot is re-tokenized. Snapshot A's token
    * rows are the [[DedupQueries.spanFeatures]] artifact's `w` column
    * (every position, read in place); snapshot B's derive
    * incrementally, [[computeRefreshedShingles]]' exact discipline —
    * drop the staged delta's removed/modified doc_ids (anti join,
    * delta-sized id list), tokenize ONLY the added/modified documents.
    * Both count aggregates then map-side-combine down to one row per
    * DISTINCT word (vocab-, never corpus-sized exchanges), the drift
    * join is vocab-sized, and the two corpus totals attach as a
    * broadcast single-row aggregate — no driver collect anywhere. The
    * total-variation summary is left to the consumer
    * (`sum(abs(delta_ppm))/2e6`) — this relation is its exact integer
    * input. */
  def q93TokenDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val aTok = DedupQueries.spanFeatures(spark, sfDir).select("doc_id", "w")
    val bTok = refreshToB(spark, sfDir, aTok) { ids =>
      snapshotBDocs(spark, sfDir, ids)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    }
    val joined = aTok.groupBy("w").agg(count(lit(1)).as("cnt_a"))
      .join(bTok.groupBy("w").agg(count(lit(1)).as("cnt_b")),
        Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
    joined.crossJoin(broadcast(totals))
      .withColumn("delta_ppm",
        expr("(cnt_a * 1000000 DIV tot_a) - (cnt_b * 1000000 DIV tot_b)"))
      .select(col("w"), col("cnt_a"), col("cnt_b"), col("delta_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col("w"))
  }

  /** q127's sample key: a 60-bit uniform hash of (lang, doc_id) under its
    * own salt — content-keyed (re-running or re-sharding reproduces the
    * sample, q53's discipline) and disjoint from every other md5 use. */
  private[graft] def exactSampleHash(lang: Column, docId: Column): Column =
    conv(substring(md5(concat(lit("exact:"), lang, lit(":"), docId)),
      1, 15), 16, 10).cast("long")

  /** Q127: EXACT-COUNT stratified sample — the exact complement of q53's
    * threshold sampling. q53 keeps a row iff its hash bucket falls under
    * the stratum rate, so the realized stratum size is BINOMIAL (at 20%
    * of a million-doc stratum, ±900 docs run to run as data shifts); a
    * mixture recipe that promises "exactly 20% of each language" needs
    * the ceil(rate·N_g)-smallest-hash rows per stratum — a per-group
    * ORDER STATISTIC, not a threshold test.
    *
    * The naive formulation ranks every row (`row_number() OVER
    * (PARTITION BY lang ORDER BY hash)`): ONE exchange plus a full sort
    * of the corpus to discard 50-80% of it. This implementation instead
    * bisects for the per-stratum k-th smallest hash with q109's batched
    * grouped histogram machinery ([[RelationalQueries.groupedQuantiles]]
    * — the rank contract ceil(p·N/100) IS the sample target for integer
    * rates), then keeps rows by a map-side `hash < T_g` filter against
    * the broadcast thresholds. Nothing corpus-sized ever shuffles:
    * log_256(N) rounds of 256-row-per-frame histograms, two tiny count
    * aggregates, and a window over only the hash-collision ties at T_g
    * (expected empty at 60 bits; handled exactly, broken by doc_id, so
    * the selection is total-order deterministic even under collision).
    * The window twin lives in [[exactSampleByWindow]] as the
    * differential spec oracle — measured in ScaleSpec: the bisect path
    * shuffles O(strata·256·rounds) rows where the window shuffles N.
    *
    * Rates mirror q53 (en 50%, others 20%) so the two queries are
    * directly comparable: same strata, same rate intent, binomial vs
    * exact realized counts. */
  def q127ExactSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        exactSampleHash(col("lang"), col("doc_id")).as("hv"),
        when(col("lang") === "en", lit(50)).otherwise(lit(20)).as("pct"))
    exactStratifiedSample(docs).orderBy("doc_id")
  }

  /** Exactly ceil(pct_g·N_g/100) rows per group, the smallest-`hv` ones
    * (ties at the threshold broken by doc_id). Input columns:
    * (doc_id, lang, hv: long, pct: int — constant within a lang);
    * `extra` names further input columns carried through to the
    * output unchanged (q140's token_cnt/decile tags ride here). */
  private[graft] def exactStratifiedSample(df: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(Seq(col("lang").as("g"), col("hv").as("v"),
      col("doc_id"), col("pct")) ++ extra.map(col): _*)
    // per-stratum rate map (tiny: one row per stratum)
    val rates = keyed.select("g", "pct").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    // the k-th smallest hash per stratum, k = ceil(pct·N_g/100) — the
    // groupedQuantiles rank contract verbatim. All distinct rates are
    // answered in the same batched rounds; irrelevant (g, pct) frames
    // are dropped after.
    val thresholds = RelationalQueries.groupedQuantiles(
      keyed.select("g", "v"), rates.values.toSeq.distinct)
      .collect { case (g, p, t) if rates(g) == p => (g, t) }
    val tdf = broadcast(thresholds.toDF("g", "t"))
    val joined = keyed.join(tdf, Seq("g"))
    val below = joined.where(col("v") < col("t"))
    // per-stratum quota left for rows that TIE the threshold hash:
    // target minus the strictly-below count (both tiny aggregates).
    // LEFT join: a stratum whose whole quota is threshold ties (e.g.
    // quota 1 on a tiny stratum — nothing strictly below the 1st
    // smallest hash) has NO below row; it must still keep its ties.
    val quota = keyed.groupBy("g")
      .agg(count(lit(1)).as("n"), first("pct").as("p"))
      .select(col("g"), expr("(n * p + 99) DIV 100").as("target"))
      .join(below.groupBy("g").agg(count(lit(1)).as("c_below")),
        Seq("g"), "left")
      .select(col("g"),
        (col("target") - coalesce(col("c_below"), lit(0L))).as("tie_quota"))
    val ties = joined.where(col("v") === col("t"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy("doc_id")))
      .join(broadcast(quota), Seq("g"))
      .where(col("rn") <= col("tie_quota"))
    val outCols = Seq(col("doc_id"), col("g").as("lang"),
      col("v").as("hv")) ++ extra.map(col)
    below.select(outCols: _*).unionByName(ties.select(outCols: _*))
  }

  /** The full-sort twin q127 avoids: per-stratum rank window, kept as
    * the differential oracle (spec-pinned equal to the bisect path). */
  private[graft] def exactSampleByWindow(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    val n = Window.partitionBy("lang")
    df.withColumn("rk", row_number().over(w))
      .withColumn("n_g", count(lit(1)).over(n))
      .where(col("rk") <= expr("(n_g * pct + 99) DIV 100"))
      .select("doc_id", "lang", "hv")
  }

  /** q128's source-tier weight: 1..5 off the source id's numeric suffix
    * — a deterministic stand-in for the per-source sampling weights a
    * mixture recipe assigns (both engines derive it from the same
    * string arithmetic, no lookup table to drift). */
  private[graft] def wsampleWeight(source: Column): Column =
    lit(1) + substring(source, 4, 10).cast("int") % 5

  /** q128's selection key: the MAX of `weight` independent salted
    * hashes of the doc id. The max of w iid U(0,1) draws has CDF x^w —
    * identically distributed to u^(1/w), the Efraimidis–Spirakis
    * reservoir key — so top-k by this key IS weighted sampling without
    * replacement, with NO transcendental in sight: pure hash generation
    * and string comparison, bit-replayable in any engine. (The float
    * formulation u^(1/w) needs pow/ln whose last-ulp behaviour differs
    * across runtimes — unusable under a cross-engine hash gate.) */
  private[graft] def wsampleKey(docId: Column, weight: Column): Column =
    array_max(transform(sequence(lit(1), weight),
      i => md5(concat(lit("wsamp:"), docId.cast("string"),
        lit(":"), i.cast("string")))))

  /** Q128: WEIGHTED sample without replacement — the mixture-building
    * primitive for "prefer curated sources k× over web crawl": draw
    * k=100 documents where a weight-w doc is selected with the
    * Efraimidis–Spirakis reservoir probabilities (w=5 sources ~5× the
    * w=1 ones), deterministically. Key = [[wsampleKey]] (max-of-w
    * variant hashes ≡ u^(1/w) in law, spec-pinned by a 3000-salt
    * frequency replay of the k=1 marginal P(i wins) = w_i/Σw).
    *
    * Scale shape: the key is map-side (≤5 md5s per row, no explode, no
    * shuffle); selection is `orderBy(key).limit(k)` which plans as
    * TakeOrderedAndProject — a bounded per-partition heap plus a
    * driver merge of partitions·k rows, never a global sort exchange
    * (spec-pinned). At 100 TB this samples the corpus in one
    * pass with O(k) memory per task. Integer weights are a design
    * contract (the variant count IS the weight); weight caps ride the
    * weight rule, not the operator. */
  def q128WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("weight", wsampleWeight(col("source")))
      .withColumn("sample_key", wsampleKey(col("doc_id"), col("weight")))
    keyed.orderBy(col("sample_key").desc, col("doc_id")).limit(100)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("sample_key").desc, col("doc_id"))).cast("long"))
      .orderBy("rk")
  }

  /** Q145: STRATIFIED weighted sample — the cell of the sampling matrix
    * q127/q128 leave open (q127 = exact-count UNWEIGHTED per stratum,
    * q128 = weighted GLOBAL): the top-k Efraimidis–Spirakis draw PER
    * LANGUAGE, the "20 docs per language, curated sources preferred k×"
    * mixture recipe. Key = [[wsampleKey]] (max-of-w salted hashes ≡
    * u^(1/w) in law — q128's spec-pinned construction, unchanged), so
    * within each stratum the k largest keys ARE a weighted sample
    * without replacement.
    *
    * Scale shape: per-group top-k via the native bounded-heap aggregate
    * ([[graft.functions.TopKAgg]], string-desc/id-asc directions) —
    * map-side partials send ≤ k rows per (task, lang), so the shuffle
    * is k·|langs| rows where the window-rank formulation sorts the
    * corpus per stratum (the q62 contrast, applied to sampling; plan
    * spec pins zero Window and the ObjectHashAggregate pair). */
  def q145StratifiedWeightedSample(spark: SparkSession,
      sfDir: String): DataFrame = {
    val k = 20
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("weight", wsampleWeight(col("source")))
      .withColumn("sample_key", wsampleKey(col("doc_id"), col("weight")))
    keyed.groupBy("lang")
      .agg(graft.functions.Aggregates.topK(
        struct(col("sample_key"), col("doc_id"), col("weight")), k,
        asc = Seq(false, true, true)).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("col.doc_id").as("doc_id"), col("col.weight").as("weight"),
        col("col.sample_key").as("sample_key"))
      .orderBy("lang", "rk")
  }

  /** Q148: LENGTH-BALANCED weighted mixture — the curriculum recipe
    * that needs BOTH tags: "5 docs per (language, length-decile),
    * curated sources preferred w×". Composes three verified
    * primitives at a finer stratum than any of them alone: q139's
    * equi-depth decile tag (nine bisected order statistics per lang,
    * broadcast, map-side comparisons), q128's hash-exact
    * Efraimidis–Spirakis key, and q145's bounded-heap per-stratum
    * top-k — now grouped by (lang, decile), 50 strata, k=5. The
    * equi-depth property is what makes the mixture length-BALANCED:
    * every decile holds ~N_lang/10 docs, so equal per-stratum quotas
    * flatten the length distribution by construction.
    *
    * Scale shape: decile thresholds via groupedQuantiles (zero corpus
    * shuffle), the key map-side (≤5 md5s/row), the draw a bounded heap
    * per stratum (≤ k rows per task per stratum) — the whole mixture
    * is one corpus pass plus sketch-sized exchanges. */
  def q148BalancedMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val feats = TextQueries.docFeatures(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        col("token_cnt").cast("long").as("v"))
    feats.join(broadcast(RelationalQueries.decileThresholds(feats)),
        Seq("lang"))
      .select(col("doc_id"), col("lang"),
        RelationalQueries.decileTag(col("v")).as("decile"),
        wsampleWeight(col("source")).as("weight"))
      .withColumn("sample_key", wsampleKey(col("doc_id"), col("weight")))
      .groupBy("lang", "decile")
      .agg(graft.functions.Aggregates.topK(
        struct(col("sample_key"), col("doc_id"), col("weight")), k,
        asc = Seq(false, true, true)).as("top"))
      .select(col("lang"), col("decile"), posexplode(col("top")))
      .select(col("lang"), col("decile"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col.doc_id").as("doc_id"), col("col.weight").as("weight"),
        col("col.sample_key").as("sample_key"))
      .orderBy("lang", "decile", "rk")
  }

  /** TRIMMED-corpus features: per doc, the token count of the q121
    * suffix-trimmed text (exact-substring spans cut, the doc rebuilt
    * from the kept segments). Materialized because q140's three
    * order-statistic stages each run bisection passes over it — the
    * artifact turns log₂₅₆(range) histogram rounds × three stages into
    * re-scans of a tiny bucketed table instead of re-executions of the
    * suffix-trim lineage (the Artifacts house rule: every corpus-scan
    * product is a build-once table).
    *
    * Refresh-soundness boundary (q116's lesson applies VERBATIM): the
    * trim spans are a GLOBAL property — removing one document can
    * change an UNTOUCHED document's spans (its best cross-doc match may
    * have been the removed doc) — so a delta-local upsert of this table
    * is unsound; the sound refresh is recompute-on-snapshot + write the
    * change set, exactly q116's discipline. */
  private[graft] def trimmedFeatures(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Artifacts.materialize(spark, sfDir, "graft_trimfeat_", "doc_id") {
      val cuts = SuffixQueries.q119TrimPlan(spark, sfDir)
        .groupBy("doc_id")
        .agg(array_sort(collect_list(
          struct(col("span_start"), col("span_end")))).as("cuts"))
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
        .join(cuts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          size(Text.tokens(SuffixQueries
            .survivingNative(col("text"), col("cuts"))))
            .cast("long").as("token_cnt"))
    }

  /** Q140: CURATION PIPELINE v3 — the round-13 operator family composed
    * in ONE hash-checked plan, the thing q64 proves for its own
    * generation (integration is where artifact reuse and broadcast
    * boundaries historically broke):
    *
    *  1. exact-substring TRIM (q121): every decision-grade cross-doc
    *     span is cut and the doc rebuilt from the kept segments —
    *     counts below come from the TRIMMED text ([[trimmedFeatures]]);
    *  2. MAD length gate (q136's rule): drop docs whose trimmed token
    *     count deviates from the per-lang median by more than 2·MAD —
    *     the skew-proof outlier rule, now measuring post-trim reality
    *     (a doc that was 90% boilerplate gates on its 10% of signal);
    *  3. per-lang DECILE tag (q139): survivors get an equi-depth decile
    *     id from nine exact order statistics over the SURVIVOR
    *     distribution (thresholds move when the gate removes tails —
    *     recomputed, not reused, by design);
    *  4. exact-count stratified sample (q127): en 50% / others 20% of
    *     survivors, the ceil(rate·N_g)-smallest-hash rows per lang.
    *
    * Scale shape: ONE corpus-shaped product (the trimmed-features
    * artifact, built from the docs-sized span join — bucketed on
    * doc_id); every order statistic (median, MAD, nine deciles, the
    * per-lang sample thresholds) is a [[RelationalQueries
    * .groupedQuantiles]] bisection over that artifact — zero
    * corpus-sized shuffles end to end — and the gates/tags are map-side
    * passes against broadcast constants. The oracle recomputes the
    * whole chain from the documents table (suffix replay → trim →
    * tokenize → MAD → deciles → sample window), so the hash gate pins
    * the full composition, not the stages separately. */
  def q140CurationV3(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val feats = trimmedFeatures(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("token_cnt").as("v"))
    // stage 2: MAD gate on the trimmed counts (q136's two chained
    // medians, each a bisection; constants broadcast back)
    val med = RelationalQueries.groupedQuantiles(
        feats.select(col("lang").as("g"), col("v")), Seq(50))
      .map { case (g, _, m) => (g, m) }.toDF("lang", "med")
    val withDev = feats.join(broadcast(med), Seq("lang"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = RelationalQueries.groupedQuantiles(
        withDev.select(col("lang").as("g"), col("dev").as("v")), Seq(50))
      .map { case (g, _, m) => (g, m) }.toDF("lang", "mad")
    val survivors = withDev.join(broadcast(mad), Seq("lang"))
      .where(col("dev") <= lit(2L) * col("mad"))
      .select(col("doc_id"), col("lang"), col("v"))
    // stage 3: decile tag over the SURVIVOR distribution (q139's shared
    // machinery; equal values stay low)
    val tagged = survivors
      .join(broadcast(RelationalQueries.decileThresholds(survivors)),
        Seq("lang"))
      .select(col("doc_id"), col("lang"), col("v").as("token_cnt"),
        RelationalQueries.decileTag(col("v")).as("decile"))
    // stage 4: exact-count stratified sample of the survivors (q127's
    // machinery, tags carried through)
    exactStratifiedSample(
      tagged.select(col("doc_id"), col("lang"),
        exactSampleHash(col("lang"), col("doc_id")).as("hv"),
        when(col("lang") === "en", lit(50)).otherwise(lit(20)).as("pct"),
        col("token_cnt"), col("decile")),
      extra = Seq("token_cnt", "decile"))
      .select("doc_id", "lang", "token_cnt", "decile", "hv")
      .orderBy("doc_id")
  }
}
