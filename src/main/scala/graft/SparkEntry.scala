package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.SampleJobs
import graft.operators.{AsofJoin, CurationPipeline, DedupQueries,
  FuzzyJoin, ManifestQueries, MultimodalPipeline, ProductQuantization,
  RangeJoin, ReferenceQueries, RelationalQueries, SimilarityQueries,
  SkewJoin, SqlCatalogQueries, SuffixQueries, SuffixRefresh, TextQueries}
import graft.sources.{DelimitedSources, PartitionedSink}
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-runnable twin in [[oracleSql]]
  * (same column names, same deterministic ORDER BY, same rounding) unless the
  * operator is not SQL-expressible, in which case the driver records a
  * rows-only check.
  */
object SparkEntry {

  /** Flagship query (the reference's own end-to-end app, main.c:26-140):
    * inverted index over documents at sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.q2InvertedIndex(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.11. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_wordcount"      -> (ReferenceQueries.q1WordCount _),
    "q2_inverted_index" -> (ReferenceQueries.q2InvertedIndex _),
    "q3_distinct_tokens"-> (ReferenceQueries.q3DistinctTokens _),
    "q4_top_words"      -> (ReferenceQueries.q4TopWords _),
    "q5_filter_agg"     -> (RelationalQueries.q5FilterAgg _),
    "q6_groupby_agg"    -> (RelationalQueries.q6GroupByAgg _),
    "q7_join_agg"       -> (RelationalQueries.q7JoinAgg _),
    "q8_multi_join"     -> (RelationalQueries.q8MultiJoin _),
    "q9_semi_join"      -> (RelationalQueries.q9Semi _),
    "q9_anti_join"      -> (RelationalQueries.q9Anti _),
    "q10_window_rank"   -> (RelationalQueries.q10WindowTopOrder _),
    "q11_sort_limit"    -> (RelationalQueries.q11TopOrders _),
    "q12_intersect"     -> (RelationalQueries.q12Intersect _),
    "q12_except"        -> (RelationalQueries.q12Except _),
    "q13_rollup"        -> (RelationalQueries.q13Rollup _),
    "q14_time_bucket"   -> (RelationalQueries.q14TimeBucket _),
    "q15_exact_dedup"   -> (DedupQueries.q15ExactDedup _),
    "q16_text_stats"    -> (TextQueries.q16TextStats _),
    "q17_ann_brute"     -> (SimilarityQueries.q17AnnBrute _),
    "q18_minhash_lsh"   -> (DedupQueries.q18MinhashLsh _),
    "q19_ngram_jaccard" -> (DedupQueries.q19NgramJaccard _),
    "q20_simhash"       -> (DedupQueries.q20Simhash _),
    "q21_embedding_neardup" -> (SimilarityQueries.q21EmbeddingNearDup _),
    "q22_ann_lsh"       -> (SimilarityQueries.q22AnnLsh _),
    "q23_lang_id"       -> (TextQueries.q23LangId _),
    "q24_quality_score" -> (TextQueries.q24QualityScore _),
    "q25_token_stats"   -> (TextQueries.q25TokenStats _),
    "q26_fingerprint"   -> (TextQueries.q26Fingerprint _),
    "q27_multimodal_meta" -> (MultimodalPipeline.q27MultimodalMeta _),
    "q28_mr_wordcount"  -> (SampleJobs.q28MrWordCount _),
    "q29_stream_time_bucket" -> (EventStreams.q29StreamTimeBucket _),
    "q30_stream_sessions"    -> (EventStreams.q30StreamSessions _),
    "q31_stream_first_seen"  -> (EventStreams.q31StreamFirstSeen _),
    "q60_stream_append" -> (EventStreams.q60StreamAppendWindows _),
    "q86_stream_dedup"  -> (EventStreams.q86StreamDedup _),
    "q90_stream_dedup_bounded" -> (EventStreams.q90StreamDedupBounded _),
    "q32_json_extract"  -> (RelationalQueries.q32JsonExtract _),
    "q33_cube"          -> (RelationalQueries.q33Cube _),
    // q34 is approximate (HLL++): no SQL oracle — rows-only driver check;
    // the <5% error bound vs exact is asserted in OperatorSpec.
    "q34_approx_distinct" -> (RelationalQueries.q34ApproxDistinct _),
    "q35_window_analytics" -> (RelationalQueries.q35WindowAnalytics _),
    "q36_asof_join"     -> (AsofJoin.q36AsofJoin _),
    "q37_frame_sample"  -> (MultimodalPipeline.q37FrameSample _),
    // q38 emits an integer projection of the float vectors (norm_milli +
    // comp-micro csv) so the DuckDB oracle can hash-verify it; the raw
    // array<float> stays internal (embedVectors) for specs and ANN.
    "q38_embed_stub"    -> (MultimodalPipeline.q38EmbedStub _),
    "q39_ann_ivf"       -> (SimilarityQueries.q39AnnIvf _),
    "q57_ann_ivf_kmeans" -> (SimilarityQueries.q57AnnIvfKmeans _),
    "q40_range_join"    -> (RangeJoin.q40RangeJoin _),
    "q41_resize"        -> ((s: SparkSession, d: String) =>
      MultimodalPipeline.q41Resize(s, d)),
    // q42's oracle is a recursive-CTE label walk (q42Sql) — fully
    // hash-checked; a JVM union-find differential spec covers it too.
    "q42_dup_clusters"  -> (DedupQueries.q42DupClusters _),
    "q43_stream_interval_join" -> (EventStreams.q43StreamIntervalJoin _),
    "q44_tfidf"         -> (TextQueries.q44Tfidf _),
    "q45_pivot"         -> (RelationalQueries.q45Pivot _),
    "q46_percentiles"   -> (RelationalQueries.q46Percentiles _),
    "q47_edit_distance" -> (DedupQueries.q47EditDistance _),
    "q48_simhash_pairs" -> (DedupQueries.q48SimhashPairs _),
    "q49_sliding_window" -> (RelationalQueries.q49SlidingWindow _),
    "q50_corpus_curation" -> (CurationPipeline.q50CorpusCuration _),
    "q51_group_stats"   -> (RelationalQueries.q51GroupStats _),
    "q52_decontaminate" -> (DedupQueries.q52Decontaminate _),
    "q53_hash_sample"   -> (TextQueries.q53HashSample _),
    "q54_pii_scrub"     -> (TextQueries.q54PiiScrub _),
    "q55_repetition"    -> (TextQueries.q55Repetition _),
    "q56_lm_score"      -> (TextQueries.q56UnigramLogprob _),
    // q58/q59 stage the parquet table out as CSV/JSON and read it back
    // with an explicit schema; the oracle aggregates the ORIGINAL parquet,
    // so any round-trip loss breaks the hash.
    "q58_csv_source"    -> (DelimitedSources.q58CsvSource _),
    "q59_json_source"   -> (DelimitedSources.q59JsonSource _),
    "q103_orc_source"   -> (DelimitedSources.q103OrcSource _),
    "q108_gzip_source"  -> (DelimitedSources.q108GzipSource _),
    "q61_audio_windows" -> ((s: SparkSession, d: String) =>
      MultimodalPipeline.q61AudioWindows(s, d)),
    "q62_topk_agg"      -> (RelationalQueries.q62TopkAgg _),
    "q63_kmv_distinct"  -> (RelationalQueries.q63KmvDistinct _),
    "q64_curation_v2"   -> (CurationPipeline.q64CurationV2 _),
    "q65_seq_pack"      -> (TextQueries.q65SequencePack _),
    // q66 must equal q52 exactly: the bloom is a prefilter, the verify
    // join removes its false positives — so it shares q52's oracle.
    "q66_bloom_decontaminate" -> (DedupQueries.q66BloomDecontaminate _),
    "q67_source_report" -> (CurationPipeline.q67SourceReport _),
    "q68_chunk"         -> (TextQueries.q68Chunk _),
    "q69_balanced_cap"  -> (TextQueries.q69BalancedCap _),
    "q70_length_outliers" -> (TextQueries.q70LengthOutliers _),
    "q71_leakage_split" -> (CurationPipeline.q71LeakageSplit _),
    "q72_global_index"  -> (CurationPipeline.q72GlobalIndex _),
    "q73_epoch_mix"     -> (CurationPipeline.q73EpochMix _),
    "q74_bpe_tokens"    -> (TextQueries.q74BpeTokens _),
    "q75_bucketed_handoff" -> (CurationPipeline.q75BucketedHandoff _),
    "q76_pq_codes"      -> (ProductQuantization.q76PqCodes _),
    "q77_ann_ivf_pq"    -> (ProductQuantization.q77AnnIvfPq _),
    "q78_ann_pq_rerank" -> (ProductQuantization.q78AnnPqRerank _),
    "q84_ann_pq256"     -> (ProductQuantization.q84AnnPq256 _),
    "q85_ann_pq256_rerank" -> (ProductQuantization.q85AnnPq256Rerank _),
    // q91 reads the INCREMENTALLY refreshed PQ code table (base index
    // minus removed/modified vectors, plus delta vectors coded with the
    // frozen snapshot-A model); the oracle codes snapshot B from scratch
    // with the same model — the hash gate IS refresh ≡ rebuild for the
    // ANN index family.
    "q91_pq_refresh"    -> (ProductQuantization.q91PqRefresh _),
    "q87_semdedup"      -> (SimilarityQueries.q87SemDedup _),
    "q88_dup_spans"     -> (DedupQueries.q88DupSpans _),
    "q89_dup_span_trim" -> (DedupQueries.q89DupSpanTrim _),
    "q92_span_trimmed"  -> (DedupQueries.q92SpanTrimmed _),
    "q94_ngram_novelty" -> (DedupQueries.q94NgramNovelty _),
    // q93 compares snapshot A's token mix to snapshot B's (q79's
    // derivation) — the drift report a corpus refresh gates on;
    // integer-exact ppm deltas so the hash gate sees no floats.
    "q93_token_drift"   -> (CurationPipeline.q93TokenDrift _),
    "q79_snapshot_diff" -> (CurationPipeline.q79SnapshotDiff _),
    // q80 reads the INCREMENTALLY refreshed shingle artifact (base table
    // minus removed/modified rows, plus freshly shingled delta docs); the
    // oracle shingles snapshot B from scratch — the hash gate IS the
    // refresh ≡ full-rebuild equality.
    "q80_incremental_refresh" -> (CurationPipeline.q80IncrementalRefresh _),
    // q81 runs SkewJoin.saltedJoin over a synthetically skewed orders
    // table (one hot custkey ≈ 25% of rows); the oracle is a plain SQL
    // join over the same deterministic derivation, so the hash gate
    // proves salting changes the partitioning, never the result.
    "q81_skew_join"     -> (SkewJoin.q81SkewJoin _),
    // q82 reads the day-partitioned events table with a literal day
    // predicate (chosen from SHOW PARTITIONS — catalog metadata, no data
    // scan); the oracle filters the raw events to the same day.
    "q82_partition_pruning" -> (PartitionedSink.q82PartitionPruning _),
    // q83 chains the incremental refresh one artifact down: snapshot B's
    // signatures from the base signature table + the refreshed-shingle
    // delta; the oracle recomputes them from scratch.
    "q83_signature_refresh" -> (CurationPipeline.q83SignatureRefresh _),
    // q99 re-runs the decontamination gate on the recrawl without a
    // corpus rescan: stale rows drop from the contamination artifact,
    // fresh docs' counts chain off the already-incremental refreshed
    // shingles (bench set invariant under the delta rules, spec-pinned).
    "q99_contam_refresh" -> (CurationPipeline.q99ContamRefresh _),
    // q98 closes the refresh family over the whole artifact DAG: the
    // docFeatures corpus scan gets the q95 treatment (stale rows
    // dropped, features recomputed for delta docs only); the oracle
    // recomputes snapshot B's features from scratch.
    "q98_docfeat_refresh" -> (CurationPipeline.q98DocFeatureRefresh _),
    // q97 is the shard-writer step: reproducible pseudo-random training
    // order (md5(seed:doc_id) keys), map-side shard placement, within-
    // shard rank — no global total order anywhere in the plan.
    "q97_shard_order"   -> (CurationPipeline.q97ShardOrder(_, _)),
    // q96 LEARNS the BPE merge table q74 applies: 25 rounds of
    // most-frequent-adjacent-pair merges over the corpus word-frequency
    // relation (vocab-sized exchanges; only the 1-row argmax reaches
    // the driver per round); the oracle replays the identical loop in
    // DuckDB, so the hash gate pins the whole merge trajectory.
    "q96_bpe_learn"     -> (TextQueries.q96BpeLearn _),
    // q95 applies the refresh discipline to the SPAN-FEATURE artifact —
    // the most expensive artifact at scale and (until now) the only one
    // in the family without an incremental path; the oracle recomputes
    // snapshot B's positional census from scratch, so the hash gate IS
    // refresh ≡ rebuild for the substring-dedup input.
    "q95_span_refresh"  -> (CurationPipeline.q95SpanRefresh _),
    // q100 is q36's attribution query planned through the NATIVE as-of
    // operator (custom LogicalPlan -> GraftStrategy -> AsofJoinExec, the
    // one whole-operator extension in the engine): each side shuffles
    // only itself at its own width and the probe is an O(n+m) merge scan,
    // vs the composed union+window's null-padded combined-width exchange.
    // Shares q36's oracle, so the hash gate pins the custom-plan path
    // against DuckDB's ASOF LEFT JOIN end-to-end.
    "q100_asof_native"  -> (AsofJoin.q100AsofNative _),
    // q101 extends the reference's flagship inverted index to POSITIONS:
    // phrase retrieval answered by one pushed w-IN-vocabulary scan over
    // the spanFeatures positional artifact plus ONE per-doc window of
    // lead() adjacency checks — all phrases in a single pass, zero joins
    // (the textbook k-way position self-join shuffles postings k times).
    "q101_phrase_search" -> (ReferenceQueries.q101PhraseSearch _),
    // q102 finds heavy-hitter bigrams via a native count-min sketch
    // aggregate + exact verify: the 128 KB sketch merges by vector
    // addition, its estimate-over-threshold prefilter is a guaranteed
    // superset (CMS only over-counts), and the exact verify pass makes
    // the output oracle-exact — bounded-memory heavy hitters where the
    // full-key groupBy exchange is the thing that doesn't scale.
    "q102_heavy_hitters" -> (TextQueries.q102HeavyHitters _),
    // q104 closes the streaming join matrix: q43 is stream-stream; this
    // is stream-STATIC — per-batch broadcast of a profile relation onto
    // the click stream, stateless by construction (no state store, no
    // watermark; spec-pinned), the enrichment shape a feature store
    // serves at ingest.
    "q104_stream_static" -> (graft.streaming.EventStreams.q104StreamStaticJoin _),
    // q105 computes EXACT global percentiles by iterative histogram
    // bisection (256-bucket count/min/max rounds, exact integer ranks,
    // final order-statistic collect under a clamp) — three scans reach
    // any rank in 10^13 rows with bounded driver state and no sort,
    // where percentile()'s value buffer IS the dataset at scale.
    "q105_exact_quantiles" -> (RelationalQueries.q105ExactQuantiles _),
    // q106 extends near-dup detection to the multimodal columns: each
    // REAL BMP decodes to a 64-bit perceptual average-hash per
    // partition (8 bytes per image cross the exchange, never pixels),
    // then q48's pigeonhole band join (8 bands x 8 bits) + bit_count
    // verify finds every pair within hamming 7 without an all-pairs
    // pass.
    "q106_image_neardup" -> ((s0, dir) =>
      MultimodalPipeline.q106ImageNearDup(s0, dir)),
    // q107 chains the refresh discipline onto the count-min sketch:
    // CMS is a LINEAR sketch, so snapshot B's sketch is EXACTLY
    // sketch(A) - sketch(removed) + sketch(added) (spec-pinned
    // elementwise); the refresh pays two delta-sized passes + 32 KB of
    // vector arithmetic, the verify runs over B's incremental bigram
    // stream, and the oracle regates B from scratch - the hash gate IS
    // refresh == rebuild.
    "q107_sketch_refresh" -> (TextQueries.q107SketchRefresh _),
    // q109 generalizes q105's bisection to per-group percentiles with
    // BATCHED rounds: every active (group, pct) frame descends in the
    // same job (broadcast bounds join -> one groupBy(g, pct, bucket)),
    // so rounds = log(N/limit) regardless of group count; integer
    // bucket arithmetic, no value buffered beyond a 256-row histogram
    // per frame - where percentile() per group buffers the biggest
    // group in one task.
    "q109_grouped_quantiles" -> (RelationalQueries.q109GroupedQuantiles _),
    // q110 chains two native as-ofs: the second join's left child
    // arrives already partitioned AND sorted by the first (the custom
    // operator preserves both), so the plan carries exactly three
    // exchanges - one per base relation - and the left side sorts once.
    // The union+window shape would re-shuffle the widened union per hop.
    "q110_asof_chain"   -> (AsofJoin.q110AsofChain _),
    // q111 upgrades q56's LM gate to a CONDITIONAL model: -ln of the
    // add-one-smoothed bigram probability per in-doc position, integer
    // micro-nats (order-independent sums); the count tables are the
    // broadcast "model", the stream rides the bucketed artifact.
    "q111_bigram_lm"    -> (TextQueries.q111BigramLm _),
    // q112 is q30's sessionization moved to batch and extended with the
    // funnel question streaming session_window can't ask: did a view
    // precede a click inside the session? One exchange total — windows,
    // per-session agg and per-user rollup all cluster on user_id.
    "q112_session_funnel" -> (RelationalQueries.q112SessionFunnel _),
    // q113 is the selection policy the cluster artifact exists for:
    // keep the longest member per near-dup cluster (token-count rank,
    // integer-exact — the float quality score never decides an argmax).
    "q113_cluster_canonical" -> (DedupQueries.q113ClusterCanonical _),
    // q114 is exact substring-level dedup: a bounded suffix sort, the
    // adjacent-pair LCP theorem, and a native common_prefix_len — per
    // doc, the longest substring (<= 128 chars) shared with another doc.
    "q114_suffix_repeats" -> (SuffixQueries.q114SuffixRepeats _),
    // q115 is the reporting layer over q114's suffix artifact: per
    // source, docs carrying a decision-grade cross-doc match.
    "q115_source_dup_profile" -> (SuffixQueries.q115SourceDupProfile _),
    // q116 is the suffix table's refresh story: max_shared is a GLOBAL
    // property (a removed duplicate partner lowers the survivor's max),
    // so delta-local refresh is unsound — the sound form recomputes on
    // snapshot B and ships the CHANGED ROWS, which is this report.
    "q116_suffix_delta" -> (SuffixQueries.q116SuffixDelta _),
    // q117 computes q112's funnel INSIDE the streaming sessionizer: one
    // session_window aggregate carries the conversion columns.
    "q117_stream_session_funnel" ->
      (graft.streaming.EventStreams.q117StreamSessionFunnel _),
    // q118 is the position-level exact-dedup signal (Lee et al.): per
    // doc, the characters inside any >= 32-char cross-document match —
    // nearest-other-doc LCPs from the suffix order, interval union.
    "q118_dup_coverage" -> (SuffixQueries.q118DupCoverage _),
    // q119 is q118's signal as the actionable artifact: the merged
    // character spans to cut, per doc — the file a trim pass writes.
    "q119_trim_plan" -> (SuffixQueries.q119TrimPlan _),
    // q120 is resample + forward-fill expressed as what it is: an as-of
    // join of a generated hourly grid against the events, on the native
    // operator. No global-order window, no per-slot subquery.
    "q120_resample_ffill" -> (AsofJoin.q120ResampleFfill _),
    // q121 applies q119's trim plan: the exact-substring TRIMMED corpus
    // (the Lee et al. deliverable), hash-checked via the md5 of each
    // doc's surviving text — q92's discipline for the suffix family.
    "q121_suffix_trimmed" -> (SuffixQueries.q121SuffixTrimmed _),
    // q122 is q120 with a STALENESS bound: slots whose latest event is
    // over two hours old read null — one comparison in the native
    // operator's merge scan, same plan otherwise.
    "q122_resample_tolerance" -> (AsofJoin.q122ResampleTolerance _),
    // q123 is q109's one-pass complement: grouped quantile estimates
    // from the mergeable bottom-k sketch (merge-order invariant, so
    // the oracle replays the exact sample — hash-checked, not
    // rows-only like approx_percentile would be).
    "q123_sketch_quantiles" -> (RelationalQueries.q123SketchQuantiles _),
    // q124 is the SOUND fuzzy join (FastSS symmetric-delete blocking +
    // exact Levenshtein verify) — the exact complement of q47's
    // recall-limited LSH-candidate pass; the oracle is the brute-force
    // quadratic join, so the hash gate pins blocking COMPLETENESS.
    "q124_fuzzy_degree" -> (FuzzyJoin.q124FuzzyDegree _),
    // q125 is q120's numeric companion: linear interpolation between
    // the surrounding observations — the forward hop is the SAME native
    // backward as-of on a negated Long instant, so two chained merge
    // scans and three exchanges total (q110's reuse property).
    "q125_resample_interp" -> (AsofJoin.q125ResampleInterp _),
    // q126 is the CDC deliverable: SCD type-2 versioned history with
    // effective ranges and a current flag — one hash exchange; the
    // delta-sized incremental merge (scd2Merge) is spec-pinned equal
    // to this full rebuild.
    "q126_scd2_history" -> (RelationalQueries.q126Scd2 _),
    // q127 realizes the mixture EXACTLY: ceil(rate·N_g) docs per
    // stratum via a bisected per-group order statistic — zero
    // corpus-sized shuffle where the rank-window twin sorts everything.
    "q127_exact_sample" -> (CurationPipeline.q127ExactSample _),
    // q128 is weighted sampling without replacement (Efraimidis-
    // Spirakis) made hash-exact: key = max of w variant hashes (same
    // law as u^(1/w), zero transcendentals), top-k via bounded heaps.
    "q128_weighted_sample" -> (CurationPipeline.q128WeightedSample _),
    // q129 is BM25 ranked retrieval over the positional artifact —
    // q101's boolean matching upgraded to relevance scoring; per-term
    // scores ride fixed pivot columns so the float arithmetic has ONE
    // operand order on both engines.
    "q129_bm25" -> (TextQueries.q129Bm25 _),
    // q130 is the Z-order layout demo: a rectangle slice off the
    // Morton-clustered events table via ordinary pushed per-column
    // predicates; the output carries the Z-value so the gate pins the
    // interleave arithmetic and the layout round-trip.
    "q130_zorder_rectangle" -> (ManifestQueries.q130ZOrderRectangle _),
    // q131 answers audience-overlap questions (union/intersection
    // distinct counts across event types) entirely in sketch space —
    // one corpus pass builds the KMV sketches, Theta-style combines do
    // the rest; estimates are deterministic and hash-checked.
    "q131_kmv_setops" -> (RelationalQueries.q131KmvSetOps _),
    // q132 is the product-analytics cohort matrix: first-activity day
    // cohorts x day offsets, distinct actives and integer-permille
    // retention — the standard two-exchange shape.
    "q132_cohort_retention" -> (RelationalQueries.q132CohortRetention _),
    // q133 maintains q126's SCD2 table INCREMENTALLY from a CDC stream
    // (foreachBatch + scd2Merge per micro-batch); after the drain the
    // maintained table IS the full rebuild — same oracle text as q126.
    "q133_stream_scd2" -> (graft.streaming.EventStreams.q133StreamScd2 _),
    // q134 makes sketch mergeability pay: daily KMV sketches built in
    // one corpus pass answer every 7-day sliding window by sample
    // union — never by re-scanning seven days of events.
    "q134_sliding_sketch" -> (RelationalQueries.q134SlidingSketch _),
    // q135 completes the as-of direction set (backward q36/q100,
    // staleness-bounded q122, bidirectional-interp q125): NEAREST in
    // either direction, ties pinned to the earlier event — two native
    // merge scans and one map-side pick.
    "q135_nearest_asof" -> (AsofJoin.q135NearestAsof _),
    // q136 is q70's outlier gate made skew-proof: |x - median| > 2 MAD,
    // both order statistics by the zero-corpus-shuffle bisection,
    // integer arithmetic end to end.
    "q136_mad_outliers" -> (TextQueries.q136MadOutliers _),
    // q137 is the stream-stream join mode q43 leaves uncovered: LEFT
    // OUTER, where unmatched rows emit with nulls only when the global
    // watermark proves no future match — flush rows on BOTH inputs.
    "q137_stream_outer_join" ->
      (graft.streaming.EventStreams.q137StreamOuterJoin _),
    // q138 is the TPC-H Q10 shape: returned-item revenue star join +
    // top-20 via bounded heaps, dimension broadcasts, pushed filters.
    "q138_revenue_report" -> (RelationalQueries.q138RevenueReport _),
    // q139 is equi-depth feature quantization: per-lang token-count
    // deciles from nine bisected order statistics, broadcast, nine
    // codegen'd comparisons per row — no ntile window sort.
    "q139_decile_binning" -> (TextQueries.q139DecileBinning _),
    // q140 composes the round-13 family in ONE hash-checked plan:
    // suffix trim (q121) -> MAD gate on the TRIMMED counts (q136) ->
    // per-lang decile tag over survivors (q139) -> exact-count
    // stratified sample (q127). One corpus-shaped artifact, every
    // order statistic a bisection, gates/tags map-side.
    "q140_curation_v3" -> (CurationPipeline.q140CurationV3 _),
    // q141 is the multi-sketch merge q123's mergeability exists for:
    // per-day bottom-k value sketches persisted as (hash, value) pairs,
    // 7-day p50/p95 from re-aggregating the daily samples — bottom-k of
    // a union of bottom-k's == bottom-k of the union, never a re-scan.
    "q141_sliding_quantiles" -> (RelationalQueries.q141SlidingQuantiles _),
    // q142 is q117's session funnel in APPEND mode: the watermark
    // EVICTS finalized sessions (bounded state at a true streaming
    // 100 TB, where Complete-mode state only grows), drained by q60's
    // far-future flush row; after the flush it equals the Complete twin.
    "q142_append_session_funnel" ->
      (graft.streaming.EventStreams.q142AppendSessionFunnel _),
    // q143 is q124's sound fuzzy join at d=2 (the record-linkage
    // setting): up-to-2-deletion neighborhoods, quadratic-in-length
    // fanout on the dimension relation, same exact-verify discipline;
    // the brute-force oracle pins blocking completeness at d=2.
    "q143_fuzzy_degree2" -> (FuzzyJoin.q143FuzzyDegree2 _),
    // q144 completes the stream-stream join matrix (inner q43, left
    // q137): FULL outer — unmatched rows on BOTH sides emit with nulls
    // once the watermark proves no partner can come; q137's flush/null
    // discipline applied symmetrically, null ordering pinned.
    "q144_stream_full_outer_join" ->
      (graft.streaming.EventStreams.q144StreamFullOuterJoin _),
    // q145 completes the sampling matrix (q127 exact-count unweighted
    // per stratum, q128 weighted global): per-language weighted top-k
    // via the bounded-heap aggregate — k rows per (task, lang) shuffle,
    // never a per-stratum corpus sort.
    "q145_stratified_weighted_sample" ->
      (CurationPipeline.q145StratifiedWeightedSample _),
    // q146 is the window-topology family's exact-count member (q134
    // merges KMV samples, q141 quantile sketches): 7-day top-10 active
    // users as SUMS of daily partial counts — the materialized
    // daily-rollup pattern, never a 7x re-scan; per-window top-k via
    // the bounded-heap aggregate, ties pinned.
    "q146_sliding_top_users" -> (RelationalQueries.q146SlidingTopUsers _),
    // q147 is the TPC-H Q1 pricing summary: one pushed-filter pass,
    // map-side partials, exact integer units for every money column
    // (cents x percent x percent), averages by integer floor division.
    "q147_pricing_summary" -> (RelationalQueries.q147PricingSummary _),
    // q148 composes q139's decile tag + q128's hash-exact E-S key +
    // q145's bounded-heap stratum draw at the (lang, decile) grain —
    // the length-balanced weighted curriculum mixture.
    "q148_balanced_mixture" -> (CurationPipeline.q148BalancedMixture _),
    // q149 is the interval-OVERLAP join q40's point-in-window leaves
    // open: session concurrency via variable-fanout hour binning +
    // candidate dedup + exact verify — never the nested-loop theta join.
    "q149_concurrent_sessions" -> (RangeJoin.q149ConcurrentSessions _),
    // q150 is q45's inverse: native Dataset.unpivot (melt) back to long
    // form, zero cells dropped — the oracle is the DIRECT long-form
    // aggregate, so the gate pins pivot-then-unpivot == identity.
    "q150_unpivot" -> (RelationalQueries.q150Unpivot _),
    // q151 closes the stream-stream join-mode matrix literally: RIGHT
    // outer (inner q43, left q137, full q144) — unmatched views emit
    // with a null click side once the min-of-inputs watermark proves
    // no click can still pair.
    "q151_stream_right_outer_join" ->
      (graft.streaming.EventStreams.q151StreamRightOuterJoin _),
    // q152 puts the rewriting operators behind a real transactional
    // commit (manifest-pointer, one atomic rename per version): the
    // lifecycle create -> append -> OPTIMIZE read back at all three
    // versions — the hash gate pins append-accumulates, optimize-
    // changes-no-row, and history-stays-readable at once.
    "q152_manifest_lifecycle" ->
      (ManifestQueries.q152ManifestLifecycle _),
    // q153 completes the audio pipeline q61's framing fronted: per
    // overlapping window, Goertzel DFT bins at the integer-twiddle
    // frequencies (DC / quarter band / Nyquist) — recurrence in the
    // engine, direct coefficient-pattern sum in the oracle.
    "q153_spectral_bins" -> ((s: SparkSession, d: String) =>
      MultimodalPipeline.q153SpectralBins(s, d)),
    // q154 is the sound incremental MIDDLE q116 ruled doc-local refresh
    // out of: the snapshot-B suffix table by PARTITION-bounded refresh
    // of the stored snapshot-A index — only range partitions whose
    // prefix domain the delta touches are rescanned (pruned read);
    // unaffected partitions reuse stored aggregates; must equal the
    // full rebuild.
    "q154_suffix_refresh" -> (SuffixRefresh.q154SuffixRefresh _),
    // q155 is MERGE INTO on the manifest table: the q79 recrawl applied
    // as ONE copy-on-write commit (deletes + edits + inserts; files
    // without changed keys carried verbatim into the new version) —
    // the merged table must BE snapshot B row-for-row.
    "q155_manifest_merge" ->
      (ManifestQueries.q155ManifestMerge _),
    // q156 gates the manifest bounds' READ side: a range read whose
    // file set comes from the manifest header + per-file [lo, hi]
    // alone — a wrongly-pruned file (missing rows) or an unapplied
    // residual filter (extra rows) fires the hash.
    "q156_manifest_pruned_read" ->
      (ManifestQueries.q156ManifestPrunedRead _),
    // q157 is the CDC consumption pattern on the manifest table: q80's
    // shingle refresh rewired to consume a COMMIT RANGE — stale/fresh
    // ids and fresh text come from the changed files of versions
    // (1, 2] (copy-on-write carries unchanged files, so the read is
    // delta-file-sized), never from re-diffing corpus snapshots.
    "q157_cdc_refresh" -> (CurationPipeline.q157CdcRefresh _),
    // q158 gates schema evolution on the manifest table: an append ADDS
    // a column (the committed #schema= header widens), pre-evolution
    // rows read the new column as null — a silent drop, a misresolved
    // old file, or a wrong null-fill fires the hash.
    "q158_schema_evolution" ->
      (ManifestQueries.q158SchemaEvolution _),
    // q159 answers per-version row counts from the manifest's v3 file
    // statistics ALONE (no data file opened) — the metadata-only
    // count(*) a format's stats exist for; the oracle recomputes each
    // version's subset from parquet.
    "q159_manifest_stats" ->
      (ManifestQueries.q159ManifestStats _),
    // q160 is the CDC read run over a MULTI-commit history: an SCD2
    // dimension folded incrementally from each commit's changed files
    // (close removed/modified, open added/modified, validity in version
    // numbers) — never a snapshot re-diff; the oracle rebuilds the same
    // history independently via gaps-and-islands runs.
    "q160_manifest_scd2" ->
      (ManifestQueries.q160ManifestScd2 _),
    // q161 is q160's history maintained by the RESTARTABLE version-tail
    // runner (ManifestTail): each commit processed exactly once into a
    // persisted v<N> state dir, cursor = newest _SUCCESS-marked state,
    // kill+resume proven by spec — one oracle gates both paths.
    "q161_manifest_tail_scd2" ->
      (ManifestQueries.q161ManifestTailScd2 _),
    // q162 is the manifest format's multi-column stats (v4) under the
    // z-order layout: per-file [lo, hi] on BOTH rectangle dimensions,
    // file set decided by readWhereRect from the manifest alone — 2-D
    // skipping before any footer read; spec pins the 2-D set strictly
    // smaller than either single dimension's.
    "q162_zorder_manifest_rect" ->
      (ManifestQueries.q162ZOrderManifestRect _),
    // q163 is the manifest format's per-file Bloom filters (v5): point
    // lookups on a column the table is NOT clustered by skip from the
    // sidecar filters alone (stats can't — every file's [lo, hi] on a
    // scattered column spans the domain); spec pins the skipping, the
    // oracle pins no-false-negatives.
    "q163_manifest_bloom_point" ->
      (ManifestQueries.q163ManifestBloomPoint _),
    // q164 is the manifest table AS A STREAMING SOURCE (version-number
    // offsets, snapshot-then-tail, exactly-once across process deaths);
    // the gated run restarts the checkpointed aggregation between
    // every commit, so the hash compares a thrice-resumed stream
    // against the one-shot batch aggregate.
    "q164_stream_manifest_source" ->
      (ManifestQueries.q164StreamManifestSource _),
    // q165 is the one-pass table profiler: per-column null/distinct
    // counts + typed integer-exact [lo, hi] facets over lineitem's 11
    // columns (all four facet kinds), hash-gated column by column.
    "q165_table_profile" ->
      (graft.operators.TableProfile.q165TableProfile _),
    // q166 is the integer-exact recency-decayed engagement score
    // (binary EWMA over a 32-event horizon, fixed-point 2^31 scale);
    // the row_number<=32 filter plans as WindowGroupLimit, so the
    // exchange carries <=32 rows per user, never the corpus.
    "q166_decayed_score" ->
      (graft.operators.RelationalQueries.q166DecayedScore _),
    // q167 is fixed-point PageRank over the customer-nation ->
    // supplier-nation trade graph: ten distributed iterations in pure
    // long arithmetic land on the same units as the oracle's unrolled
    // replay regardless of partitioning or summation order.
    "q167_source_authority_rank" ->
      (graft.operators.GraphRank.q167SourceAuthorityRank _),
    // q168 is q57's IVF search over the index AS A STORED MANIFEST
    // TABLE clustered by cell: the search opens only the probed cells'
    // files (bounds-pruned IN read) and inherits atomic rebuild /
    // snapshot isolation / time travel from the table format; results
    // are byte-identical to q57 (shared oracle).
    "q168_manifest_ivf_index" ->
      (graft.operators.SimilarityQueries.q168ManifestIvfIndex _),
    // q169 is merge-on-read equality deletes (manifest format v6):
    // one O(delta) delete commit suppresses the keys for every reader
    // (anti-join), optimize applies + drops the delete files; the gate
    // pins the apply-at-read and apply-at-compaction paths to the same
    // filtered aggregate.
    "q169_manifest_equality_delete" ->
      (ManifestQueries.q169ManifestEqualityDelete _),
    // q170 is the CHANGE DATA FEED stream (Delta CDF shape): batches
    // are readChangesBetween rows, so removals stream too — the gate
    // folds the feed (insert anti-join streamed delete keys) back into
    // the table's filtered aggregate across three restarted drains.
    "q170_manifest_change_feed" ->
      (ManifestQueries.q170ManifestChangeFeed _),
    // q171 is the exactly-once STREAMING UPSERT SINK: foreachBatch
    // commits each micro-batch through one CoW merge whose manifest
    // rename atomically lands both the rows and a #txn-<app>=<batch>
    // marker (Delta's transactional-writer protocol) — replayed
    // batches are no-ops; the gate applies updates to earlier keys
    // across restarted drains and hash-compares last-writer-wins.
    "q171_stream_upsert_sink" ->
      (ManifestQueries.q171StreamUpsertSink _),
    // q172 is the point-in-time dimension join (facts enriched with
    // the SCD2 version valid at each fact's own time): SCD2 intervals
    // tile the timeline, so the BETWEEN range join collapses to the
    // native as-of merge — the oracle runs the BETWEEN verbatim, so
    // the gate pins the tiling argument itself.
    "q172_point_in_time_join" ->
      (graft.operators.AsofJoin.q172PointInTimeJoin _),
    // q173 is DESCRIBE HISTORY + time travel by TIMESTAMP: commit
    // instants are the manifest files' own mtimes (the rename IS the
    // commit), history is O(versions) metadata, and readAtTimestamp
    // resolves the newest commit at-or-before t — each version's
    // contents hash-gated against the slice definitions.
    "q173_history_time_travel" ->
      (ManifestQueries.q173HistoryTimeTravel _),
    // q174 is CHECK constraints: declared over clean data only,
    // enforced on every append/merge before staging (violators
    // rejected loudly, table provably untouched), surviving
    // compaction; final state hash-gated.
    "q174_check_constraints" ->
      (ManifestQueries.q174CheckConstraints _),
    // q175 is the SQL surface: a DSv2 TableCatalog over manifest
    // tables (Delta/Iceberg's catalog shape) — the whole query runs
    // through spark.sql, including VERSION AS OF time travel and a
    // pushdown-pruned WHERE branch; vacuumed-version errors and the
    // file skipping itself are GraftCatalogSpec's pins.
    "q175_sql_catalog" ->
      (SqlCatalogQueries.q175SqlCatalog _),
    // q176 closes the CDC loop: a manifest table's change feed (q170's
    // shape, including a delete commit and a delete-sequencing merge)
    // drained per-commit into a SECOND manifest table through the
    // delete-bearing exactly-once sink — replayed batches (deletes
    // included) are no-ops; mirror ≡ source asserted, aggregate
    // hash-gated.
    "q176_cdc_apply_sink" ->
      (ManifestQueries.q176CdcApplySink _),
    // q177 is the append tail across interleaved OPTIMIZEs under the
    // skip policy (Delta's skipChangeCommits): rewrite commits' files
    // are ignored, appends arrive exactly once — q164's oracle gates
    // both histories; the default loud failure and the redeliver
    // opt-in are spec-pinned.
    "q177_tail_across_optimize" ->
      (ManifestQueries.q177TailAcrossOptimize _),
    // q178 is the generalized multi-table transaction (ManifestCatalog
    // — SuffixRefresh's catalog-pointer pattern as a reusable
    // primitive, q154 itself migrated onto it): the q160 SCD2 history
    // as a dim+mirror PAIR advanced one transact per source commit,
    // with an injected crash between member commit and catalog commit
    // rolled back by the next transaction; q160's oracle gates a THIRD
    // maintenance path.
    "q178_catalog_txn_scd2" ->
      (ManifestQueries.q178CatalogTxnScd2 _),
    // q181 is metadata tables through SQL (Iceberg's db.t.history
    // shape): per-version metadata row counts off the manifests alone
    // — q159's oracle gates the SQL surface verbatim.
    "q181_sql_metadata_tables" ->
      (SqlCatalogQueries.q181SqlMetadataTables _),
    // q182 is writes through SQL: CREATE TABLE, two INSERT INTO
    // commits, one truncating INSERT OVERWRITE — the V1Write fallback
    // onto the same commit protocol; the three written versions read
    // back by VERSION AS OF, hash-gated.
    "q182_sql_writes" ->
      (SqlCatalogQueries.q182SqlWrites _),
    // q183 is row-level DELETE through SQL (SupportsDelete onto the
    // CoW deleteWhere rewrite): only fully-translatable predicates
    // accepted, matching files rewritten, everything else carried
    // verbatim — complement hash-gated.
    "q183_sql_delete" ->
      (SqlCatalogQueries.q183SqlDelete _),
    // q184 is row-level CoW UPDATE (updateWhere — the redaction
    // shape): matching rows transformed, non-matching rows
    // bit-identical, constraints validated on updated values; whole
    // corpus hash-gated via md5(text).
    "q184_update_where" ->
      (ManifestQueries.q184UpdateWhere _),
    // q185 is maintenance procedures through SQL (Spark 4's CALL on a
    // ProcedureCatalog — Iceberg's stored-procedure shape): optimize,
    // restore, vacuum with asserted one-row diagnostics; final table
    // = the restored v1 slice, hash-gated.
    "q185_sql_procedures" ->
      (SqlCatalogQueries.q185SqlProcedures _),
    // q186 is named tags (Iceberg's refs): VERSION AS OF 'tag' through
    // SQL, tags as a vacuum retention floor — the tagged v1 survives a
    // retain=1 vacuum and both branches read hash-gated.
    "q186_sql_tags" ->
      (SqlCatalogQueries.q186SqlTags _),
    // q187 is COMPOSITE equality deletes (multi-column #deletecol —
    // Iceberg's multi-column shape): rows suppressed only on a WHOLE
    // (orderkey, linenumber) tuple match, O(delta) commit, both
    // regimes (merge-on-read + compacted) under one oracle.
    "q187_composite_delete" ->
      (ManifestQueries.q187CompositeDelete _),
    // q188 is CALL system.zorder + the 2-D rectangle through plain SQL
    // WHERE: pushed range filters drive the multi-column manifest
    // skipping — q162's oracle gates the third surface.
    "q188_sql_zorder_rect" ->
      (SqlCatalogQueries.q188SqlZOrderRect _),
    // q180 is the approx profiler twin (the q165 scaladoc's 100 TB
    // shape, exercised): approx_count_distinct everywhere, the
    // multi-distinct Expand gone from the plan; rows-only gate (HLL++
    // estimates aren't hash-stable), <5% per-column error spec-pinned
    // against the exact run — the q34 discipline.
    "q180_table_profile_approx" ->
      (graft.operators.TableProfile.q180TableProfileApprox _),
    // q179 is DELETE SEQUENCING: one CoW merge over outstanding
    // merge-on-read deletes — rewrites read through the delete set,
    // changed keys leave it (upsert = keyed resurrection), survivors
    // consolidate into one fresh delta-sized delete file; final state
    // hash-gated against the rules replayed over raw parquet.
    "q179_merge_over_deletes" ->
      (ManifestQueries.q179MergeOverDeletes _),
    // q191 is TUPLE-KEYED delete sequencing: q179's three-case merge
    // gate re-run on a q187-shaped composite-delete table — removes,
    // whole-tuple resurrections, and untouched tuples staying
    // suppressed via the consolidated delete file, all at
    // (l_orderkey, l_linenumber) granularity.
    "q191_composite_merge" ->
      (ManifestQueries.q191CompositeMerge _),
    // q192 is incremental maintenance of the STORED IVF index: a
    // stale index (missing a shard, polluted with junk ids) refreshes
    // with one O(delta) equality-delete commit + one cell-assigned
    // append under the frozen codebook — the refreshed index answers
    // exactly as the from-scratch build (q57/q168's oracle, third
    // surface); delta mechanics + IO pin are spec-pinned.
    "q192_ivf_incremental_refresh" ->
      (graft.operators.SimilarityQueries.q192IvfIncrementalRefresh _),
    // q189 is row-level UPDATE through SQL: the post-hoc rule routes
    // the resolved statement onto updateWhere's file-pruned CoW
    // rewrite — q184's oracle gates the SQL surface verbatim; the
    // file-pruned pin and rejections are spec-pinned.
    "q189_sql_update" ->
      (SqlCatalogQueries.q189SqlUpdate _),
    // q190 is MERGE INTO through SQL: delete/update/insert actions
    // first-match-wins onto one keyed mergeCoW commit — q155's oracle
    // gates the SQL surface verbatim; cardinality and non-equi
    // rejections are spec-pinned.
    "q190_sql_merge" ->
      (SqlCatalogQueries.q190SqlMerge _),
    // q199 is writable branches (write-audit-publish): a merge staged
    // on a branch is invisible to main, audited via readBranch / SQL
    // VERSION AS OF 'branch', then published as one main commit over
    // append-only main movement — the concurrent append survives;
    // conflict rejections + vacuum floors are spec-pinned.
    "q199_branch_wap" ->
      (ManifestQueries.q199BranchWap _),
    // q198 is field-id schema evolution: add → rename → drop as
    // header-only commits over stable column ids (Iceberg's rename
    // semantics on parquet's field-id mechanism), three regimes
    // aggregated — time travel to post-add and post-rename (mixed
    // namings merge by id), plus the current drop mask — against a
    // rules-replay oracle; header-only pins, the fresh-id re-add rule,
    // and rejections are spec-pinned.
    "q198_field_id_evolution" ->
      (ManifestQueries.q198FieldIdEvolution _),
    // q197 is streaming reads by TABLE NAME: readStream.table through
    // the catalog onto the v1 manifest source (V2TableWithV1Fallback —
    // Delta's shape), q164's thrice-resumed exactly-once gate re-run
    // by name — q164's oracle verbatim; CDF/options-by-name and the
    // pinned rejection are spec-pinned.
    "q197_stream_table_by_name" ->
      (SqlCatalogQueries.q197StreamTableByName _),
    // q195 is composite-key MERGE INTO through SQL: the ON conjunction
    // folds to the (l_orderkey, l_linenumber) tuple onto mergeCoWKeys'
    // delete-sequencing commit — q191's oracle gates the SQL surface
    // verbatim; mixed-AND rejection is spec-pinned.
    "q195_sql_composite_merge" ->
      (SqlCatalogQueries.q195SqlCompositeMerge _),
    // q196 is WHEN NOT MATCHED BY SOURCE: all three clause families in
    // one statement, the target-side complement folded into the same
    // remove/upsert pair — one atomic commit; the by-source dup-key
    // rejection is spec-pinned.
    "q196_sql_merge_by_source" ->
      (SqlCatalogQueries.q196SqlMergeBySource _),
    // q194 is add-column schema evolution through SQL DDL: ALTER TABLE
    // ADD COLUMN widens the committed schema header-only (zero data
    // IO), INSERT INTO lands wider rows, the mixed-file read serves
    // pre-evolution rows with a NULL — q158's oracle gates the DDL
    // surface verbatim; rejections + the same-files pin are
    // spec-pinned.
    "q194_sql_add_column" ->
      (SqlCatalogQueries.q194SqlAddColumn _),
    // q200 is TYPE WIDENING through SQL DDL: ALTER COLUMN int->bigint
    // and float->double as header-only commits (same files, the old
    // narrow physical columns upcast at read), a wide append beside
    // them, and both regimes aggregated — time travel serves the
    // narrow types, the current read unifies the mixed-width history;
    // the oracle replays both stages from raw parquet where no
    // widening ever happened.
    "q200_type_widening" ->
      (SqlCatalogQueries.q200TypeWidening _),
    // q193 is N-dimensional Z-order: one optimizeZOrderCols commit
    // rewrites lineitem into the 3-D Morton layout on its independent
    // key triple (l_orderkey, l_partkey, l_suppkey — events' event_id
    // is time-ordered, so it has no honest third dimension) with v4
    // stats on all three, and a 3-predicate rectangle prunes files on
    // every dimension from the manifest alone;
    // 3-D-beats-every-2-D-projection is spec-pinned.
    "q193_zorder_3d" ->
      (ManifestQueries.q193ZOrder3D _),
  )

  /** Shared by q162 (Scala rect read on the z-layout) and q188 (the
    * same rectangle via CALL system.zorder + plain SQL WHERE over the
    * catalog) — the rectangle aggregate recomputed straight from
    * parquet with the same integer bounds arithmetic. */
  private val zRectOracle: String =
    """WITH b AS (SELECT max(user_id) AS umax,
      |                  min(epoch_us(ts)) AS tmin,
      |                  max(epoch_us(ts)) AS tmax FROM events),
      |r AS (SELECT umax // 10 AS uhi,
      |             tmin + (tmax - tmin) // 4 AS tlo,
      |             tmin + (tmax - tmin) * 3 // 4 AS thi FROM b)
      |SELECT event_type, count(*) AS n_events,
      |       sum(user_id)::BIGINT AS sum_user_id,
      |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
      |FROM events, r
      |WHERE user_id >= 0 AND user_id <= uhi
      |  AND epoch_us(ts) >= tlo AND epoch_us(ts) <= thi
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared by q191 (Scala tuple-keyed mergeCoWKeys) and q195 (the
    * same merge as one composite-`ON` SQL MERGE INTO): the tuple-
    * granular sequencing rules replayed — composite-deleted
    * (okey%5=0 ∧ odd line) tuples stay out unless their order is
    * upserted (%10=5 replaces/resurrects at price+7), removes (%10=4)
    * win over everything; identity-weighted sums make a partial-tuple
    * slip hash-fatal. */
  private val compositeMergeRules: String =
    """merged AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, price_cents
      |  FROM base
      |  WHERE NOT (l_orderkey % 5 = 0 AND l_linenumber % 2 = 1)
      |    AND l_orderkey % 10 <> 4 AND l_orderkey % 10 <> 5
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_returnflag, price_cents + 7
      |  FROM base WHERE l_orderkey % 10 = 5)
      |SELECT l_returnflag, l_orderkey % 10 AS okey_mod,
      |       count(*) AS n_rows,
      |       sum(price_cents)::BIGINT AS sum_price_cents,
      |       sum(l_orderkey * l_linenumber)::BIGINT AS sum_key_product
      |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val compositeMergeOracle: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |         round(l_extendedprice * 100)::BIGINT AS price_cents
      |  FROM lineitem),
      |""".stripMargin + compositeMergeRules

  /** Shared by q158 (Scala evolution-on-append) and q194 (SQL `ALTER
    * TABLE ADD COLUMN` + INSERT): the evolved table is the first
    * subset with a NULL lang (the column didn't exist when those
    * files were committed) plus the second subset carrying it — one
    * oracle, two entry points into the same widened-schema read. */
  private val schemaEvolutionOracle: String =
    """WITH t AS (SELECT doc_id, text, NULL AS lang FROM documents
      |           WHERE doc_id % 3 <> 0
      |           UNION ALL
      |           SELECT doc_id, text, lang FROM documents
      |           WHERE doc_id % 3 = 0)
      |SELECT coalesce(lang, 'pre_evolution') AS lang,
      |       count(*) AS n_docs,
      |       sum(doc_id)::BIGINT AS sum_doc_id,
      |       sum(length(text))::BIGINT AS n_chars
      |FROM t GROUP BY 1 ORDER BY lang""".stripMargin

  /** Shared by q184 (Scala updateWhere) and q189 (SQL UPDATE through
    * the row-level rule): the redaction's CASE arithmetic replayed
    * over raw parquet — one oracle, two entry points into the same
    * copy-on-write rewrite. */
  private val updateRedactionOracle: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 9 = 0 THEN 'xx' ELSE lang END AS lang,
      |       md5(CASE WHEN doc_id % 9 = 0
      |                THEN text || ' [redacted]' ELSE text END)
      |         AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared by q155 (Scala mergeCoW) and q190 (SQL MERGE INTO through
    * the row-level rule): snapshot B reconstructed from the recrawl
    * rules — one oracle, two entry points into the same keyed commit. */
  private val recrawlMergeOracle: String =
    """WITH bdocs AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 7
      |  UNION ALL
      |  SELECT -(doc_id + 1), text FROM documents
      |  WHERE doc_id % 10 = 1)
      |SELECT doc_id, md5(text) AS text_md5
      |FROM bdocs ORDER BY doc_id""".stripMargin

  /** Shared by q117 (Complete-mode session funnel) and q142 (the
    * append-mode twin with watermark-evicted state): after q142's final
    * flush the two are definitionally equal, so one oracle gates both. */
  private val sessionFunnelOracle: String =
    """WITH d AS (
      |  SELECT user_id, ts, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                ROWS UNBOUNDED PRECEDING) AS sess FROM d)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |       count(*) AS n_events,
      |       (CASE WHEN min(CASE WHEN event_type = 'view' THEN ts END)
      |                  <= max(CASE WHEN event_type = 'click' THEN ts END)
      |             THEN 1 ELSE 0 END)::BIGINT AS converted
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  /** Shared by q36 (composed as-of) and q100 (native AsofJoinExec). */
  private val asofOracle: String =
    """WITH clicks AS (SELECT user_id, ts, event_id, value FROM events
      |               WHERE event_type = 'click'),
      |v AS (SELECT user_id, ts, event_id AS view_event_id,
      |             value AS view_value
      |      FROM events WHERE event_type = 'view')
      |SELECT c.user_id,
      |       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
      |       c.event_id, view_event_id, view_value
      |FROM clicks c ASOF LEFT JOIN v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |ORDER BY c.user_id, ts, c.event_id""".stripMargin

  /** DuckDB twins. The tokenizer CTE mirrors graft.functions.Text.tokens:
    * lower → split on [^a-z0-9]+ → drop empties → 255-char cap. */
  private val tokCte: String =
    """WITH tok AS (
      |  SELECT substr(w, 1, 255) AS word, source FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w,
      |           source
      |    FROM documents) raw
      |  WHERE length(w) > 0
      |)""".stripMargin

  /** Token-LIST twin of [[tokCte]]: one row per doc with its token array —
    * mirrors graft.functions.Text.tokens exactly (lower → split on
    * [^a-z0-9]+ → 255-char cap → drop empties). */
  private val tokListCte: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, text,
      |         list_filter(list_transform(
      |           string_split_regex(lower(text), '[^a-z0-9]+'),
      |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
      |  FROM documents
      |)""".stripMargin

  /** Positional span-key CTEs over [[tokListCte]]: one row per
    * full-width token position with its 0-based position and md5-derived
    * 60-bit gram key — the oracle twin of DedupQueries.spanKeys (same
    * width, same hash construction), shared by the q88/q89 chain so the
    * fraction and the trim extents can never disagree on what counts as
    * a duplicated position. */
  private val spanKeyCtes: String = {
    val w = DedupQueries.SpanTokens
    s"""$tokListCte,
       |spans AS (SELECT doc_id, unnest(range(1, len(t) - $w + 2)) AS i, t
       |          FROM toks WHERE len(t) >= $w),
       |spang AS (SELECT doc_id, (i - 1)::BIGINT AS pos,
       |            ('0x' || substr(md5(array_to_string(t[i:i+${w - 1}], ' ')),
       |                            1, 15))::BIGINT AS g
       |          FROM spans)""".stripMargin
  }

  /** Duplicated-position + width-aware gap-islands CTE chain over
    * [[spanKeyCtes]]' `spang`: `gt` per-key totals, `dp` duplicated
    * positions (total ≥ 2 — q88's rule), `fl`/`r` the islands. ONE
    * definition for the q89 and q92 oracles, mirroring the shared
    * `dupPositions` helper on the Spark side, so the two queries'
    * oracles cannot drift on what counts as a duplicated position. */
  private val spanIslandCtes: String = {
    val w = DedupQueries.SpanTokens
    s"""gt AS (SELECT g, count(*) AS total FROM spang GROUP BY g),
       |dp AS (SELECT doc_id, pos FROM spang JOIN gt USING (g)
       |       WHERE total >= 2),
       |fl AS (SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
       |                                        ORDER BY pos) <= $w
       |              THEN 0 ELSE 1 END AS newrun
       |       FROM dp),
       |r AS (SELECT doc_id, pos,
       |        sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |      FROM fl)""".stripMargin
  }

  /** Word-3-shingle CTE over [[tokListCte]] — ONE definition of the
    * shingle edge semantics (short doc → whole text; tokenless doc → ""
    * shingle), shared by the q18/q42/q47 pipeline, q19, and q52 oracles
    * so they can never drift apart. */
  private val shingleCte: String =
    s"""$tokListCte,
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |         [array_to_string(t[i:least(i+2, len(t))], ' ')
       |          for i in range(1, greatest(len(t)-2, 1)+1)])) AS s
       |       FROM toks)""".stripMargin

  /** The MinHash signature CTEs (sig: per-(doc, i) minhash; sigarr: the
    * 16-long signature array) over a preceding `sh` shingle CTE — ONE
    * definition shared by q18's oracle chain and q83's from-scratch
    * snapshot-B signature oracle, so the two cannot drift. */
  private val sigCtes: String =
    """sig AS (SELECT doc_id, i,
      |               min(('0x' || substr(md5((i // 4)::VARCHAR || ':' || s),
      |                                   (i % 4) * 8 + 1, 8))::BIGINT) AS mh
      |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS i) seeds
      |        GROUP BY doc_id, i),
      |sigarr AS (SELECT doc_id, list(mh ORDER BY i) AS sig
      |           FROM sig GROUP BY doc_id)""".stripMargin

  /** Snapshot B's documents (q79's derivation) as a CTE prefix, plus a
    * rewrite of the shared shingle chain onto it — the oracle-side twin
    * of CurationPipeline.snapshotB, shared by the q80/q83 refresh
    * oracles (both must recompute snapshot B FROM SCRATCH). */
  private val shingleCteB: String = {
    val bdocs =
      """WITH bdocs AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT -(doc_id + 1), lang, text FROM documents
        |  WHERE doc_id % 10 = 1),""".stripMargin
    bdocs + "\n" +
      shingleCte.stripPrefix("WITH").replace("FROM documents", "FROM bdocs")
  }

  /** Q18's oracle, shared: q47 nests it as its candidate generator. */
  private val q18Sql: String =
    s"""$shingleCte,
         |$sigCtes,
         |bands AS (SELECT doc_id, j,
         |                 array_to_string(sig[j*2+1:j*2+2], ',') AS bh
         |          FROM sigarr CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
         |         FROM bands a JOIN bands b
         |           ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT doc_id_1, doc_id_2,
         |       round(sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / 16.0, 4)
         |         AS est_jaccard
         |FROM cand
         |JOIN sig s1 ON s1.doc_id = doc_id_1
         |JOIN sig s2 ON s2.doc_id = doc_id_2 AND s2.i = s1.i
         |GROUP BY doc_id_1, doc_id_2 ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** Q42's oracle, shared with q71 (leakage-free splits group by q42's
    * cluster label). Independent connected-components twin: same edge set
    * as the Spark side (exact-dup edges ∪ MinHash pairs est ≥ 0.5), but
    * solved by a recursive label walk instead of iterative propagation —
    * a true differential in the reference's SimpleInvertedIndex spirit
    * (reference SimpleInvertedIndex/inverted_index.c:1-2). */
  private val q42Sql: String =
    s"""WITH RECURSIVE near AS (
       |  SELECT doc_id_1, doc_id_2 FROM ($q18Sql) q
       |  WHERE est_jaccard >= 0.5),
       |exact AS (
       |  SELECT doc_id AS doc_id_1, mn AS doc_id_2
       |  FROM (SELECT doc_id,
       |               min(doc_id) OVER (PARTITION BY norm) AS mn,
       |               count(*) OVER (PARTITION BY norm) AS c
       |        FROM (SELECT doc_id,
       |                     trim(regexp_replace(lower(text), '[^a-z0-9]+',
       |                          ' ', 'g')) AS norm
       |              FROM documents) d) g
       |  WHERE c > 1 AND doc_id <> mn),
       |edges AS (SELECT doc_id_1, doc_id_2 FROM near
       |          UNION SELECT doc_id_2, doc_id_1 FROM near
       |          UNION SELECT doc_id_1, doc_id_2 FROM exact
       |          UNION SELECT doc_id_2, doc_id_1 FROM exact),
       |nodes AS (SELECT DISTINCT doc_id_1 AS doc_id FROM edges),
       |walk(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT e.doc_id_1, w.label
       |  FROM walk w JOIN edges e ON e.doc_id_2 = w.doc_id)
       |SELECT doc_id, min(label) AS cluster
       |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q50's oracle, shared: q75's handoff table is q50's curated corpus
    * joined with q52's contamination counts. */
  private val q50Sql: String =
    s"""WITH pairs AS ($q18Sql),
       |t2 AS (SELECT doc_id, text,
       |         list_filter(list_transform(
       |           string_split_regex(lower(text), '[^a-z0-9]+'),
       |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
       |       FROM documents),
       |m AS (SELECT doc_id,
       |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
       |          AS norm,
       |        len(t) AS token_cnt,
       |        least(len(t) / 100.0, 1.0) * 0.4
       |        + (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
       |           / greatest(length(text), 1)) * 0.4
       |        + (len(list_filter(t, x -> list_contains(
       |             ['the','a','of','and','to','in','is','it','that','for'],
       |             x))) / greatest(len(t), 1)) * 0.2 AS quality
       |      FROM t2),
       |reps AS (SELECT doc_id, token_cnt, quality FROM (
       |           SELECT *, min(doc_id) OVER (PARTITION BY norm) AS keep
       |           FROM m WHERE quality >= 0.5) x
       |         WHERE doc_id = keep),
       |dropped AS (SELECT p.doc_id_2 AS doc_id
       |            FROM pairs p JOIN reps r ON r.doc_id = p.doc_id_1
       |            WHERE p.est_jaccard >= 0.5)
       |SELECT doc_id, token_cnt, quality FROM reps
       |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY doc_id""".stripMargin

  /** Q52's oracle, shared: q66 (bloom prefilter + exact verify) must
    * produce the identical decontamination result. */
  private val q52Sql: String =
    s"""$shingleCte,
       |corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0),
       |ben AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
       |SELECT c.doc_id AS doc_id, count(*) AS contaminated_shingles
       |FROM corp c JOIN ben b ON c.s = b.s
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Shared IVF k-means CTE chain (q57/q76/q77): embeddings `e` → init
    * codebook `c0` → two Lloyd rounds (`c1`, `c2`, integer-micro
    * component sums) → final assignment `asg`. CTE text without the
    * leading WITH. */
  private val ivfKmeansCte: String = {
    // dims/cells interpolated from the Spark-side constants — the
    // engines-cannot-drift contract this builder states; a literal 65
    // here would silently keep computing over 64 dims if Dims changed
    val dp1 = SimilarityQueries.Dims + 1
    val cells = SimilarityQueries.NumCells
    def lloyd(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT vec_id, v, cell FROM (
         |   SELECT e.vec_id, e.v, c.cell,
         |          row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
         |            AS rk
         |   FROM e CROSS JOIN $prev c) t WHERE rk = 1),
         |u$i AS (SELECT cell, d, sum(floor(v[d] * 1e6)) AS s, count(*) AS n
         |        FROM a$i CROSS JOIN (SELECT unnest(range(1, $dp1)) AS d) ds
         |        GROUP BY cell, d),
         |c$i AS (SELECT p.cell AS cell,
         |               CASE WHEN count(u.d) = 0 THEN any_value(p.cv)
         |                    ELSE list(u.s / u.n / 1e6 ORDER BY u.d) END AS cv
         |        FROM $prev p LEFT JOIN u$i u ON u.cell = p.cell
         |        GROUP BY p.cell)""".stripMargin
    }
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < $cells),
       |${lloyd(1)},
       |${lloyd(2)},
       |asg AS (SELECT vec_id, v, cell FROM (
       |   SELECT e.vec_id, e.v, c.cell,
       |          row_number() OVER (PARTITION BY e.vec_id
       |            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
       |            AS rk
       |   FROM e CROSS JOIN c2 c) t WHERE rk = 1)""".stripMargin
  }

  /** PQ model CTE chain (q76/q77 at the shipped setting, q84/q85 at the
    * production one), appended after [[ivfKmeansCte]]: integer-micro
    * coarse centroids `cmm` → residuals `rres` → subvectors `rsub` →
    * init sub-codebooks from the first K corpus vectors (modulo-wrapped
    * when the corpus has fewer — identity otherwise, mirroring the
    * Scala init exactly) → one Lloyd round (integer argmin `a0`,
    * floor-mean update `cent`) → final codes + distances `fc`. Mirrors
    * operators.ProductQuantization.pqModelAt exactly (m/k interpolated
    * from the same constants so the engines cannot drift). */
  private def pqModelCteAt(m: Int, k: Int): String = {
    val sd = ProductQuantization.SubDim * ProductQuantization.M / m
    val dp1 = SimilarityQueries.Dims + 1
    s"""cmm AS (SELECT cell,
      |               [floor(cv[d] * 1e6)::BIGINT for d in range(1, $dp1)] AS cm
      |        FROM c2),
      |rres AS (SELECT a.vec_id, a.cell,
      |                [floor(a.v[d] * 1e6)::BIGINT - cm.cm[d]
      |                 for d in range(1, $dp1)] AS r
      |         FROM asg a JOIN cmm cm ON cm.cell = a.cell),
      |rsub AS (SELECT vec_id, mm.m, r[(mm.m*$sd+1):(mm.m*$sd+$sd)] AS sub
      |         FROM rres CROSS JOIN (SELECT unnest(range(0, $m)) AS m) mm),
      |iord AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS idx
      |         FROM (SELECT DISTINCT vec_id FROM rsub WHERE vec_id < $k)),
      |icnt AS (SELECT count(*) AS n FROM iord),
      |init AS (SELECT r.m, ks.k::INT AS k, r.sub AS cv
      |         FROM (SELECT unnest(range(0, $k)) AS k) ks
      |         CROSS JOIN icnt
      |         JOIN iord o ON o.idx = ks.k % icnt.n
      |         JOIN rsub r ON r.vec_id = o.vec_id),
      |d0 AS (SELECT r.vec_id, r.m, i.k,
      |              list_sum([(r.sub[j] - i.cv[j]) * (r.sub[j] - i.cv[j])
      |                        for j in range(1, ${sd + 1})])::BIGINT AS dist
      |       FROM rsub r JOIN init i ON i.m = r.m),
      |a0 AS (SELECT vec_id, m, k AS code FROM (
      |         SELECT vec_id, m, k,
      |                row_number() OVER (PARTITION BY vec_id, m
      |                  ORDER BY dist, k) AS rk
      |         FROM d0) t WHERE rk = 1),
      |u0 AS (SELECT a.m, a.code, j, sum(r.sub[j]) AS s, count(*) AS n
      |       FROM a0 a
      |       JOIN rsub r ON r.vec_id = a.vec_id AND r.m = a.m
      |       CROSS JOIN (SELECT unnest(range(1, ${sd + 1})) AS j) js
      |       GROUP BY a.m, a.code, j),
      |centu AS (SELECT m, code, list(floor(s / n)::BIGINT ORDER BY j) AS cv
      |          FROM u0 GROUP BY m, code),
      |cent AS (SELECT i.m, i.k AS code, coalesce(cu.cv, i.cv) AS cv
      |         FROM init i LEFT JOIN centu cu
      |           ON cu.m = i.m AND cu.code = i.k),
      |dfin AS (SELECT r.vec_id, r.m, c.code,
      |                list_sum([(r.sub[j] - c.cv[j]) * (r.sub[j] - c.cv[j])
      |                          for j in range(1, ${sd + 1})])::BIGINT AS dist
      |         FROM rsub r JOIN cent c ON c.m = r.m),
      |fc AS (SELECT vec_id, m, code, dist FROM (
      |         SELECT vec_id, m, code, dist,
      |                row_number() OVER (PARTITION BY vec_id, m
      |                  ORDER BY dist, code) AS rk
      |         FROM dfin) t WHERE rk = 1)""".stripMargin
  }

  /** ADC candidate-ranking CTE chain (q77/q78, q84/q85), appended after
    * [[pqModelCteAt]]: probes → per-cell integer query residual →
    * asymmetric distances against stored codes → per-query rank `r`. */
  private def pqAdcCteAt(m: Int): String = {
    val sd = ProductQuantization.SubDim * ProductQuantization.M / m
    s"""probes AS (SELECT query_id, qv, cell FROM (
       |   SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
       |          row_number() OVER (PARTITION BY q.vec_id
       |            ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cell)
       |            AS rk
       |   FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) t WHERE rk <= 2),
       |qres AS (SELECT p.query_id, p.cell,
       |                [floor(p.qv[d] * 1e6)::BIGINT - cm.cm[d]
       |                 for d in range(1, ${SimilarityQueries.Dims + 1})] AS rq
       |         FROM probes p JOIN cmm cm ON cm.cell = p.cell),
       |qsub AS (SELECT query_id, cell, mm.m,
       |                rq[(mm.m*$sd+1):(mm.m*$sd+$sd)] AS sub
       |         FROM qres CROSS JOIN (SELECT unnest(range(0, $m)) AS m) mm),
       |cd AS (SELECT q.query_id, v.vec_id AS neighbor_id, q.m,
       |              list_sum([(q.sub[j] - c.cv[j]) * (q.sub[j] - c.cv[j])
       |                        for j in range(1, ${sd + 1})])::BIGINT AS dm
       |       FROM qsub q
       |       JOIN rres v ON v.cell = q.cell
       |       JOIN fc f ON f.vec_id = v.vec_id AND f.m = q.m
       |       JOIN cent c ON c.m = f.m AND c.code = f.code
       |       WHERE v.vec_id <> q.query_id),
       |adct AS (SELECT query_id, neighbor_id, sum(dm)::BIGINT AS adc
       |         FROM cd GROUP BY query_id, neighbor_id),
       |r AS (SELECT query_id, neighbor_id, adc,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY adc, neighbor_id) AS "rank"
       |      FROM adct)""".stripMargin
  }

  /** Final top-10 projection over [[pqAdcCteAt]]'s rank CTE `r` — shared
    * by both ADC operating points (q77, q84) so the result shape cannot
    * drift between them. */
  private val pqAdcSelect: String =
    """SELECT query_id, neighbor_id, adc, "rank" FROM r WHERE "rank" <= 10
      |ORDER BY query_id, "rank"""".stripMargin

  /** Exact-cosine re-rank of the ADC shortlist (IVFADC+R), appended after
    * [[pqAdcCteAt]]: shortlist truncated at `depth`, raw vectors re-ranked
    * by cosine, per-query top-10. ONE definition for both operating
    * points (q78, q85) so a change to the re-rank rule — depth usage,
    * tie-break — cannot apply to one and silently skip the other. */
  private def pqRerankSql(depth: Int): String =
    s"""sl AS (SELECT query_id, neighbor_id FROM r
       |       WHERE "rank" <= $depth),
       |rr AS (SELECT s.query_id, s.neighbor_id,
       |              round(list_cosine_similarity(q.v, n.v), 4) AS sim
       |       FROM sl s
       |       JOIN e q ON q.vec_id = s.query_id
       |       JOIN e n ON n.vec_id = s.neighbor_id),
       |r2 AS (SELECT query_id, neighbor_id, sim,
       |              row_number() OVER (PARTITION BY query_id
       |                ORDER BY sim DESC, neighbor_id) AS "rank"
       |       FROM rr)
       |SELECT query_id, neighbor_id, sim, "rank" FROM r2 WHERE "rank" <= 10
       |ORDER BY query_id, "rank"""".stripMargin

  /** The SCD2 history oracle — ONE text for q126 (batch rebuild) and
    * q133 (streamed CDC maintenance): the dense-version / effective-
    * range construction in window SQL; is_current is a plain boolean. */
  private val scd2OracleSql: String =
    """WITH u AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type IN ('signup', 'purchase')
      |    AND user_id IS NOT NULL AND ts IS NOT NULL),
      |v AS (SELECT user_id, value AS attr_value, ts,
      |             row_number() OVER w AS version,
      |             lead(ts) OVER w AS vt
      |      FROM u
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, version, attr_value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |       strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
      |       (vt IS NULL) AS is_current
      |FROM v
      |ORDER BY user_id, version""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_wordcount" ->
      s"""$tokCte
         |SELECT word, count(*) AS cnt FROM tok
         |GROUP BY word ORDER BY word""".stripMargin,
    "q2_inverted_index" ->
      s"""$tokCte, ts AS (SELECT DISTINCT word, source FROM tok)
         |SELECT word,
         |       word || ' -> [' ||
         |       string_agg(source, ', ' ORDER BY source) || ']' AS line
         |FROM ts GROUP BY word ORDER BY word""".stripMargin,
    "q3_distinct_tokens" ->
      s"""$tokCte
         |SELECT count(DISTINCT word) AS unique_words FROM tok""".stripMargin,
    "q4_top_words" ->
      s"""$tokCte
         |SELECT word, count(*) AS cnt FROM tok
         |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 10""".stripMargin,
    "q5_filter_agg" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin,
    "q6_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q7_join_agg" ->
      """SELECT c_mktsegment,
        |       round(sum(o_totalprice), 2) AS total_revenue,
        |       count(*) AS order_cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q8_multi_join" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q9_semi_join" ->
      """SELECT c_nationkey, count(*) AS customers_with_orders
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q9_anti_join" ->
      """SELECT c_nationkey, count(*) AS customers_without_orders
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q10_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q11_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q12_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer
        |ORDER BY custkey""".stripMargin,
    "q12_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    // q13/q33: 'ALL' labels come from GROUPING() (the subtotal-row
    // indicator), matching the Spark side — a NULL or literal-'ALL'
    // data value can never collide with a rollup total row.
    "q13_rollup" ->
      """SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |            ELSE o_orderpriority END AS priority,
        |       CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
        |            ELSE o_orderstatus END AS status,
        |       round(sum(o_totalprice), 2) AS revenue, count(*) AS cnt
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority NULLS FIRST, status NULLS FIRST""".stripMargin,
    "q14_time_bucket" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q15_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM (SELECT doc_id,
        |             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |      FROM documents) d
        |GROUP BY norm ORDER BY keep_id""".stripMargin,
    "q16_text_stats" ->
      s"""$tokListCte,
         |a AS (SELECT lang, count(*) AS doc_cnt,
         |             round(avg(len(t)), 2) AS avg_tokens
         |      FROM toks GROUP BY lang),
         |b AS (SELECT lang, count(DISTINCT w) AS distinct_tokens
         |      FROM (SELECT lang, unnest(t) AS w FROM toks) u GROUP BY lang)
         |SELECT a.lang AS lang, doc_cnt, avg_tokens, distinct_tokens
         |FROM a JOIN b ON a.lang = b.lang ORDER BY lang""".stripMargin,
    "q17_ann_brute" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
        |             round(list_cosine_similarity(q.v, x.v), 4) AS sim
        |      FROM e q JOIN e x ON x.vec_id <> q.vec_id WHERE q.vec_id < 10),
        |r AS (SELECT query_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY query_id
        |               ORDER BY sim DESC, neighbor_id) AS "rank"
        |      FROM p)
        |SELECT query_id, neighbor_id, sim, "rank" FROM r
        |WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,
    "q18_minhash_lsh" -> q18Sql,
    "q19_ngram_jaccard" ->
      s"""$shingleCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |                 count(*) AS i
         |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |j AS (SELECT doc_id_1, doc_id_2,
         |             round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
         |      FROM inter
         |      JOIN sz sa ON sa.doc_id = doc_id_1
         |      JOIN sz sb ON sb.doc_id = doc_id_2)
         |SELECT doc_id_1, doc_id_2, jaccard FROM j
         |WHERE jaccard >= 0.35 ORDER BY doc_id_1, doc_id_2""".stripMargin,
    "q20_simhash" ->
      s"""$tokListCte,
         |tok AS (SELECT doc_id, w, count(*) AS cnt
         |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
         |        GROUP BY doc_id, w),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN ((('0x' || substr(md5(w), 1, 8))::BIGINT >> b)
         |                          & 1) = 1
         |               THEN cnt ELSE -cnt END) AS s
         |         FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
         |         GROUP BY doc_id, b)
         |SELECT doc_id,
         |       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)
         |         ::BIGINT AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q21_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |             round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_id_1, vec_id_2, sim FROM p
        |WHERE sim >= 0.4 ORDER BY vec_id_1, vec_id_2""".stripMargin,
    "q22_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |planes AS (SELECT p,
        |             [CASE WHEN (('0x' || substr(md5(p::VARCHAR || '_'
        |                          || d::VARCHAR), 1, 8))::BIGINT % 2) = 1
        |                   THEN 1.0 ELSE -1.0 END
        |              for d in range(0, 64)] AS wv
        |           FROM (SELECT unnest(range(0, 8)) AS p) ps),
        |bits AS (SELECT vec_id, p, list_dot_product(v, wv) > 0 AS bit
        |         FROM e CROSS JOIN planes),
        |bk AS (SELECT vec_id,
        |              sum(CASE WHEN bit THEN (1::BIGINT << p)
        |                  ELSE 0::BIGINT END) AS bucket
        |       FROM bits GROUP BY vec_id),
        |cand AS (SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
        |         FROM bk a JOIN bk b
        |           ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT vec_id_1, vec_id_2,
        |       round(list_cosine_similarity(ea.v, eb.v), 4) AS sim
        |FROM cand
        |JOIN e ea ON ea.vec_id = vec_id_1
        |JOIN e eb ON eb.vec_id = vec_id_2
        |ORDER BY sim DESC, vec_id_1, vec_id_2 LIMIT 10""".stripMargin,
    "q23_lang_id" ->
      s"""$tokListCte,
         |scored AS (SELECT lang,
         |  len(list_filter(t, x -> list_contains(
         |    ['the','a','of','and','to','in','is','it','that','for'], x))) AS s_en,
         |  len(list_filter(t, x -> list_contains(
         |    ['el','la','de','que','y','en','un','una','los','del'], x))) AS s_es,
         |  len(list_filter(t, x -> list_contains(
         |    ['der','die','das','und','ist','von','mit','den','im','ein'], x))) AS s_de,
         |  len(list_filter(t, x -> list_contains(
         |    ['le','les','des','et','une','du','est','dans','pour','sur'], x))) AS s_fr,
         |  len(list_filter(t, x -> list_contains(
         |    ['de','shi','le','wo','ni','ta','men','zai','you','he'], x))) AS s_zh
         |  FROM toks),
         |g AS (SELECT lang,
         |  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         |       WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'zh'
         |       ELSE 'und' END AS guess
         |  FROM scored)
         |SELECT lang, guess, count(*) AS doc_cnt FROM g
         |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin,
    "q24_quality_score" ->
      s"""$tokListCte,
         |m AS (SELECT doc_id, len(t) AS token_cnt,
         |  length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |        / greatest(length(text), 1) AS alnum_ratio,
         |  length(array_to_string(t, '')) / greatest(len(t), 1)
         |    AS avg_token_len,
         |  len(list_filter(t, x -> list_contains(
         |          ['the','a','of','and','to','in','is','it','that','for'], x)))
         |        / greatest(len(t), 1) AS stopword_ratio
         |  FROM toks)
         |SELECT doc_id, token_cnt, alnum_ratio, avg_token_len, stopword_ratio,
         |       least(token_cnt / 100.0, 1.0) * 0.4 + alnum_ratio * 0.4
         |             + stopword_ratio * 0.2 AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "q25_token_stats" ->
      s"""$tokListCte
         |SELECT doc_id,
         |  len(list_filter(string_split_regex(text, '\\s+'),
         |      x -> length(x) > 0)) AS ws_tokens,
         |  len(t) AS norm_tokens,
         |  coalesce(list_sum(list_transform(t, x -> ceil(length(x) / 4.0))),
         |           0)::BIGINT AS bpe_ish_tokens,
         |  length(text) AS chars
         |FROM toks ORDER BY doc_id""".stripMargin,
    "q26_fingerprint" ->
      """WITH n AS (SELECT doc_id,
        |             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |               AS norm
        |           FROM documents),
        |h AS (SELECT doc_id,
        |        [('0x' || substr(md5(substr(norm, i, 8)), 1, 15))::BIGINT
        |         for i in range(1, greatest(length(norm)-7, 1)+1)] AS hs
        |      FROM n),
        |w AS (SELECT doc_id, list_distinct(
        |        [list_aggregate(hs[j:least(j+3, len(hs))], 'min')
        |         for j in range(1, greatest(len(hs)-3, 1)+1)]) AS fps
        |      FROM h)
        |SELECT doc_id, len(fps) AS fp_cnt, list_aggregate(fps, 'min') AS fp_min
        |FROM w ORDER BY doc_id""".stripMargin,
    // q27 decodes REAL BMP files: the oracle replays the fixture's
    // geometry (w = len%16+4, h = len*7%12+4), the container size
    // (54-byte headers + 4-byte-padded rows), and the raster-order
    // pixel formula ((7c + 13k) mod 256) whose hex-md5 is the checksum
    // — the Spark side must parse the actual file (offset, padding,
    // bottom-up flip) to reproduce it.
    "q27_multimodal_meta" ->
      """WITH m AS (SELECT doc_id, text, length(text) AS L,
        |             length(text) % 16 + 4 AS width,
        |             (length(text) * 7) % 12 + 4 AS height
        |           FROM documents)
        |SELECT doc_id,
        |       54 + ((width * 3 + 3) // 4) * 4 * height AS n_bytes,
        |       width, height, 3 AS channels,
        |       md5(lower(list_aggregate(
        |         [lpad(to_hex(((CASE WHEN L = 0 THEN 0
        |                        ELSE ascii(substr(text, (k % L) + 1, 1))
        |                        END) * 7
        |                       + k * 13) % 256), 2, '0')
        |          for k in range(0, width * height * 3)],
        |         'string_agg', ''))) AS checksum
        |FROM m ORDER BY doc_id""".stripMargin,
    "q28_mr_wordcount" ->
      s"""$tokCte
         |SELECT word, count(*) AS cnt FROM tok
         |GROUP BY word ORDER BY word""".stripMargin,
    "q29_stream_time_bucket" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q30_stream_sessions" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                ROWS UNBOUNDED PRECEDING) AS sess FROM d)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "q31_stream_first_seen" ->
      """WITH r AS (
        |  SELECT user_id, event_type, event_id, ts,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id AS first_event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // q60 must equal q29/q14: append mode changes WHEN windows are
    // emitted, never their contents
    "q60_stream_append" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, count(*) AS cnt,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // q86 streams snapshots A and B as separate micro-batches and emits
    // each distinct normalized content exactly once; the oracle is the
    // batch distinct over the same recrawl union (snapshot-B rules =
    // q79's derivation). Emitting the content KEY, not a surviving row,
    // is what makes online dedup oracle-exact: the distinct set is
    // deterministic even though within-batch survivor choice is not.
    "q86_stream_dedup" ->
      """WITH bdocs AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT -(doc_id + 1), text FROM documents
        |  WHERE doc_id % 10 = 1),
        |u AS (SELECT text FROM documents UNION ALL SELECT text FROM bdocs)
        |SELECT DISTINCT
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS content_md5
        |FROM u ORDER BY content_md5""".stripMargin,
    // q90 replays the same corpus as four timed crawl batches under a
    // bounded dedup horizon: Jan 1 first crawl (all distinct contents
    // emit), Mar 1 advancer (emits; its event time pushes the watermark
    // past the Jan keys' expiry), Mar 2 filler + advancer copy (filler
    // emits, the within-horizon copy is suppressed, and the Jan keys
    // are evicted at this batch's end), Mar 3 re-crawl (re-emits in
    // full against the evicted state). The oracle spells that schedule
    // out directly.
    "q90_stream_dedup_bounded" ->
      """WITH n AS (SELECT DISTINCT
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |    AS content_md5
        |  FROM documents)
        |SELECT content_md5, ingest_day FROM (
        |  SELECT content_md5, '2024-01-01' AS ingest_day FROM n
        |  UNION ALL
        |  SELECT md5('graft horizon advancer'), '2024-03-01'
        |  UNION ALL
        |  SELECT md5('graft horizon filler'), '2024-03-02'
        |  UNION ALL
        |  SELECT content_md5, '2024-03-03' FROM n) u
        |ORDER BY ingest_day, content_md5""".stripMargin,
    // q62's native heap aggregate must equal the window formulation
    "q62_topk_agg" ->
      """SELECT o_custkey, rk, o_totalprice, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    // q64 composes the q50/q52/q53/q54 oracle pieces in the same stage
    // order as the Spark pipeline; the PII tail is a plain (non-
    // interpolated) literal so its regex backslashes survive.
    "q64_curation_v2" -> {
      val piiTail =
        """SELECT doc_id, lang, token_cnt, quality,
          |       (len(regexp_extract_all(text,
          |          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+'))
          |        + len(regexp_extract_all(text, 'https?://[^ ]+'))
          |        + len(regexp_extract_all(text, '[0-9][0-9][0-9]+')))::INT
          |         AS n_redactions
          |FROM surv ORDER BY doc_id""".stripMargin
      s"""WITH pairs AS ($q18Sql),
         |cont AS (SELECT doc_id FROM (
         |  $shingleCte
         |  SELECT c.doc_id AS doc_id
         |  FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0) b
         |    ON c.s = b.s
         |  WHERE c.doc_id % 20 <> 0
         |  GROUP BY c.doc_id HAVING count(*) >= 3) q),
         |t2 AS (SELECT doc_id, lang, text,
         |         list_filter(list_transform(
         |           string_split_regex(lower(text), '[^a-z0-9]+'),
         |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
         |       FROM documents WHERE doc_id % 20 <> 0),
         |m AS (SELECT doc_id, lang, text,
         |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
         |          AS norm,
         |        len(t) AS token_cnt,
         |        least(len(t) / 100.0, 1.0) * 0.4
         |        + (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |           / greatest(length(text), 1)) * 0.4
         |        + (len(list_filter(t, x -> list_contains(
         |             ['the','a','of','and','to','in','is','it','that','for'],
         |             x))) / greatest(len(t), 1)) * 0.2 AS quality
         |      FROM t2),
         |reps AS (SELECT doc_id, lang, text, token_cnt, quality FROM (
         |           SELECT *, min(doc_id) OVER (PARTITION BY norm) AS keep
         |           FROM m WHERE quality >= 0.5) x
         |         WHERE doc_id = keep),
         |near_dropped AS (SELECT p.doc_id_2 AS doc_id
         |                 FROM pairs p JOIN reps r ON r.doc_id = p.doc_id_1
         |                 WHERE p.est_jaccard >= 0.5),
         |surv AS (SELECT * FROM reps
         |         WHERE doc_id NOT IN (SELECT doc_id FROM near_dropped)
         |           AND doc_id NOT IN (SELECT doc_id FROM cont)
         |           AND ('0x' || substr(md5(lang || ':' || doc_id::VARCHAR),
         |                               1, 8))::BIGINT % 100
         |               < CASE WHEN lang = 'en' THEN 50 ELSE 20 END)
         |$piiTail""".stripMargin
    },
    // q65: the window sum is ::BIGINT-cast (DuckDB widens window sums to
    // HUGEINT); integer // and % after that match Spark's floor()/%.
    "q65_seq_pack" ->
      s"""$tokListCte,
         |cnt AS (SELECT doc_id, doc_id % ${TextQueries.PackShards} AS shard,
         |               len(t) AS token_cnt
         |        FROM toks WHERE len(t) > 0),
         |cum AS (SELECT doc_id, shard, token_cnt,
         |               (sum(token_cnt) OVER (PARTITION BY shard
         |                  ORDER BY doc_id))::BIGINT - token_cnt AS start_off
         |        FROM cnt)
         |SELECT doc_id, shard, token_cnt,
         |       start_off // ${TextQueries.PackSeqLen} AS seq_first,
         |       start_off % ${TextQueries.PackSeqLen} AS seq_offset,
         |       (start_off + token_cnt - 1) // ${TextQueries.PackSeqLen}
         |         - start_off // ${TextQueries.PackSeqLen} + 1 AS seqs_spanned
         |FROM cum ORDER BY doc_id""".stripMargin,
    // q67: integer counts only (no averaged doubles), ::BIGINT on the
    // sums (DuckDB widens sum(BIGINT) to HUGEINT); the quality CTE is
    // the same expression order as q64's so the >= 0.5 gate agrees.
    "q67_source_report" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, text,
         |         list_filter(list_transform(
         |           string_split_regex(lower(text), '[^a-z0-9]+'),
         |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
         |  FROM documents),
         |m AS (SELECT doc_id, source,
         |        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
         |          AS norm,
         |        len(t) AS token_cnt,
         |        least(len(t) / 100.0, 1.0) * 0.4
         |        + (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |           / greatest(length(text), 1)) * 0.4
         |        + (len(list_filter(t, x -> list_contains(
         |             ['the','a','of','and','to','in','is','it','that','for'],
         |             x))) / greatest(len(t), 1)) * 0.2 AS quality
         |      FROM d),
         |k AS (SELECT *, min(doc_id) OVER (PARTITION BY norm) AS keep
         |      FROM m),
         |cont AS (SELECT doc_id, 1 AS ic FROM (
         |  $shingleCte
         |  SELECT c.doc_id AS doc_id
         |  FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0) b
         |    ON c.s = b.s
         |  WHERE c.doc_id % 20 <> 0
         |  GROUP BY c.doc_id HAVING count(*) >= 3) q)
         |SELECT source,
         |       count(*) AS doc_cnt,
         |       sum(token_cnt)::BIGINT AS total_tokens,
         |       sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT
         |         AS quality_pass,
         |       sum(CASE WHEN doc_id <> keep THEN 1 ELSE 0 END)::BIGINT
         |         AS exact_dups,
         |       sum(CASE WHEN ic = 1 THEN 1 ELSE 0 END)::BIGINT
         |         AS contaminated
         |FROM k LEFT JOIN cont USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    // q68: chunk_len is ::INT to match Spark's length(); unnest of the
    // list-returning generate_series is the lateral DuckDB supports.
    "q68_chunk" -> {
      val (w, st) = (TextQueries.ChunkSize, TextQueries.ChunkStride)
      s"""WITH c AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(0,
         |           CAST(floor((length(text)-1)/$st) AS BIGINT))) AS chunk_idx
         |  FROM documents WHERE length(text) > 0)
         |SELECT doc_id, chunk_idx, chunk_idx*$st+1 AS chunk_start,
         |       length(substr(text, CAST(chunk_idx*$st+1 AS INT), $w))::INT
         |         AS chunk_len,
         |       md5(substr(text, CAST(chunk_idx*$st+1 AS INT), $w))
         |         AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // q69: the oracle ranks by the same deterministic hash with a
    // row_number window — fine at oracle scale; the Spark side uses the
    // bounded-heap aggregate precisely because the window doesn't scale.
    "q69_balanced_cap" ->
      s"""WITH h AS (SELECT lang, doc_id,
         |             ('0x' || substr(md5(lang || ':' || doc_id::VARCHAR),
         |                             1, 15))::BIGINT AS h
         |           FROM documents),
         |r AS (SELECT lang, doc_id, h,
         |             row_number() OVER (PARTITION BY lang
         |               ORDER BY h, doc_id) AS rk
         |      FROM h)
         |SELECT lang, rk, doc_id, h FROM r
         |WHERE rk <= ${TextQueries.CapPerLang}
         |ORDER BY lang, rk""".stripMargin,
    // q70: DuckDB sum(BIGINT) is already HUGEINT, so the products are
    // exact at any scale — the twin of Spark's DECIMAL(38,0) casts.
    "q70_length_outliers" ->
      s"""$tokListCte,
         |cnt AS (SELECT doc_id, lang, len(t)::BIGINT AS token_cnt
         |        FROM toks),
         |g AS (SELECT lang, count(*) AS n, sum(token_cnt) AS s,
         |             sum(token_cnt*token_cnt) AS q
         |      FROM cnt GROUP BY lang)
         |SELECT doc_id, cnt.lang AS lang, token_cnt,
         |       (CASE WHEN (n::HUGEINT*token_cnt - s)
         |                  * (n::HUGEINT*token_cnt - s) * (n - 1)
         |               > 4 * n::HUGEINT * (n*q - s*s)
         |             THEN 1 ELSE 0 END)::BIGINT AS is_outlier
         |FROM cnt JOIN g ON cnt.lang = g.lang
         |ORDER BY doc_id""".stripMargin,
    // q63's KMV sketch is deterministic (bottom-k md5 values), so unlike
    // HLL the ESTIMATE itself is hash-checked; 63·2^60 is exact in a
    // double, so the division is bit-identical across engines.
    "q63_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |               AS h
        |           FROM events),
        |r AS (SELECT event_type, h,
        |             row_number() OVER (PARTITION BY event_type ORDER BY h)
        |               AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM h)
        |SELECT event_type,
        |       least(n, 64)::BIGINT AS sketch_size,
        |       CASE WHEN n < 64 THEN n
        |            ELSE floor(63 * 1152921504606846976.0 / h)::BIGINT
        |       END AS est_distinct
        |FROM r WHERE rn = least(n, 64)
        |ORDER BY event_type""".stripMargin,
    "q51_group_stats" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 3) + 0.0
        |         AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 1) + 0.0
        |         AS covar_qty_price,
        |       round(stddev_samp(l_discount), 4) + 0.0 AS stddev_disc,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q50_corpus_curation" -> q50Sql,
    "q49_sliding_window" ->
      """WITH ex AS (
        |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
        |                        - k * 900000000) AS w_start,
        |         event_type, value, ts
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks),
        |w AS (SELECT * FROM ex
        |      WHERE ts >= w_start AND ts < w_start + INTERVAL 1 HOUR)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "q48_simhash_pairs" ->
      s"""$tokListCte,
         |tok AS (SELECT doc_id, w, count(*) AS cnt
         |        FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
         |        GROUP BY doc_id, w),
         |h AS (SELECT doc_id, w, cnt,
         |             ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
         |      FROM tok),
         |bits AS (SELECT doc_id, b,
         |           sum(CASE WHEN ((h >> b) & 1) = 1 THEN cnt
         |               ELSE -cnt END) AS s
         |         FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bs
         |         GROUP BY doc_id, b),
         |fp AS (SELECT doc_id,
         |         sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
         |             ELSE 0::BIGINT END) AS simhash
         |       FROM bits GROUP BY doc_id),
         |banded AS (SELECT doc_id, simhash, j,
         |                  (simhash >> (j * 8)) % 256 AS bv
         |           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_1,
         |                b.doc_id AS doc_id_2,
         |                a.simhash AS f1, b.simhash AS f2
         |         FROM banded a JOIN banded b
         |           ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_id_1, doc_id_2,
         |       bit_count(xor(f1, f2)) AS hamming
         |FROM cand WHERE bit_count(xor(f1, f2)) <= 3
         |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    "q46_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(min(value), 4) AS min_v,
        |       round(max(value), 4) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q47_edit_distance" ->
      s"""WITH pairs AS ($q18Sql),
         |np AS (SELECT doc_id,
         |         substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
         |                     'g')), 1, 80) AS prefix
         |       FROM documents)
         |SELECT p.doc_id_1, p.doc_id_2,
         |       levenshtein(a.prefix, b.prefix) AS edit_dist
         |FROM pairs p
         |JOIN np a ON a.doc_id = p.doc_id_1
         |JOIN np b ON b.doc_id = p.doc_id_2
         |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    "q44_tfidf" ->
      s"""$tokListCte,
         |tf AS (SELECT doc_id, w, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
         |       GROUP BY doc_id, w),
         |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (SELECT doc_id, w AS term,
         |                  tf * ln((SELECT n FROM n) / df) AS tfidf
         |           FROM tf JOIN df USING (w)),
         |r AS (SELECT doc_id, term, tfidf,
         |             row_number() OVER (PARTITION BY doc_id
         |               ORDER BY tfidf DESC, term ASC) AS rk
         |      FROM scored)
         |SELECT doc_id, term, round(tfidf, 4) AS tfidf, rk FROM r
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q45_pivot" ->
      """SELECT user_id,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q150: the INDEPENDENT formulation — the direct long aggregate,
    // never a melt of the wide form — so the gate pins the round trip.
    "q150_unpivot" ->
      """SELECT user_id, event_type, count(*) AS cnt
        |FROM events
        |WHERE event_type IN ('click', 'error', 'purchase', 'signup',
        |                     'view')
        |GROUP BY 1, 2
        |ORDER BY user_id NULLS FIRST, event_type""".stripMargin,
    "q43_stream_interval_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id AS v_user_id, ts AS view_ts,
        |             event_id AS view_id
        |      FROM events WHERE event_type = 'view')
        |SELECT c.user_id, click_id, view_id,
        |       strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |       strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        |FROM c JOIN v ON c.user_id = v_user_id
        |  AND view_ts <= click_ts
        |  AND view_ts >= click_ts - INTERVAL 1 HOUR
        |ORDER BY user_id, click_id, view_id""".stripMargin,
    // q137: q43's oracle with LEFT JOIN and the null ordering pinned
    // (Spark asc = nulls first; DuckDB defaults NULLS LAST).
    // null filters mirror the engine EXPLICITLY (q117's discipline):
    // the watermark drops null-ts rows and the sentinel sink filter
    // null-kills null user ids, while a bare outer join here would
    // KEEP them as unmatched rows.
    "q137_stream_outer_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'
        |             AND user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id AS v_user_id, ts AS view_ts,
        |             event_id AS view_id
        |      FROM events WHERE event_type = 'view'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT c.user_id, click_id, view_id,
        |       strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |       strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        |FROM c LEFT JOIN v ON c.user_id = v_user_id
        |  AND view_ts <= click_ts
        |  AND view_ts >= click_ts - INTERVAL 1 HOUR
        |ORDER BY user_id, click_id, view_id NULLS FIRST""".stripMargin,
    // q144: the batch FULL JOIN; the key coalesces the two sides'
    // user ids (an unmatched view has no click-side user), and BOTH
    // join-side ids pin NULLS FIRST (DuckDB defaults NULLS LAST).
    "q144_stream_full_outer_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'
        |             AND user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id AS v_user_id, ts AS view_ts,
        |             event_id AS view_id
        |      FROM events WHERE event_type = 'view'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT coalesce(c.user_id, v_user_id) AS user_id,
        |       click_id, view_id,
        |       strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |       strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        |FROM c FULL JOIN v ON c.user_id = v_user_id
        |  AND view_ts <= click_ts
        |  AND view_ts >= click_ts - INTERVAL 1 HOUR
        |ORDER BY user_id, click_id NULLS FIRST,
        |         view_id NULLS FIRST""".stripMargin,
    // q138: revenue summed in integer 1e-4 units (cents x discount
    // percent) — a rounded double SUM lands on .005 ties the two
    // engines round apart; the integer sum is exact and the top-20
    // cut orders on it.
    "q138_revenue_report" ->
      """WITH j AS (
        |  SELECT c_custkey, c_name, n_name, c_acctbal,
        |         round(l_extendedprice * 100)::BIGINT *
        |           (100 - round(l_discount * 100)::BIGINT) AS rev_e4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'),
        |g AS (SELECT c_custkey, c_name, n_name, c_acctbal,
        |             sum(rev_e4) AS rev_e4, count(*) AS n_items
        |      FROM j GROUP BY 1, 2, 3, 4)
        |SELECT c_custkey, c_name, n_name, c_acctbal,
        |       rev_e4::DOUBLE / 10000.0 AS revenue,
        |       n_items::BIGINT AS n_items
        |FROM g
        |ORDER BY rev_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    // q139: thresholds at the ceil-rank contract; equal-to-threshold
    // stays in the lower bucket on both engines.
    "q139_decile_binning" ->
      (tokListCte + """,
        |v AS (SELECT doc_id, lang, len(t)::BIGINT AS v FROM toks),
        |n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
        |rv AS (SELECT v.*, row_number() OVER (PARTITION BY lang
        |                                      ORDER BY v) AS rn
        |       FROM v),
        |p(pct) AS (VALUES (10), (20), (30), (40), (50), (60), (70),
        |                  (80), (90)),
        |th AS (SELECT rv.lang, p.pct, rv.v AS t
        |       FROM rv JOIN n USING (lang)
        |       JOIN p ON rv.rn = (n.n * p.pct + 99) // 100)
        |SELECT v.doc_id, v.lang, v.v AS token_cnt,
        |       (1 + sum(CASE WHEN v.v > th.t THEN 1 ELSE 0 END))::BIGINT
        |         AS decile
        |FROM v JOIN th USING (lang)
        |GROUP BY v.doc_id, v.lang, v.v
        |ORDER BY doc_id""".stripMargin),
    "q32_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
        |       sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |       min(json_extract(props, '$.k')::BIGINT) AS min_k,
        |       max(json_extract(props, '$.k')::BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q33_cube" ->
      """SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |            ELSE o_orderpriority END AS priority,
        |       CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
        |            ELSE o_orderstatus END AS status,
        |       round(sum(o_totalprice), 2) AS revenue, count(*) AS cnt
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY priority NULLS FIRST, status NULLS FIRST""".stripMargin,
    "q35_window_analytics" ->
      """SELECT user_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS micros_since_prev,
        |       lead(event_id, 1) OVER w AS next_event_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING), 2) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "q110_asof_chain" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events
        |               WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, event_id AS view_event_id
        |      FROM events WHERE event_type = 'view'),
        |e AS (SELECT user_id, ts, event_id AS error_event_id
        |      FROM events WHERE event_type = 'error'),
        |s1 AS (SELECT c.user_id, c.ts, c.event_id, v.view_event_id
        |       FROM clicks c ASOF LEFT JOIN v
        |         ON c.user_id = v.user_id AND v.ts <= c.ts)
        |SELECT s1.user_id,
        |       strftime(s1.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |       s1.event_id, s1.view_event_id, e.error_event_id
        |FROM s1 ASOF LEFT JOIN e
        |  ON s1.user_id = e.user_id AND e.ts <= s1.ts
        |ORDER BY s1.user_id, ts, s1.event_id""".stripMargin,
    "q36_asof_join" -> asofOracle,
    // q100 runs the same semantics through the native AsofJoinExec; one
    // oracle text pins both the composed and the custom-plan path.
    "q100_asof_native" -> asofOracle,
    // q101's oracle is the INDEPENDENT formulation: per-phrase k-way
    // position self-joins generated from the same PhraseSet the Spark
    // window plan reads — two algorithms, one answer.
    "q101_phrase_search" -> {
      val blocks = ReferenceQueries.PhraseSet.map { ph =>
        val ts = ph.split(" ")
        val joins = ts.zipWithIndex.drop(1).map { case (t, i) =>
          s"  JOIN tp t$i ON t$i.doc_id = t0.doc_id" +
            s" AND t$i.pos = t0.pos + $i AND t$i.w = '$t'"
        }.mkString("\n")
        s"SELECT '$ph' AS phrase, t0.doc_id, t0.pos FROM tp t0\n$joins\n" +
          s"  WHERE t0.w = '${ts(0)}'"
      }.mkString("\nUNION ALL\n")
      s"""$tokListCte,
         |tp AS (SELECT doc_id, unnest(t) AS w,
         |              generate_subscripts(t, 1) - 1 AS pos FROM toks),
         |m AS ($blocks)
         |SELECT phrase, doc_id, count(*) AS occurrences,
         |       min(pos) AS first_pos
         |FROM m GROUP BY phrase, doc_id
         |ORDER BY phrase, doc_id""".stripMargin
    },
    // q109's oracle: per-lang row_number ranks over replayed token
    // counts, same integer ceil-rank contract as q105.
    "q109_grouped_quantiles" ->
      (tokListCte + """,
        |counts AS (SELECT lang, len(t)::BIGINT AS v FROM toks),
        |ranked AS (SELECT lang, v,
        |             row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n
        |           FROM counts),
        |t(pct) AS (VALUES (50), (95))
        |SELECT r.lang, t.pct, r.v AS token_cnt
        |FROM t JOIN ranked r ON r.rn = (r.n * t.pct + 99) // 100
        |ORDER BY lang, pct""".stripMargin),
    // q123's oracle REPLAYS the bottom-k sample (k smallest md5-prefix
    // hashes per lang, ties broken by value) and reads the same
    // ceil-rank order statistics off it — the sketch is a pure function
    // of the input multiset, which is what makes this a hash compare.
    "q123_sketch_quantiles" ->
      (tokListCte + """,
        |counts AS (SELECT doc_id, lang, len(t)::BIGINT AS v FROM toks),
        |hs AS (SELECT lang, v,
        |              ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
        |                AS h
        |       FROM counts),
        |r AS (SELECT lang, v,
        |             row_number() OVER (PARTITION BY lang ORDER BY h, v)
        |               AS rn
        |      FROM hs),
        |s AS (SELECT lang, v FROM r WHERE rn <= 256),
        |s2 AS (SELECT lang, v,
        |              row_number() OVER (PARTITION BY lang ORDER BY v)
        |                AS vr,
        |              count(*) OVER (PARTITION BY lang) AS m
        |       FROM s),
        |t(pct) AS (VALUES (50), (95))
        |SELECT s2.lang, t.pct, s2.v AS token_cnt_est,
        |       s2.m::BIGINT AS sample_n
        |FROM t JOIN s2 ON s2.vr = (s2.m * t.pct + 99) // 100
        |ORDER BY lang, pct""".stripMargin),
    // q124's oracle is the brute-force quadratic Levenshtein join the
    // FastSS blocking replaces — a missed candidate pair would change
    // n_fuzzy/min_partner, so the hash gate pins blocking completeness.
    "q124_fuzzy_degree" ->
      """SELECT a.p_partkey AS p_partkey, min(a.p_name) AS p_name,
        |       count(b.p_partkey) AS n_fuzzy,
        |       min(b.p_partkey) AS min_partner
        |FROM part a LEFT JOIN part b
        |  ON b.p_partkey <> a.p_partkey
        | AND levenshtein(a.p_name, b.p_name) <= 1
        |GROUP BY a.p_partkey
        |ORDER BY p_partkey""".stripMargin,
    // q143: the same brute-force oracle at d=2 — a pair the 2-deletion
    // blocking missed would change n_fuzzy, so the gate pins
    // completeness at the wider radius too.
    "q143_fuzzy_degree2" ->
      """SELECT a.p_partkey AS p_partkey, min(a.p_name) AS p_name,
        |       count(b.p_partkey) AS n_fuzzy,
        |       min(b.p_partkey) AS min_partner
        |FROM part a LEFT JOIN part b
        |  ON b.p_partkey <> a.p_partkey
        | AND levenshtein(a.p_name, b.p_name) <= 2
        |GROUP BY a.p_partkey
        |ORDER BY p_partkey""".stripMargin,
    // q125's oracle mirrors the engine hop-for-hop: ASOF backward for
    // the previous event, ASOF backward over the NEGATED microsecond
    // instant for the next, then the identical IEEE interpolation
    // expression — unrounded doubles hash-match when the operand order
    // matches (see q36's note on unique (user_id, ts) right sides).
    "q125_resample_interp" ->
      """WITH ev AS (
        |  SELECT user_id, ts, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |             max(ts) AS hi
        |      FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id,
        |                unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |                  AS ts
        |         FROM b),
        |prv AS (SELECT user_id, ts, epoch_us(ts) AS prev_us,
        |               value AS prev_value FROM ev),
        |s1 AS (SELECT g.user_id, g.ts, p.prev_us, p.prev_value
        |       FROM grid g ASOF LEFT JOIN prv p
        |         ON g.user_id = p.user_id AND g.ts >= p.ts),
        |nxt AS (SELECT user_id, -epoch_us(ts) AS tsn,
        |               epoch_us(ts) AS next_us, value AS next_value
        |        FROM ev),
        |s2 AS (SELECT s1.*, n.next_us, n.next_value
        |       FROM (SELECT *, -epoch_us(ts) AS tsn FROM s1) s1
        |       ASOF LEFT JOIN nxt n
        |         ON s1.user_id = n.user_id AND s1.tsn >= n.tsn)
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS slot,
        |       CASE WHEN prev_us IS NULL OR next_us IS NULL THEN NULL
        |            WHEN next_us = prev_us THEN prev_value
        |            ELSE prev_value + (next_value - prev_value) *
        |              ((epoch_us(ts) - prev_us)::DOUBLE /
        |               (next_us - prev_us)::DOUBLE)
        |       END AS interp_value
        |FROM s2
        |ORDER BY user_id, slot""".stripMargin,
    // q135: ASOF backward + ASOF backward over the negated instant
    // (q125's construction) + the identical integer tie/pick CASEs.
    "q135_nearest_asof" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'click'),
        |vb AS (SELECT user_id, ts, epoch_us(ts) AS b_us,
        |              event_id AS b_event_id
        |       FROM events WHERE event_type = 'view'),
        |s1 AS (SELECT c.user_id, c.ts, c.event_id, vb.b_us, vb.b_event_id
        |       FROM c ASOF LEFT JOIN vb
        |         ON c.user_id = vb.user_id AND c.ts >= vb.ts),
        |vf AS (SELECT user_id, -epoch_us(ts) AS tsn, epoch_us(ts) AS f_us,
        |              event_id AS f_event_id
        |       FROM events WHERE event_type = 'view'),
        |s2 AS (SELECT s1.*, vf.f_us, vf.f_event_id
        |       FROM (SELECT *, -epoch_us(ts) AS tsn FROM s1) s1
        |       ASOF LEFT JOIN vf
        |         ON s1.user_id = vf.user_id AND s1.tsn >= vf.tsn)
        |SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |       event_id,
        |       CASE WHEN f_us IS NULL OR (b_us IS NOT NULL AND
        |                 epoch_us(ts) - b_us <= f_us - epoch_us(ts))
        |            THEN b_event_id ELSE f_event_id
        |       END AS nearest_view_id,
        |       CASE WHEN b_us IS NULL AND f_us IS NULL THEN NULL
        |            WHEN f_us IS NULL OR (b_us IS NOT NULL AND
        |                 epoch_us(ts) - b_us <= f_us - epoch_us(ts))
        |            THEN epoch_us(ts) - b_us
        |            ELSE f_us - epoch_us(ts)
        |       END AS gap_us,
        |       CASE WHEN b_us IS NULL AND f_us IS NULL THEN NULL
        |            WHEN f_us IS NULL OR (b_us IS NOT NULL AND
        |                 epoch_us(ts) - b_us <= f_us - epoch_us(ts))
        |            THEN 'backward' ELSE 'forward'
        |       END AS direction
        |FROM s2
        |ORDER BY user_id, ts, event_id""".stripMargin,
    // q126: the same dense-version / effective-range construction in
    // window SQL; is_current is a plain boolean on both engines.
    "q126_scd2_history" -> scd2OracleSql,
    // q133: the streamed CDC-maintained table must equal the full
    // rebuild — SAME oracle text as q126, so the gate pins incremental
    // == batch end to end.
    "q133_stream_scd2" -> scd2OracleSql,
    // q127: the oracle IS the rank-window formulation the engine's
    // bisect path avoids — row_number per stratum over the same 60-bit
    // content hash, kept through rank ceil(rate·N_g/100); the hash gate
    // therefore pins the order statistic, the tie policy, and the exact
    // realized counts all at once.
    "q127_exact_sample" ->
      """WITH h AS (SELECT doc_id, lang,
        |             ('0x' || substr(md5('exact:' || lang || ':' ||
        |                                 doc_id::VARCHAR), 1, 15))::BIGINT
        |               AS hv,
        |             CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS pct
        |           FROM documents),
        |n AS (SELECT lang, count(*) AS n_g FROM h GROUP BY 1),
        |r AS (SELECT h.*,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY hv, doc_id) AS rk
        |      FROM h)
        |SELECT r.doc_id, r.lang, r.hv FROM r JOIN n USING (lang)
        |WHERE rk <= (n_g * pct + 99) // 100
        |ORDER BY doc_id""".stripMargin,
    // q128: DuckDB replays the exact key construction (list_transform
    // over generate_series + list_max) — the gate pins the max-of-w
    // sampling key, the ranking, and the tie policy bit-for-bit.
    "q128_weighted_sample" ->
      """WITH w AS (SELECT doc_id, source,
        |             1 + (substr(source, 4)::INT % 5) AS weight
        |           FROM documents),
        |k AS (SELECT doc_id, source, weight,
        |        list_max(list_transform(generate_series(1, weight),
        |          i -> md5('wsamp:' || doc_id::VARCHAR || ':' ||
        |                   i::VARCHAR))) AS sample_key
        |      FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY sample_key DESC,
        |                                   doc_id) AS rk
        |      FROM k)
        |SELECT doc_id, source, weight, sample_key, rk
        |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin,
    // q145: q128's key replay partitioned by lang — the rank window IS
    // the oracle-side formulation of the engine's bounded heap.
    "q145_stratified_weighted_sample" ->
      """WITH w AS (SELECT doc_id, lang, source,
        |             1 + (substr(source, 4)::INT % 5) AS weight
        |           FROM documents),
        |k AS (SELECT doc_id, lang, weight,
        |        list_max(list_transform(generate_series(1, weight),
        |          i -> md5('wsamp:' || doc_id::VARCHAR || ':' ||
        |                   i::VARCHAR))) AS sample_key
        |      FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |                ORDER BY sample_key DESC, doc_id) AS rk
        |      FROM k)
        |SELECT lang, rk::BIGINT AS rk, doc_id, weight, sample_key
        |FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    // q129: the oracle mirrors the engine's float discipline exactly —
    // per-term tf/df in fixed slots, one left-associated score
    // expression with the same double literals, rounding only at
    // display. ln() of identically-computed ratios is bit-stable.
    // KNOWN ASSUMPTION (gate-level): JVM Math.log and the oracle
    // engine's libm log agree to the last ulp on these inputs —
    // verified on this platform; a last-ulp divergence landing exactly
    // on a .00005 boundary of round(score, 4) would flip one display
    // digit. If the gate ever reds on another platform, the documented
    // fallback is the spec's rows-plus-5e-5-tolerance replay
    // (Bm25 section of OperatorSpec), not a code bug.
    "q129_bm25" ->
      s"""$tokListCte,
         |tf AS (SELECT doc_id, w, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(t) AS w FROM toks) u
         |       WHERE w IN ('stream', 'table', 'hash')
         |       GROUP BY doc_id, w),
         |corpus AS (SELECT count(*)::DOUBLE AS n_docs,
         |                  sum(len(t))::DOUBLE / count(*)::DOUBLE AS avgdl
         |           FROM toks),
         |dfs AS (SELECT
         |          sum(CASE WHEN w = 'stream' THEN 1 ELSE 0 END)::DOUBLE
         |            AS df0,
         |          sum(CASE WHEN w = 'table' THEN 1 ELSE 0 END)::DOUBLE
         |            AS df1,
         |          sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END)::DOUBLE
         |            AS df2
         |        FROM tf),
         |perdoc AS (SELECT doc_id,
         |             sum(CASE WHEN w = 'stream' THEN tf ELSE 0 END)::DOUBLE
         |               AS tf0,
         |             sum(CASE WHEN w = 'table' THEN tf ELSE 0 END)::DOUBLE
         |               AS tf1,
         |             sum(CASE WHEN w = 'hash' THEN tf ELSE 0 END)::DOUBLE
         |               AS tf2
         |           FROM tf GROUP BY doc_id),
         |scored AS (SELECT doc_id,
         |             ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
         |               * (tf0 * 2.2)
         |               / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |             + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
         |               * (tf1 * 2.2)
         |               / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |             + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
         |               * (tf2 * 2.2)
         |               / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |             AS score
         |           FROM perdoc
         |           JOIN (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks)
         |             USING (doc_id)
         |           CROSS JOIN corpus CROSS JOIN dfs),
         |r AS (SELECT doc_id, score,
         |             row_number() OVER (ORDER BY score DESC, doc_id)
         |               AS rk
         |      FROM scored)
         |SELECT doc_id, round(score, 4) AS bm25, rk FROM r
         |WHERE rk <= 50 ORDER BY rk""".stripMargin,
    // q130: the Z-value SQL is GENERATED from the same shift/mask
    // constants as the engine's Column expression (ZOrderLayout
    // .zValueSql), so the interleave cannot drift; rectangle bounds are
    // the same integer arithmetic on both sides.
    "q130_zorder_rectangle" -> {
      val ub = graft.sources.ZOrderLayout.zBucketSql(
        "user_id", "0", "(umax + 1)", "//")
      val tb = graft.sources.ZOrderLayout.zBucketSql(
        "epoch_us(ts)", "tmin", "(tmax - tmin + 1)", "//")
      s"""WITH b AS (SELECT max(user_id) AS umax,
         |                  min(epoch_us(ts)) AS tmin,
         |                  max(epoch_us(ts)) AS tmax FROM events),
         |r AS (SELECT umax // 10 AS uhi,
         |             tmin + (tmax - tmin) // 4 AS tlo,
         |             tmin + (tmax - tmin) * 3 // 4 AS thi FROM b)
         |SELECT event_id, user_id, event_type,
         |       ${graft.sources.ZOrderLayout.zValueSql(ub, tb)} AS zv
         |FROM events, b, r
         |WHERE user_id >= 0 AND user_id <= uhi
         |  AND epoch_us(ts) >= tlo AND epoch_us(ts) <= thi
         |ORDER BY event_id""".stripMargin
    },
    // q131: the oracle replays the deterministic bottom-k samples and
    // the exact Theta estimator arithmetic — union, intersection, and
    // the small-range-exact theta rule all hash-gated.
    "q131_kmv_setops" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |               AS h
        |           FROM events),
        |r AS (SELECT event_type, h,
        |             row_number() OVER (PARTITION BY event_type ORDER BY h)
        |               AS rn
        |      FROM h),
        |kept AS (SELECT event_type, h FROM r WHERE rn <= 64),
        |sk AS (SELECT event_type, count(*) AS sz, max(h) AS hk
        |       FROM kept GROUP BY 1),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |                 a.sz AS sz_a, a.hk AS hk_a,
        |                 b.sz AS sz_b, b.hk AS hk_b,
        |                 least(
        |                   CASE WHEN a.sz < 64
        |                        THEN 1152921504606846976 ELSE a.hk END,
        |                   CASE WHEN b.sz < 64
        |                        THEN 1152921504606846976 ELSE b.hk END)
        |                   AS theta
        |          FROM sk a JOIN sk b ON a.event_type < b.event_type),
        |uh AS (SELECT DISTINCT p.type_a, p.type_b, k.h
        |       FROM pairs p JOIN kept k
        |         ON k.event_type = p.type_a OR k.event_type = p.type_b),
        |ur AS (SELECT type_a, type_b, h,
        |              row_number() OVER (PARTITION BY type_a, type_b
        |                                 ORDER BY h) AS rn
        |       FROM uh),
        |us AS (SELECT type_a, type_b, count(*) AS sz_u, max(h) AS hk_u
        |       FROM ur WHERE rn <= 64 GROUP BY 1, 2),
        |cm AS (SELECT p.type_a, p.type_b, count(j.h) AS c
        |       FROM pairs p
        |       LEFT JOIN (SELECT ka.event_type AS ta, kb.event_type AS tb,
        |                         ka.h
        |                  FROM kept ka JOIN kept kb ON ka.h = kb.h) j
        |         ON j.ta = p.type_a AND j.tb = p.type_b
        |            AND j.h < p.theta
        |       GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |       CASE WHEN sz_a < 64 THEN sz_a
        |            ELSE floor(63 * 1152921504606846976.0 / hk_a)::BIGINT
        |       END AS est_a,
        |       CASE WHEN sz_b < 64 THEN sz_b
        |            ELSE floor(63 * 1152921504606846976.0 / hk_b)::BIGINT
        |       END AS est_b,
        |       CASE WHEN sz_u < 64 THEN sz_u
        |            ELSE floor(63 * 1152921504606846976.0 / hk_u)::BIGINT
        |       END AS est_union,
        |       floor(c * 1152921504606846976.0 / theta)::BIGINT
        |         AS est_inter
        |FROM pairs p JOIN us USING (type_a, type_b)
        |JOIN cm USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin,
    // q132: day truncation, integer day offsets, and permille
    // retention are all integer-exact on both engines.
    "q132_cohort_retention" ->
      """WITH e AS (SELECT user_id, ts FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, date_trunc('day', min(ts))::DATE AS cohort
        |      FROM e GROUP BY 1),
        |s AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |      FROM e),
        |m AS (SELECT c.cohort, (a.day - c.cohort) AS day_offset,
        |             count(DISTINCT a.user_id) AS n_active
        |      FROM a JOIN c USING (user_id)
        |      GROUP BY 1, 2)
        |SELECT strftime(m.cohort, '%Y-%m-%d') AS cohort_day,
        |       m.day_offset::BIGINT AS day_offset,
        |       m.n_active::BIGINT AS n_active,
        |       (m.n_active * 1000 // s.cohort_size)::BIGINT AS retention_pm
        |FROM m JOIN s USING (cohort)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // q134: the oracle replays the daily bottom-k samples, the window
    // union, and the estimator — merge-then-estimate hash-gated.
    "q134_sliding_sketch" ->
      """WITH h AS (SELECT DISTINCT date_trunc('day', ts)::DATE AS day,
        |             ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
        |               AS h
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT day, h,
        |             row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |      FROM h),
        |kept AS (SELECT day, h FROM r WHERE rn <= 64),
        |d AS (SELECT DISTINCT day AS window_end FROM kept),
        |mh AS (SELECT DISTINCT d.window_end, k.h
        |       FROM d JOIN kept k
        |         ON k.day BETWEEN d.window_end - 6 AND d.window_end),
        |rr AS (SELECT window_end, h,
        |              row_number() OVER (PARTITION BY window_end
        |                                 ORDER BY h) AS rn
        |       FROM mh),
        |s AS (SELECT window_end, count(*) AS sz, max(h) AS hk
        |      FROM rr WHERE rn <= 64 GROUP BY 1)
        |SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
        |       sz::BIGINT AS sketch_size,
        |       CASE WHEN sz < 64 THEN sz
        |            ELSE floor(63 * 1152921504606846976.0 / hk)::BIGINT
        |       END AS est_active_7d
        |FROM s ORDER BY window_end""".stripMargin,
    // q136: both medians read at the q105/q109 rank contract
    // (ceil(50·N/100), duplicates counted); everything else is integer.
    "q136_mad_outliers" ->
      (tokListCte + """,
        |v AS (SELECT doc_id, lang, len(t)::BIGINT AS v FROM toks),
        |n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
        |rv AS (SELECT v.*, row_number() OVER (PARTITION BY lang
        |                                      ORDER BY v) AS rn
        |       FROM v),
        |med AS (SELECT rv.lang, rv.v AS med FROM rv JOIN n USING (lang)
        |        WHERE rn = (n * 50 + 99) // 100),
        |d AS (SELECT v.doc_id, v.lang, v.v, med.med,
        |             abs(v.v - med.med) AS dev
        |      FROM v JOIN med USING (lang)),
        |rd AS (SELECT d.*, row_number() OVER (PARTITION BY lang
        |                                      ORDER BY dev) AS rn
        |       FROM d),
        |mad AS (SELECT lang, dev AS mad FROM rd JOIN n USING (lang)
        |        WHERE rn = (n * 50 + 99) // 100)
        |SELECT d.doc_id, d.lang, d.v AS token_cnt, d.med, d.dev,
        |       mad.mad, (d.dev > 2 * mad.mad) AS is_outlier
        |FROM d JOIN mad USING (lang)
        |ORDER BY doc_id""".stripMargin),
    // q107's oracle recomputes snapshot B's heavy hitters from scratch
    // (q102's exact chain over the recrawl documents) — any error in
    // the sketch subtraction, the incremental stream, or the refreshed
    // threshold shows up as a wrong heavy-hitter set or count.
    "q107_sketch_refresh" ->
      s"""WITH bdocs AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT -(doc_id + 1), lang, text FROM documents
        |  WHERE doc_id % 10 = 1),
        |toks AS (
        |  SELECT doc_id, list_filter(list_transform(
        |           string_split_regex(lower(text), '[^a-z0-9]+'),
        |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
        |  FROM bdocs),
        |tp AS (SELECT doc_id, unnest(t) AS w,
        |              generate_subscripts(t, 1) - 1 AS pos FROM toks),
        |bg AS MATERIALIZED (
        |  SELECT a.w || ' ' || b.w AS bigram
        |  FROM tp a JOIN tp b ON b.doc_id = a.doc_id
        |                     AND b.pos = a.pos + 1),
        |tot AS (SELECT count(*) AS n FROM bg),
        |c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1)
        |SELECT bigram, cnt FROM c, tot
        |WHERE cnt >= greatest(1, n // ${TextQueries.HeavyPhiDen})
        |ORDER BY bigram""".stripMargin,
    // q106's oracle replays the whole chain in SQL: fixture pixel
    // formula -> 64-chunk integer means (cross-multiplied, no floats)
    // -> 16-bit bands -> banded candidate join -> per-band xor popcount.
    "q106_image_neardup" ->
      """WITH m AS (SELECT doc_id, text, length(text) AS L,
        |             (length(text) % 16 + 4)
        |               * ((length(text) * 7) % 12 + 4) * 3 AS n
        |           FROM documents),
        |px AS (SELECT doc_id, n, L, text, unnest(range(0, n)) AS k FROM m),
        |pv AS (SELECT doc_id, n, k,
        |         ((CASE WHEN L = 0 THEN 0
        |           ELSE ascii(substr(text, (k % L) + 1, 1)) END) * 7
        |          + k * 13) % 256 AS p,
        |         (k * 64) // n AS j
        |       FROM px),
        |cs AS (SELECT doc_id, n, j, sum(p) AS s, count(*) AS c
        |       FROM pv GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, sum(p) AS t FROM pv GROUP BY 1),
        |bits AS (SELECT cs.doc_id, cs.j,
        |           CASE WHEN cs.s * cs.n >= tot.t * cs.c
        |                THEN 1 ELSE 0 END AS bit
        |         FROM cs JOIN tot ON tot.doc_id = cs.doc_id),
        |bands AS (SELECT doc_id, j // 8 AS band,
        |            sum(bit * (1::BIGINT << (j % 8))) AS bv
        |          FROM bits GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.bv = b.bv
        |          AND a.doc_id < b.doc_id),
        |hm AS (SELECT c.d1, c.d2,
        |         sum(bit_count(xor(x.bv, y.bv)))::BIGINT AS hamming
        |       FROM cand c
        |       JOIN bands x ON x.doc_id = c.d1
        |       JOIN bands y ON y.doc_id = c.d2 AND y.band = x.band
        |       GROUP BY 1, 2)
        |SELECT d1 AS doc_id_1, d2 AS doc_id_2, hamming FROM hm
        |WHERE hamming <= 7 ORDER BY doc_id_1, doc_id_2""".stripMargin,
    // q105's oracle: the same integer rank contract via row_number —
    // percentile p = the ceil(p*N/100)-th smallest value, dups counted.
    "q105_exact_quantiles" ->
      """WITH ranked AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |         count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |t(pct) AS (VALUES (50), (95), (99))
        |SELECT t.pct, r.value
        |FROM t JOIN ranked r ON r.rn = (r.n * t.pct + 99) // 100
        |ORDER BY pct""".stripMargin,
    // q104's oracle is the batch formulation of the same enrichment —
    // stream-static joins promise batch-equivalent results per batch.
    "q104_stream_static" ->
      """WITH profile AS (
        |  SELECT user_id, count(*) AS views,
        |         round(sum(value), 2) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT c.user_id, c.event_id,
        |       coalesce(p.views, 0) AS views,
        |       coalesce(p.view_value, 0.0) AS view_value
        |FROM events c LEFT JOIN profile p ON p.user_id = c.user_id
        |WHERE c.event_type = 'click'
        |ORDER BY c.user_id, c.event_id""".stripMargin,
    // q102's oracle is sketch-free by design: exact bigram counts with
    // the same phi threshold — the CMS prefilter must be invisible in
    // the output (superset property + exact verify), so any sketch bug
    // that drops a true heavy hitter or leaks a collision fires here.
    "q102_heavy_hitters" ->
      s"""$tokListCte,
         |tp AS (SELECT doc_id, unnest(t) AS w,
         |              generate_subscripts(t, 1) - 1 AS pos FROM toks),
         |bg AS MATERIALIZED (
         |  SELECT a.w || ' ' || b.w AS bigram
         |  FROM tp a JOIN tp b ON b.doc_id = a.doc_id
         |                     AND b.pos = a.pos + 1),
         |tot AS (SELECT count(*) AS n FROM bg),
         |c AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1)
         |SELECT bigram, cnt FROM c, tot
         |WHERE cnt >= greatest(1, n // ${TextQueries.HeavyPhiDen})
         |ORDER BY bigram""".stripMargin,
    "q39_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cell, v AS cv FROM e
        |          WHERE vec_id < ${SimilarityQueries.NumCells}),
        |asg AS (SELECT vec_id, v, cell FROM (
        |   SELECT e.vec_id, e.v, c.cell,
        |          row_number() OVER (PARTITION BY e.vec_id
        |            ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell)
        |            AS rk
        |   FROM e CROSS JOIN cents c) t WHERE rk = 1),
        |probes AS (SELECT query_id, qv, cell FROM (
        |   SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
        |          row_number() OVER (PARTITION BY q.vec_id
        |            ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cell)
        |            AS rk
        |   FROM e q CROSS JOIN cents c WHERE q.vec_id < 10) t WHERE rk <= 2),
        |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
        |                round(list_cosine_similarity(p.qv, a.v), 4) AS sim
        |         FROM probes p JOIN asg a ON a.cell = p.cell
        |         WHERE a.vec_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY query_id
        |               ORDER BY sim DESC, neighbor_id) AS "rank"
        |      FROM cand)
        |SELECT query_id, neighbor_id, sim, "rank" FROM r WHERE "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin,
    // q57 reproduces the 2 Lloyd iterations: assignment by (cosine DESC,
    // cell ASC) argmax, centroid update as exact integer-micro component
    // sums (floor(v*1e6) — order-independent, so both engines build
    // bit-identical codebooks), empty cells keep the previous centroid.
    "q57_ann_ivf_kmeans" -> ivfKmeansTopKOracle,
    // q168 is q57's search over the STORED index (manifest table,
    // bounds-pruned cell reads) — the storage layer may change IO,
    // never answers, so the two share one oracle verbatim.
    "q168_manifest_ivf_index" -> ivfKmeansTopKOracle,
    // q192: q57/q168's oracle verbatim — the incrementally-refreshed
    // index may change IO, never answers (refresh ≡ rebuild).
    "q192_ivf_incremental_refresh" -> ivfKmeansTopKOracle,
    // q76/q77: the PQ oracle replays the ENTIRE model build — coarse
    // Lloyd rounds (shared CTE), integer-micro residuals, sub-codebook
    // init from vectors 0..K-1, one Lloyd round per subspace with
    // floor(mean) updates, final integer-argmin codes — then q77 ranks
    // by the same integer asymmetric distances the Spark side computes.
    "q76_pq_codes" ->
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M, ProductQuantization.K)}
         |SELECT v.vec_id AS vec_id, v.cell AS cell,
         |       array_to_string(list(f.code ORDER BY f.m), ',') AS codes,
         |       sum(f.dist)::BIGINT AS qerr
         |FROM rres v JOIN fc f ON f.vec_id = v.vec_id
         |GROUP BY v.vec_id, v.cell
         |ORDER BY v.vec_id""".stripMargin,
    "q77_ann_ivf_pq" ->
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M, ProductQuantization.K)},
         |${pqAdcCteAt(ProductQuantization.M)}
         |$pqAdcSelect""".stripMargin,
    // q78: q77's ADC ranking truncated at the shortlist depth, then the
    // shortlist's RAW vectors re-ranked by exact cosine (IVFADC+R).
    "q78_ann_pq_rerank" ->
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M, ProductQuantization.K)},
         |${pqAdcCteAt(ProductQuantization.M)},
         |${pqRerankSql(ProductQuantization.RerankDepth)}""".stripMargin,
    // q84/q85: the identical PQ replay at the PRODUCTION operating point
    // (M=8 one-byte codes, K=256) — only the interpolated (m, k) differ
    // from q77/q78; model, ADC, and re-rank recipes are the same shared
    // CTEs, so the two operating points cannot drift apart.
    "q84_ann_pq256" ->
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M256, ProductQuantization.K256)},
         |${pqAdcCteAt(ProductQuantization.M256)}
         |$pqAdcSelect""".stripMargin,
    "q85_ann_pq256_rerank" ->
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M256, ProductQuantization.K256)},
         |${pqAdcCteAt(ProductQuantization.M256)},
         |${pqRerankSql(ProductQuantization.RerankDepth)}""".stripMargin,
    // q91: the PQ-code refresh gate. Snapshot B of the VECTOR corpus
    // (q79's rules: %10==7 removed, %10==3 reversed, %10==1 duplicated
    // negative) coded FROM SCRATCH against the snapshot-A model (cmm /
    // cent from the shared model CTEs) — equality with the Spark side's
    // delta-applied table proves the incremental refresh.
    "q91_pq_refresh" -> {
      val m = ProductQuantization.M256
      val sd = ProductQuantization.SubDim * ProductQuantization.M / m
      val dims = SimilarityQueries.Dims
      s"""WITH $ivfKmeansCte,
         |${pqModelCteAt(ProductQuantization.M256, ProductQuantization.K256)},
         |eb AS (SELECT vec_id,
         |              CASE WHEN vec_id % 10 = 3
         |                   THEN [v[${dims + 1} - d]
         |                         for d in range(1, ${dims + 1})]
         |                   ELSE v END AS v
         |       FROM e WHERE vec_id % 10 <> 7
         |       UNION ALL
         |       SELECT -(vec_id + 1), v FROM e WHERE vec_id % 10 = 1),
         |asgb AS (SELECT vec_id, v, cell FROM (
         |   SELECT b.vec_id, b.v, c.cell,
         |          row_number() OVER (PARTITION BY b.vec_id
         |            ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cell)
         |            AS rk
         |   FROM eb b CROSS JOIN c2 c) t WHERE rk = 1),
         |rresb AS (SELECT a.vec_id, a.cell,
         |                 [floor(a.v[d] * 1e6)::BIGINT - cm.cm[d]
         |                  for d in range(1, ${dims + 1})] AS r
         |          FROM asgb a JOIN cmm cm ON cm.cell = a.cell),
         |rsubb AS (SELECT vec_id, mm.m, r[(mm.m*$sd+1):(mm.m*$sd+$sd)] AS sub
         |          FROM rresb CROSS JOIN (SELECT unnest(range(0, $m)) AS m) mm),
         |dfinb AS (SELECT r.vec_id, r.m, c.code,
         |                 list_sum([(r.sub[j] - c.cv[j]) * (r.sub[j] - c.cv[j])
         |                           for j in range(1, ${sd + 1})])::BIGINT AS dist
         |          FROM rsubb r JOIN cent c ON c.m = r.m),
         |fcb AS (SELECT vec_id, m, code, dist FROM (
         |          SELECT vec_id, m, code, dist,
         |                 row_number() OVER (PARTITION BY vec_id, m
         |                   ORDER BY dist, code) AS rk
         |          FROM dfinb) t WHERE rk = 1)
         |SELECT v.vec_id AS vec_id, v.cell AS cell,
         |       array_to_string(list(f.code ORDER BY f.m), ',') AS codes,
         |       sum(f.dist)::BIGINT AS qerr
         |FROM rresb v JOIN fcb f ON f.vec_id = v.vec_id
         |GROUP BY v.vec_id, v.cell
         |ORDER BY v.vec_id""".stripMargin
    },
    // q87: SemDeDup — the k-means assignment CTE chain, then a plain
    // in-cell self-join: kept iff no smaller-id cell-mate within τ;
    // dropped rows carry their smallest such mate as rep_id.
    "q87_semdedup" ->
      s"""WITH $ivfKmeansCte,
         |dup AS (SELECT a.vec_id, min(b.vec_id) AS rep_id
         |        FROM asg a JOIN asg b
         |          ON b.cell = a.cell AND b.vec_id < a.vec_id
         |        WHERE round(list_cosine_similarity(a.v, b.v), 4)
         |              >= ${SimilarityQueries.SemDedupTau}
         |        GROUP BY a.vec_id)
         |SELECT a.vec_id, a.cell,
         |       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept,
         |       coalesce(d.rep_id, a.vec_id) AS rep_id
         |FROM asg a LEFT JOIN dup d ON d.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    // q88: duplicated-span fraction — positional (non-distinct) 8-gram
    // rows, per-(doc, gram-key) counts, per-key totals, ratio of
    // positions whose gram recurs corpus-wide. Docs shorter than the
    // span width have no full-width position and emit no row (both
    // engines). The gram rides as the SAME md5-derived 60-bit key the
    // Spark exchanges carry (DedupQueries.gramKey), so even a key
    // collision reproduces bit-for-bit.
    "q88_dup_spans" ->
      s"""$spanKeyCtes,
         |pg AS (SELECT doc_id, g, count(*) AS occ FROM spang GROUP BY doc_id, g),
         |gt AS (SELECT g, sum(occ) AS total FROM pg GROUP BY g)
         |SELECT doc_id,
         |       sum(occ)::BIGINT AS total_spans,
         |       sum(CASE WHEN total >= 2 THEN occ ELSE 0 END)::BIGINT AS dup_spans,
         |       round(sum(CASE WHEN total >= 2 THEN occ ELSE 0 END) * 1.0
         |             / sum(occ), 4) AS dup_ratio
         |FROM pg JOIN gt USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q89: duplicated-span trim extents — q88's duplicated-position rule
    // (per-key totals >= 2), then width-aware gap-islands: a new island
    // opens when the position jump exceeds the span width, so extents
    // are disjoint and maximal; span_len = last - first + width.
    "q89_dup_span_trim" ->
      s"""$spanKeyCtes,
         |$spanIslandCtes
         |SELECT doc_id, min(pos)::BIGINT AS span_start,
         |       (max(pos) - min(pos) + ${DedupQueries.SpanTokens})::BIGINT
         |         AS span_len
         |FROM r GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    // q92: q89's extents APPLIED — per-doc kept/removed token counts and
    // the md5 of the space-joined surviving tokens (the exact trimmed
    // reconstruction, hash-checked without shipping the text). Tokens
    // covered by any extent ([span_start, span_start+span_len)) are
    // removed; docs with zero tokens emit no row in either engine.
    "q92_span_trimmed" ->
      s"""$spanKeyCtes,
         |$spanIslandCtes,
         |ext AS (SELECT doc_id, min(pos) AS s,
         |               max(pos) + ${DedupQueries.SpanTokens} AS e
         |        FROM r GROUP BY doc_id, isl),
         |tpos AS (SELECT doc_id, i - 1 AS pos, t[i] AS w
         |         FROM (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t
         |               FROM toks) u),
         |cov AS (SELECT DISTINCT tp.doc_id, tp.pos
         |        FROM tpos tp JOIN ext
         |          ON ext.doc_id = tp.doc_id
         |         AND tp.pos >= ext.s AND tp.pos < ext.e)
         |SELECT tp.doc_id,
         |       sum(CASE WHEN cov.pos IS NULL THEN 1 ELSE 0 END)::BIGINT
         |         AS kept_tokens,
         |       sum(CASE WHEN cov.pos IS NULL THEN 0 ELSE 1 END)::BIGINT
         |         AS removed_tokens,
         |       md5(coalesce(string_agg(CASE WHEN cov.pos IS NULL THEN tp.w END,
         |                               ' ' ORDER BY tp.pos), ''))
         |         AS trimmed_md5
         |FROM tpos tp LEFT JOIN cov
         |  ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
         |GROUP BY tp.doc_id ORDER BY tp.doc_id""".stripMargin,
    // q94: n-gram novelty — q88's positional gram keys, but the
    // corpus-wide statistic is the DISTINCT-document frequency: a
    // position is novel iff its gram occurs in exactly one document.
    "q94_ngram_novelty" ->
      s"""$spanKeyCtes,
         |dg AS (SELECT DISTINCT doc_id, g FROM spang),
         |gd AS (SELECT g, count(*) AS n_docs FROM dg GROUP BY g)
         |SELECT doc_id, count(*)::BIGINT AS total_spans,
         |       sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END)::BIGINT
         |         AS novel_spans,
         |       round(sum(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) * 1.0
         |             / count(*), 4) AS novelty_ratio
         |FROM spang JOIN gd USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q93: token-mix drift between snapshot A and q79's snapshot B —
    // full-outer join of the two vocab-count aggregates; ppm rates in
    // BIGINT arithmetic (// truncation, positive operands) so the
    // delta is integer-exact in both engines. Snapshot B's text
    // derivation is q79's verbatim (edit /10=3, drop /10=7, re-add
    // /10=1 under negative ids — the re-added copy's tokens count
    // twice in B, same as the Spark side's unionByName).
    "q93_token_drift" ->
      """WITH btxt AS (
        |  SELECT CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id % 10 = 1),
        |ta AS (SELECT substr(w, 1, 255) AS w FROM (
        |         SELECT unnest(regexp_split_to_array(lower(text),
        |                       '[^a-z0-9]+')) AS w FROM documents) r
        |       WHERE length(w) > 0),
        |tb AS (SELECT substr(w, 1, 255) AS w FROM (
        |         SELECT unnest(regexp_split_to_array(lower(text),
        |                       '[^a-z0-9]+')) AS w FROM btxt) r
        |       WHERE length(w) > 0),
        |ca AS (SELECT w, count(*) AS cnt_a FROM ta GROUP BY w),
        |cb AS (SELECT w, count(*) AS cnt_b FROM tb GROUP BY w),
        |j AS (SELECT coalesce(ca.w, cb.w) AS w,
        |             coalesce(cnt_a, 0) AS cnt_a,
        |             coalesce(cnt_b, 0) AS cnt_b
        |      FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
        |t AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM j)
        |SELECT w, cnt_a::BIGINT AS cnt_a, cnt_b::BIGINT AS cnt_b,
        |       ((cnt_a * 1000000 // tot_a)
        |        - (cnt_b * 1000000 // tot_b))::BIGINT AS delta_ppm
        |FROM j, t
        |ORDER BY abs(delta_ppm) DESC, w""".stripMargin,
    "q58_csv_source" ->
      """SELECT n_regionkey, count(*) AS nations, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q59_json_source" ->
      """SELECT s_nationkey, count(*) AS suppliers,
        |       round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // q108: gzip CSV round-trip — same original-parquet oracle rule
    "q108_gzip_source" ->
      """SELECT o_orderpriority, count(*) AS orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // like q58/q59 the oracle aggregates the ORIGINAL parquet — any
    // loss in the ORC write or vectorized read breaks the hash
    "q103_orc_source" ->
      """SELECT c_mktsegment, count(*) AS customers,
        |       round(sum(c_acctbal), 2) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // q61 decodes REAL WAV containers (wavMediaTable: 2·len 16-bit PCM
    // samples per doc, sample k = (ascii(text[k mod len])·131 + k·71)
    // mod 65536 − 32768). The oracle replays the per-position SAMPLE
    // formula — the Spark side must parse the RIFF container to reach
    // the same values, so a header/chunk/LE-decode bug fires the hash
    // gate. Precondition (documented on wavMediaTable): source text
    // must be ASCII — DuckDB's ascii()/length() are codepoint semantics
    // while the Scala side reads UTF-16 units.
    "q61_audio_windows" ->
      """WITH w AS (
        |  SELECT doc_id, text, 2 * length(text) AS ns,
        |         unnest(range(0, least(16, greatest(1, (2 * length(text)) // 128))))
        |           AS win_idx
        |  FROM documents),
        |s AS (SELECT doc_id, text, win_idx::INT AS win_idx,
        |             (win_idx * 128)::INT AS sample_offset,
        |             least(256, ns - win_idx * 128)::INT AS n_samples
        |      FROM w)
        |SELECT doc_id, win_idx, sample_offset, n_samples,
        |       coalesce(list_sum(
        |         [((ascii(substr(text, ((sample_offset + i) % length(text)) + 1, 1)) * 131
        |            + (sample_offset + i) * 71) % 65536 - 32768)
        |          * ((ascii(substr(text, ((sample_offset + i) % length(text)) + 1, 1)) * 131
        |             + (sample_offset + i) * 71) % 65536 - 32768)
        |          for i in range(0, n_samples)]), 0)::BIGINT AS energy
        |FROM s ORDER BY doc_id, win_idx""".stripMargin,
    "q40_range_join" ->
      """WITH e AS (SELECT event_id, ts FROM events
        |           WHERE event_type = 'error'),
        |c AS (SELECT ts AS click_ts, value AS click_value FROM events
        |      WHERE event_type = 'click')
        |SELECT e.event_id,
        |       count(c.click_ts) AS clicks_before,
        |       round(coalesce(sum(c.click_value), 0), 2) AS click_value_sum
        |FROM e LEFT JOIN c
        |  ON c.click_ts > e.ts - INTERVAL 1 MINUTE AND c.click_ts <= e.ts
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,
    // q41's dims come from the q27 BMP decode; the oracle replays the
    // fixture geometry.
    "q41_resize" ->
      """WITH m AS (SELECT doc_id,
        |             length(text) % 16 + 4 AS width,
        |             (length(text) * 7) % 12 + 4 AS height
        |           FROM documents),
        |s AS (SELECT doc_id, width, height,
        |        least(1000, least(12 * 1000 // width, 8 * 1000 // height))
        |          AS scale_milli
        |      FROM m)
        |SELECT doc_id, width, height, scale_milli,
        |       greatest(1, width * scale_milli // 1000) AS out_width,
        |       greatest(1, height * scale_milli // 1000) AS out_height
        |FROM s ORDER BY doc_id""".stripMargin,
    // q37 runs over the WIDE media fixture (see q61): byte offsets and
    // lengths are genuine byte semantics, and the fingerprint is md5 of
    // the frame's lowercase-hex rendering (DuckDB 1.0 has no BLOB md5;
    // hex is a bijection of the bytes, so every sliced byte is verified).
    "q37_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, 2 * length(text) AS nb,
        |         unnest(range(0, least(8, greatest(1, (2 * length(text)) // 64))))
        |           AS frame_idx
        |  FROM documents),
        |s AS (SELECT doc_id, text, frame_idx::INT AS frame_idx,
        |             (frame_idx * 64)::INT AS byte_offset,
        |             least(64, nb - frame_idx * 64)::INT AS frame_len
        |      FROM f)
        |SELECT doc_id, frame_idx, byte_offset, frame_len,
        |       md5(lower(list_aggregate(
        |         [lpad(to_hex(ascii(substr(text, byte_offset // 2 + i + 1, 1))), 2, '0')
        |          || lpad(to_hex((ascii(substr(text, byte_offset // 2 + i + 1, 1)) * 7 + 13) % 256), 2, '0')
        |          for i in range(0, frame_len // 2)], 'string_agg', ''))) AS frame_md5
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
    // Every arithmetic step of q38's projection (integer histogram over
    // the DECODED BMP raster, exact < 2^53 double sums, IEEE sqrt/divide,
    // float32 round-to-nearest cast, floor) is bit-reproducible across
    // IEEE-754 engines, so the oracle reproduces Spark's longs exactly —
    // it replays the fixture's pixel formula; the Spark side reaches the
    // same bytes only through a correct BMP parse.
    "q38_embed_stub" ->
      """WITH m AS (SELECT doc_id, text, length(text) AS L,
        |             (length(text) % 16 + 4)
        |               * ((length(text) * 7) % 12 + 4) * 3 AS npx
        |           FROM documents),
        |pos AS (SELECT doc_id, text, L, unnest(range(0, npx)) AS k
        |        FROM m),
        |cnts AS (SELECT doc_id,
        |                (((CASE WHEN L = 0 THEN 0
        |                   ELSE ascii(substr(text, (k % L) + 1, 1)) END) * 7
        |                  + k * 13) % 256) // 16 AS bucket,
        |                count(*) AS cnt
        |         FROM pos GROUP BY 1, 2),
        |norms AS (SELECT d.doc_id AS doc_id,
        |                 greatest(sqrt(coalesce(sum(cnt * cnt), 0)::DOUBLE),
        |                          1e-9) AS norm
        |          FROM documents d
        |          LEFT JOIN cnts c ON c.doc_id = d.doc_id
        |          GROUP BY 1),
        |grid AS (SELECT d.doc_id, b.bucket
        |         FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) b),
        |comps AS (SELECT g.doc_id, g.bucket,
        |                 floor(((coalesce(c.cnt, 0) / n.norm)::FLOAT)::DOUBLE
        |                       * 1e6)::BIGINT AS comp_micro
        |          FROM grid g
        |          JOIN norms n ON n.doc_id = g.doc_id
        |          LEFT JOIN cnts c ON c.doc_id = g.doc_id
        |                          AND c.bucket = g.bucket)
        |SELECT c.doc_id AS doc_id, 16::INT AS dim,
        |       floor(n.norm * 1000)::BIGINT AS norm_milli,
        |       string_agg(comp_micro::VARCHAR, ',' ORDER BY c.bucket)
        |         AS embedding_csv
        |FROM comps c JOIN norms n ON n.doc_id = c.doc_id
        |GROUP BY c.doc_id, n.norm
        |ORDER BY c.doc_id""".stripMargin,
    "q42_dup_clusters" -> q42Sql,
    // q71 composes q42's recursive-CTE oracle: group = cluster label (or
    // self), md5 bucket on the GROUP key, 80/10/10 cut — the leakage
    // property (same cluster ⇒ same split) holds by construction in both
    // engines, so the hash gate checks the whole assignment.
    "q71_leakage_split" ->
      s"""WITH cc AS (SELECT * FROM ($q42Sql) t),
         |b AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
         |s AS (SELECT doc_id, grp,
         |             ('0x' || substr(md5('split:' || grp::VARCHAR),
         |                             1, 8))::BIGINT % 100 AS bucket
         |      FROM b)
         |SELECT doc_id, grp, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'validation'
         |            ELSE 'test' END AS split
         |FROM s ORDER BY doc_id""".stripMargin,
    "q52_decontaminate" -> q52Sql,
    // q79: snapshot B derives from the same rules, diff = full-outer
    // join on content hashes, unchanged rows dropped.
    "q79_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
        |b AS (SELECT doc_id,
        |             md5(CASE WHEN doc_id % 10 = 3
        |                      THEN text || ' updated v2' ELSE text END)
        |               AS new_md5
        |      FROM documents WHERE doc_id % 10 <> 7
        |      UNION ALL
        |      SELECT -(doc_id + 1), md5(text) FROM documents
        |      WHERE doc_id % 10 = 1),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |             old_md5, new_md5
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |       CASE WHEN new_md5 IS NULL THEN 'removed'
        |            WHEN old_md5 IS NULL THEN 'added'
        |            ELSE 'modified' END AS change,
        |       coalesce(old_md5, '') AS old_md5,
        |       coalesce(new_md5, '') AS new_md5
        |FROM j
        |WHERE old_md5 IS NULL OR new_md5 IS NULL OR old_md5 <> new_md5
        |ORDER BY doc_id""".stripMargin,
    // q80: the oracle shingles snapshot B FROM SCRATCH (bdocs = q79's B
    // derivation piped through the shared shingle CTE), while the Spark
    // side reads the incrementally refreshed artifact — equality proves
    // the delta-applied table identical to a full rebuild.
    "q80_incremental_refresh" ->
      (shingleCteB +
        "\nSELECT doc_id, count(*) AS n_shingles FROM sh" +
        "\nGROUP BY doc_id ORDER BY doc_id"),
    // q83: snapshot B's signatures from scratch (the q18 signature CTEs
    // over the B derivation) — the Spark side reads the CHAINED refresh
    // (base signature table + refreshed-shingle delta recompute).
    "q83_signature_refresh" ->
      (shingleCteB + ",\n" + sigCtes + "\n" +
        "SELECT doc_id, array_to_string(sig, ',') AS sig_csv FROM sigarr" +
        "\nORDER BY doc_id"),
    // q99: snapshot B's contamination FROM SCRATCH — the shared
    // B-derivation shingle chain, bench set = ids ≡ 0 (mod 20) (the
    // negative re-add namespace can never be ≡ 0 mod 20: re-added ids
    // end in 1, so -(id+1) ends in 2), corpus side joined and counted.
    "q99_contam_refresh" ->
      (shingleCteB +
        ",\nbench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)\n" +
        "SELECT doc_id, count(*) AS contaminated_shingles\n" +
        "FROM sh JOIN bench USING (s) WHERE doc_id % 20 <> 0\n" +
        "GROUP BY doc_id ORDER BY doc_id"),
    // q98: snapshot B's doc features FROM SCRATCH — tokenize the B
    // derivation and replay token_cnt + the q24 quality formula
    // (fixed-order double expression, bit-identical in both engines);
    // the Spark side reads the incrementally refreshed artifact.
    "q98_docfeat_refresh" ->
      """WITH bdocs AS (
        |  SELECT doc_id, source, lang,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT -(doc_id + 1), source, lang, text FROM documents
        |  WHERE doc_id % 10 = 1),
        |toksb AS (
        |  SELECT doc_id, source, lang, text, list_filter(list_transform(
        |           string_split_regex(lower(text), '[^a-z0-9]+'),
        |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
        |  FROM bdocs)
        |SELECT doc_id, source, lang, len(t) AS token_cnt,
        |       least(len(t) / 100.0, 1.0) * 0.4
        |       + (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        |          / greatest(length(text), 1)) * 0.4
        |       + (len(list_filter(t, x -> list_contains(
        |            ['the','a','of','and','to','in','is','it','that','for'],
        |            x))) / greatest(len(t), 1)) * 0.2 AS quality
        |FROM toksb ORDER BY doc_id""".stripMargin,
    // q97: the deterministic shuffle replayed — same md5 order key,
    // same top-32-bit shard placement, same within-shard rank.
    "q97_shard_order" ->
      """WITH k AS (SELECT doc_id,
        |                  md5('epoch0:' || doc_id) AS key FROM documents),
        |b AS (SELECT doc_id, key,
        |             (('0x' || substr(key, 1, 8))::BIGINT % 8)::INT AS shard
        |      FROM k)
        |SELECT doc_id, shard,
        |       (row_number() OVER (PARTITION BY shard ORDER BY key)
        |        - 1)::BIGINT AS pos
        |FROM b ORDER BY doc_id""".stripMargin,
    // q96: the BPE merge loop REPLAYED in DuckDB — 25 chained CTE
    // rounds, each computing the weighted adjacent-pair counts over the
    // previous round's segmentation, picking the argmax under the same
    // deterministic tie-break (freq DESC, then pair asc), and applying
    // the merge with window-function run parity (greedy left-to-right:
    // within a run of overlapping candidates, even offsets merge —
    // "a a a a" + (a,a) → "aa aa" — exactly the Spark fold's pending-
    // symbol behavior). Any divergence in one round's choice cascades
    // into every later row, so the hash gate pins the trajectory.
    "q96_bpe_learn" -> {
      val rounds = TextQueries.BpeUnits.length
      val sb = new StringBuilder
      sb.append(
        """WITH words AS (
          |  SELECT w AS word, count(*) AS cnt FROM (
          |    SELECT substr(x, 1, 255) AS w FROM (
          |      SELECT unnest(regexp_split_to_array(lower(text),
          |                    '[^a-z0-9]+')) AS x
          |      FROM documents) r
          |    WHERE length(x) > 0) t
          |  GROUP BY w),
          |seg0 AS MATERIALIZED (SELECT word, cnt,
          |           [substr(word, x, 1) for x in range(1, length(word) + 1)]
          |             AS syms
          |         FROM words)""".stripMargin)
      for (k <- 1 to rounds) {
        val p = k - 1
        sb.append(s""",
          |p$k AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
          |               sum(cnt) AS freq
          |        FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
          |              FROM seg$p) s
          |        GROUP BY 1, 2),
          |b$k AS MATERIALIZED (SELECT lhs, rhs, freq FROM p$k
          |        ORDER BY freq DESC, lhs, rhs LIMIT 1),
          |e$k AS (SELECT word, cnt, i, syms[i] AS s, syms[i + 1] AS nxt
          |        FROM (SELECT word, cnt, syms,
          |                     unnest(range(1, len(syms) + 1)) AS i
          |              FROM seg$p) s),
          |c$k AS MATERIALIZED (SELECT e.*, CASE WHEN e.s = b.lhs AND e.nxt = b.rhs
          |                         THEN 1 ELSE 0 END AS cand
          |        FROM e$k e CROSS JOIN b$k b),
          |st$k AS MATERIALIZED (SELECT word, i FROM (
          |           SELECT word, i, row_number() OVER (
          |             PARTITION BY word, grp ORDER BY i) - 1 AS off
          |           FROM (SELECT word, i, i - row_number() OVER (
          |                   PARTITION BY word ORDER BY i) AS grp
          |                 FROM c$k WHERE cand = 1) g) z
          |         WHERE off % 2 = 0),
          |seg$k AS MATERIALIZED (SELECT c.word, min(c.cnt) AS cnt,
          |                 list(CASE WHEN s1.i IS NOT NULL THEN c.s || c.nxt
          |                           ELSE c.s END ORDER BY c.i) AS syms
          |          FROM c$k c
          |          LEFT JOIN st$k s1 ON s1.word = c.word AND s1.i = c.i
          |          LEFT JOIN st$k s0 ON s0.word = c.word AND s0.i = c.i - 1
          |          WHERE s0.i IS NULL
          |          GROUP BY c.word)""".stripMargin)
      }
      sb.append("\n" + (1 to rounds).map(k =>
          s"SELECT $k AS merge_rank, lhs, rhs, lhs || rhs AS merged, " +
            s"freq::BIGINT AS freq FROM b$k")
        .mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank"))
      sb.toString
    },
    // q95: snapshot B's span features FROM SCRATCH — tokenize the B
    // derivation and replay the positional census (every token
    // position; the q88 60-bit md5 gram key at full-width starts),
    // digested per doc with integer-exact aggregates including an
    // order-independent bit_xor positional checksum. The Spark side
    // reads the incrementally refreshed artifact, so equality proves
    // the delta-applied census identical to a full rebuild.
    "q95_span_refresh" -> {
      val w = DedupQueries.SpanTokens
      s"""WITH bdocs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 7
         |  UNION ALL
         |  SELECT -(doc_id + 1), text FROM documents WHERE doc_id % 10 = 1),
         |toksb AS (
         |  SELECT doc_id, list_filter(list_transform(
         |           string_split_regex(lower(text), '[^a-z0-9]+'),
         |           x -> substr(x, 1, 255)), x -> length(x) > 0) AS t
         |  FROM bdocs),
         |tpos AS (
         |  SELECT doc_id, (i - 1)::BIGINT AS pos, t[i] AS w,
         |         CASE WHEN i <= len(t) - ${w - 1} THEN
         |           ('0x' || substr(md5(array_to_string(t[i:i+${w - 1}], ' ')),
         |                           1, 15))::BIGINT
         |         END AS g
         |  FROM (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t
         |        FROM toksb WHERE len(t) >= 1) u)
         |SELECT doc_id, count(*)::BIGINT AS n_pos, count(g)::BIGINT AS n_grams,
         |       sum(length(w))::BIGINT AS len_sum,
         |       bit_xor(g + pos)::BIGINT AS g_xor,
         |       min(g)::BIGINT AS g_min
         |FROM tpos GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // q81: plain join over the same deterministic skewed derivation —
    // the salted join must produce identical aggregates.
    "q81_skew_join" ->
      """WITH hot AS (SELECT min(c_custkey) AS hot_key FROM customer),
        |sk AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT -(o_orderkey + 1), (SELECT hot_key FROM hot), o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT c_mktsegment,
        |       round(sum(o_totalprice), 2) AS total_revenue,
        |       count(*) AS order_cnt
        |FROM sk JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // q82: the partitioned table stores exactly the events rows (plus
    // the derived day column), so filtering the raw table to the min
    // day reproduces the pruned scan's input.
    "q82_partition_pruning" ->
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
        |                  event_type, value
        |           FROM events)
        |SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM e WHERE d = (SELECT min(d) FROM e)
        |GROUP BY d, event_type ORDER BY event_type""".stripMargin,
    // q75: the handoff table IS q50's curated corpus; the bucketed write
    // changes layout, never contents — so the oracle is q50's rows joined
    // with q52's contamination counts (0 where uncontaminated).
    "q75_bucketed_handoff" ->
      s"""SELECT c.doc_id AS doc_id, c.token_cnt AS token_cnt,
         |       c.quality AS quality,
         |       coalesce(s.contaminated_shingles, 0) AS contaminated_shingles
         |FROM ($q50Sql) c LEFT JOIN ($q52Sql) s USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    // q66's bloom prefilter is semantics-free (exact verify drops every
    // false positive), so its oracle IS q52's.
    "q66_bloom_decontaminate" -> q52Sql,
    // q72: the two-phase zipWithIndex must equal the naive global
    // row_number — dense, contiguous, doc_id-ordered, 0-based.
    "q72_global_index" ->
      s"""$tokListCte,
         |q AS (SELECT doc_id,
         |        least(len(t) / 100.0, 1.0) * 0.4
         |        + (length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
         |           / greatest(length(text), 1)) * 0.4
         |        + (len(list_filter(t, x -> list_contains(
         |             ['the','a','of','and','to','in','is','it','that','for'],
         |             x))) / greatest(len(t), 1)) * 0.2 AS quality
         |      FROM toks)
         |SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS seq
         |FROM q WHERE quality >= 0.5 ORDER BY doc_id""".stripMargin,
    "q73_epoch_mix" ->
      s"""WITH w AS (SELECT doc_id, lang,
         |             CASE lang WHEN 'en' THEN 225 WHEN 'es' THEN 100
         |                       WHEN 'de' THEN 50 WHEN 'fr' THEN 25
         |                       WHEN 'zh' THEN 150 ELSE 100 END AS pct,
         |             ('0x' || substr(md5('mix:' || lang || ':'
         |                                 || doc_id::VARCHAR),
         |                             1, 8))::BIGINT % 100 AS bucket
         |           FROM documents),
         |c AS (SELECT doc_id, lang,
         |             pct // 100
         |             + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END
         |               AS copies
         |      FROM w)
         |SELECT doc_id, lang, epoch::BIGINT AS epoch FROM (
         |  SELECT doc_id, lang,
         |         unnest(generate_series(0, copies - 1)) AS epoch
         |  FROM c WHERE copies > 0) e
         |ORDER BY doc_id, epoch""".stripMargin,
    "q53_hash_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |             ('0x' || substr(md5(lang || ':' || doc_id::VARCHAR),
        |                             1, 8))::BIGINT % 100 AS bucket
        |           FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
        |ORDER BY doc_id""".stripMargin,
    "q54_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+'))::INT AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^ ]+'))::INT AS n_urls,
        |  len(regexp_extract_all(text, '[0-9][0-9][0-9]+'))::INT AS n_nums,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '<EMAIL>', 'g'),
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[0-9][0-9][0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_repetition" ->
      s"""$tokListCte,
         |u AS (SELECT doc_id, w, count(*) AS c
         |      FROM (SELECT doc_id, unnest(t) AS w FROM toks) q
         |      GROUP BY 1, 2),
         |uni AS (SELECT doc_id, max(c) AS top_tok_cnt,
         |               sum(c)::BIGINT AS n_toks
         |        FROM u GROUP BY 1),
         |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
         |             FROM toks) q),
         |big AS (SELECT doc_id, count(*) AS bigrams,
         |               count(DISTINCT g) AS distinct_bigrams
         |        FROM bg GROUP BY 1)
         |SELECT d.doc_id AS doc_id,
         |       coalesce(n_toks, 0) AS n_toks,
         |       coalesce(top_tok_cnt, 0) AS top_tok_cnt,
         |       coalesce(bigrams, 0) AS bigrams,
         |       coalesce(distinct_bigrams, 0) AS distinct_bigrams
         |FROM documents d
         |LEFT JOIN uni USING (doc_id) LEFT JOIN big USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q74: the oracle reproduces the greedy longest-match walk with a
    // recursive CTE over DISTINCT words: per (word, position) the longest
    // matching vocab unit (LEFT JOIN + max, 1-char fallback), then a
    // cursor walk anchored at position 1. The vocab list interpolates
    // from TextQueries.BpeUnits so the two engines cannot drift.
    "q74_bpe_tokens" -> {
      val vocabList = TextQueries.BpeUnits.map(u => s"'$u'").mkString(", ")
      s"""${tokListCte.replaceFirst("WITH toks", "WITH RECURSIVE toks")},
         |tr AS (SELECT doc_id, unnest(t) AS w FROM toks),
         |words AS (SELECT DISTINCT w FROM tr),
         |vocab AS (SELECT unnest([$vocabList]) AS v),
         |pos AS (SELECT w, unnest(range(1, length(w)+1)) AS i FROM words),
         |m AS (SELECT p.w AS w, p.i AS i, coalesce(max(length(v.v)), 1) AS ml
         |      FROM pos p LEFT JOIN vocab v
         |        ON substr(p.w, p.i::INT, length(v.v)) = v.v
         |      GROUP BY p.w, p.i),
         |walk(w, nxt, cnt) AS (
         |  SELECT w, 1::BIGINT, 0::BIGINT FROM words
         |  UNION ALL
         |  SELECT m.w, s.nxt + m.ml, s.cnt + 1
         |  FROM walk s JOIN m ON m.w = s.w AND m.i = s.nxt),
         |pieces AS (SELECT w, max(cnt) AS pieces FROM walk GROUP BY w),
         |agg AS (SELECT doc_id, count(*) AS norm_tokens,
         |               sum(pieces)::BIGINT AS bpe_tokens
         |        FROM tr JOIN pieces USING (w) GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |       coalesce(norm_tokens, 0) AS norm_tokens,
         |       coalesce(bpe_tokens, 0) AS bpe_tokens
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    "q111_bigram_lm" ->
      s"""$tokListCte,
         |tp AS (SELECT doc_id, unnest(t) AS w,
         |              generate_subscripts(t, 1) - 1 AS pos FROM toks),
         |bgr AS MATERIALIZED (
         |  SELECT a.doc_id, a.w AS w1, b.w AS w2
         |  FROM tp a JOIN tp b ON b.doc_id = a.doc_id
         |                     AND b.pos = a.pos + 1),
         |bc AS (SELECT w1, w2, count(*) AS bc FROM bgr GROUP BY 1, 2),
         |hist AS (SELECT w1, count(*) AS hc FROM bgr GROUP BY 1),
         |vocab AS (SELECT count(DISTINCT w) AS v FROM tp),
         |lp AS (SELECT g.doc_id,
         |         floor(ln((hc + (SELECT v FROM vocab))::DOUBLE
         |                  / (bc + 1)) * 1e6)::BIGINT AS lpm
         |       FROM bgr g JOIN bc USING (w1, w2) JOIN hist USING (w1)),
         |agg AS (SELECT doc_id, sum(lpm)::BIGINT AS sum_logp_micro,
         |               count(*) AS n_bigrams
         |        FROM lp GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |       coalesce(sum_logp_micro, 0) AS sum_logp_micro,
         |       coalesce(n_bigrams, 0) AS n_bigrams
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q56_lm_score" ->
      s"""$tokListCte,
         |tr AS (SELECT doc_id, unnest(t) AS w FROM toks),
         |tf AS (SELECT w, count(*) AS cnt FROM tr GROUP BY w),
         |tot AS (SELECT sum(cnt)::DOUBLE AS total FROM tf),
         |lp AS (SELECT doc_id,
         |         floor(ln((SELECT total FROM tot) / cnt) * 1e6)::BIGINT
         |           AS lpm
         |       FROM tr JOIN tf USING (w)),
         |agg AS (SELECT doc_id, sum(lpm)::BIGINT AS sum_logp_micro,
         |               count(*) AS n_toks
         |        FROM lp GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id,
         |       coalesce(sum_logp_micro, 0) AS sum_logp_micro,
         |       coalesce(n_toks, 0) AS n_toks
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // q112 shares q30's session rule (>= 30-minute gap, lag over
    // (ts, event_id)); conversion is non-strict min(view) <= max(click)
    "q112_session_funnel" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_type, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM d),
        |per AS (
        |  SELECT user_id, sess, count(*) AS n_ev,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |         max(CASE WHEN event_type = 'click' THEN ts END) AS lc
        |  FROM s GROUP BY user_id, sess)
        |SELECT user_id, count(*) AS n_sessions,
        |       sum(n_ev)::BIGINT AS n_events,
        |       sum(CASE WHEN fv IS NOT NULL AND fv <= lc
        |                THEN 1 ELSE 0 END)::BIGINT AS conv_sessions
        |FROM per GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // q113 composes q42's recursive-CTE cluster oracle with the token
    // counts; keeper = row_number over (token_cnt DESC, doc_id ASC) —
    // the same (max tokens, min id) rule as the Spark max_by struct.
    "q113_cluster_canonical" ->
      s"""WITH cc AS (SELECT * FROM ($q42Sql) q),
         |tok AS (
         |  SELECT doc_id, len(list_filter(list_transform(
         |      string_split_regex(lower(text), '[^a-z0-9]+'),
         |      x -> substr(x, 1, 255)), x -> length(x) > 0)) AS token_cnt
         |  FROM documents),
         |m AS (SELECT cc.cluster, cc.doc_id, tok.token_cnt
         |      FROM cc JOIN tok USING (doc_id)),
         |k AS (SELECT cluster, doc_id AS keep FROM (
         |        SELECT cluster, doc_id, row_number() OVER (
         |          PARTITION BY cluster
         |          ORDER BY token_cnt DESC, doc_id ASC) AS rn
         |        FROM m) r WHERE rn = 1)
         |SELECT m.cluster AS cluster, k.keep AS keep,
         |       count(*) AS n_members,
         |       (sum(m.token_cnt) - max(m.token_cnt))::BIGINT
         |         AS evicted_tokens
         |FROM m JOIN k USING (cluster)
         |GROUP BY m.cluster, k.keep
         |ORDER BY cluster""".stripMargin,
    // q114/q115 oracles replay the whole suffix construction
    // independently: their OWN suffix sort (DuckDB's collation — the
    // adjacent-pair LCP theorem is collation-agnostic, see SuffixQueries
    // scaladoc), their own LCP (max k with equal k-prefixes, bounded by
    // both lengths so two equal short suffixes score their length, not
    // the cap). The shared per-doc CTE is [[suffixPerDocSql]].
    "q114_suffix_repeats" ->
      s"""SELECT doc_id, max_shared FROM ($suffixPerDocSql) t
         |WHERE max_shared >= 16
         |ORDER BY doc_id""".stripMargin,
    "q115_source_dup_profile" ->
      s"""WITH per AS (SELECT * FROM ($suffixPerDocSql) t)
         |SELECT d.source AS source, count(*) AS n_docs,
         |       sum(CASE WHEN p.max_shared >= 32 THEN 1 ELSE 0 END)::BIGINT
         |         AS dup_docs,
         |       sum(coalesce(p.max_shared, 0))::BIGINT AS sum_shared
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |GROUP BY d.source
         |ORDER BY source""".stripMargin,
    "q116_suffix_delta" ->
      s"""WITH pa AS (SELECT * FROM ($suffixPerDocSql) t),
         |pb AS (SELECT * FROM ($suffixPerDocSqlB) t)
         |SELECT coalesce(pa.doc_id, pb.doc_id) AS doc_id,
         |       coalesce(pa.max_shared, 0) AS prev_shared,
         |       coalesce(pb.max_shared, 0) AS new_shared
         |FROM pa FULL OUTER JOIN pb ON pa.doc_id = pb.doc_id
         |WHERE coalesce(pa.max_shared, 0) <> coalesce(pb.max_shared, 0)
         |ORDER BY doc_id""".stripMargin,
    // q117 shares q30's session CTE; converted is q112's non-strict
    // funnel rule per session (NULL comparison reads 0 on both engines).
    // The null filters mirror q112's oracle EXPLICITLY: the streaming
    // side drops null-ts rows (watermark/session_window) and never
    // groups a null user_id, so without the filters the oracle would
    // only agree because the events fixture happens to carry no nulls.
    "q117_stream_session_funnel" -> sessionFunnelOracle,
    // q142 is q117 in APPEND mode with watermark-evicted state: after
    // the final flush its output is exactly the Complete twin's, so the
    // SAME oracle text gates both (eviction itself is spec-pinned:
    // numRowsRemoved > 0).
    "q142_append_session_funnel" -> sessionFunnelOracle,
    // q118's oracle finds each position's nearest other-doc suffix via
    // the gaps-and-islands run trick (same-doc rows form maximal runs;
    // the rows just outside a run are other-doc by maximality), takes
    // the larger LCP of the two, and unions the intervals per doc with
    // the running-max window — fully independent of the Spark scan's
    // two-candidate state machinery.
    "q118_dup_coverage" ->
      s"""$suffixCovSql,
         |per AS (SELECT doc_id,
         |               sum(greatest(0, e - greatest(coalesce(pmax, 0), pos)))
         |                 ::BIGINT AS dup_chars
         |        FROM wz GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, length(d.text)::BIGINT AS n_chars,
         |       coalesce(p.dup_chars, 0) AS dup_chars
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q119 shares q118's coverage CTE; islands via the same running-max
    // window (a new span starts where a position clears the max end)
    "q120_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |             max(ts) AS hi
        |      FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id,
        |                unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |                  AS ts
        |         FROM b)
        |SELECT g.user_id,
        |       strftime(g.ts, '%Y-%m-%d %H:%M:%S') AS slot,
        |       e.event_id AS last_event_id, e.value AS last_value
        |FROM grid g ASOF LEFT JOIN ev e
        |  ON g.user_id = e.user_id AND g.ts >= e.ts
        |ORDER BY g.user_id, slot""".stripMargin,
    // q122 = q120's oracle + the staleness post-predicate on DuckDB's
    // ASOF match (its join keeps the matched right ts, so the CASE
    // reads it directly; an unmatched slot is null either way). The
    // inclusive bound mirrors the engine's `gap <= tolerance` rule.
    "q122_resample_tolerance" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
        |             max(ts) AS hi
        |      FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id,
        |                unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
        |                  AS ts
        |         FROM b)
        |SELECT g.user_id,
        |       strftime(g.ts, '%Y-%m-%d %H:%M:%S') AS slot,
        |       CASE WHEN g.ts - e.ts <= INTERVAL 2 HOUR
        |            THEN e.event_id END AS last_event_id,
        |       CASE WHEN g.ts - e.ts <= INTERVAL 2 HOUR
        |            THEN e.value END AS last_value
        |FROM grid g ASOF LEFT JOIN ev e
        |  ON g.user_id = e.user_id AND g.ts >= e.ts
        |ORDER BY g.user_id, slot""".stripMargin,
    "q119_trim_plan" ->
      s"""$suffixCovSql,
         |isl AS (SELECT doc_id, pos, e,
         |               sum(CASE WHEN pos > coalesce(pmax, 0)
         |                        THEN 1 ELSE 0 END)
         |                 OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |        FROM wz)
         |SELECT doc_id, min(pos)::BIGINT AS span_start,
         |       max(e)::BIGINT AS span_end
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    // q121 shares q118/q119's coverage CTE, rebuilds each doc from the
    // KEPT segments (the gap before each span + the tail after the
    // last), and hash-checks the md5 of the surviving text
    "q121_suffix_trimmed" ->
      s"""$suffixCovSql,
         |isl AS (SELECT doc_id, pos, e,
         |               sum(CASE WHEN pos > coalesce(pmax, 0)
         |                        THEN 1 ELSE 0 END)
         |                 OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |        FROM wz)
         |, spans AS (SELECT doc_id, min(pos)::BIGINT AS s,
         |                   max(e)::BIGINT AS e2
         |            FROM isl GROUP BY doc_id, island),
         |segs AS (
         |  SELECT doc_id,
         |         coalesce(lag(e2) OVER (PARTITION BY doc_id ORDER BY s),
         |                  1) AS ks,
         |         s AS ke
         |  FROM spans
         |  UNION ALL
         |  SELECT doc_id, max(e2) AS ks, NULL AS ke
         |  FROM spans GROUP BY doc_id),
         |sv AS (
         |  SELECT d.doc_id,
         |         string_agg(substr(d.text, g.ks::INT,
         |             (coalesce(g.ke, length(d.text) + 1) - g.ks)::INT),
         |           '' ORDER BY g.ks) AS s
         |  FROM documents d JOIN segs g USING (doc_id)
         |  GROUP BY d.doc_id)
         |SELECT d.doc_id,
         |       length(d.text)::BIGINT AS n_chars,
         |       length(coalesce(v.s, d.text))::BIGINT AS kept_chars,
         |       (length(d.text) - length(coalesce(v.s, d.text)))::BIGINT
         |         AS removed_chars,
         |       md5(coalesce(v.s, d.text)) AS trimmed_md5
         |FROM documents d LEFT JOIN sv v USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q140 recomputes the WHOLE composed pipeline from the documents
    // table: q121's trim replay -> tokenize the TRIMMED text -> q136's
    // MAD gate -> q139's deciles over the survivors -> q127's sample
    // window. The multiply-referenced CTEs are MATERIALIZED (a CTE
    // DuckDB inlines re-expands its whole lineage per reference — with
    // the suffix replay underneath, that's exponential).
    "q140_curation_v3" ->
      s"""$suffixCovSql,
         |isl AS (SELECT doc_id, pos, e,
         |               sum(CASE WHEN pos > coalesce(pmax, 0)
         |                        THEN 1 ELSE 0 END)
         |                 OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |        FROM wz),
         |spans AS (SELECT doc_id, min(pos)::BIGINT AS s,
         |                 max(e)::BIGINT AS e2
         |          FROM isl GROUP BY doc_id, island),
         |segs AS (
         |  SELECT doc_id,
         |         coalesce(lag(e2) OVER (PARTITION BY doc_id ORDER BY s),
         |                  1) AS ks,
         |         s AS ke
         |  FROM spans
         |  UNION ALL
         |  SELECT doc_id, max(e2) AS ks, NULL AS ke
         |  FROM spans GROUP BY doc_id),
         |sv AS (
         |  SELECT d.doc_id,
         |         string_agg(substr(d.text, g.ks::INT,
         |             (coalesce(g.ke, length(d.text) + 1) - g.ks)::INT),
         |           '' ORDER BY g.ks) AS s
         |  FROM documents d JOIN segs g USING (doc_id)
         |  GROUP BY d.doc_id),
         |tv AS MATERIALIZED (
         |  SELECT d.doc_id, d.lang,
         |         len(list_filter(list_transform(
         |           string_split_regex(lower(coalesce(v.s, d.text)),
         |                              '[^a-z0-9]+'),
         |           x -> substr(x, 1, 255)), x -> length(x) > 0))::BIGINT
         |           AS v
         |  FROM documents d LEFT JOIN sv v USING (doc_id)),
         |n AS (SELECT lang, count(*) AS n FROM tv GROUP BY 1),
         |rv AS (SELECT tv.*, row_number() OVER (PARTITION BY lang
         |                                       ORDER BY v) AS rn
         |       FROM tv),
         |med AS (SELECT rv.lang, rv.v AS med FROM rv JOIN n USING (lang)
         |        WHERE rn = (n * 50 + 99) // 100),
         |dv AS MATERIALIZED (
         |  SELECT tv.doc_id, tv.lang, tv.v, abs(tv.v - med.med) AS dev
         |  FROM tv JOIN med USING (lang)),
         |rd AS (SELECT dv.*, row_number() OVER (PARTITION BY lang
         |                                       ORDER BY dev) AS rn
         |       FROM dv),
         |mad AS (SELECT lang, dev AS mad FROM rd JOIN n USING (lang)
         |        WHERE rn = (n * 50 + 99) // 100),
         |sur AS MATERIALIZED (
         |  SELECT dv.doc_id, dv.lang, dv.v FROM dv JOIN mad USING (lang)
         |  WHERE dev <= 2 * mad.mad),
         |n2 AS (SELECT lang, count(*) AS n FROM sur GROUP BY 1),
         |rv2 AS (SELECT sur.*, row_number() OVER (PARTITION BY lang
         |                                         ORDER BY v) AS rn
         |        FROM sur),
         |p(pct) AS (VALUES (10), (20), (30), (40), (50), (60), (70),
         |                  (80), (90)),
         |th AS (SELECT rv2.lang, p.pct, rv2.v AS t
         |       FROM rv2 JOIN n2 USING (lang)
         |       JOIN p ON rv2.rn = (n2.n * p.pct + 99) // 100),
         |dec AS (SELECT sur.doc_id, sur.lang, sur.v,
         |               (1 + sum(CASE WHEN sur.v > th.t THEN 1 ELSE 0
         |                        END))::BIGINT AS decile
         |        FROM sur JOIN th USING (lang)
         |        GROUP BY sur.doc_id, sur.lang, sur.v),
         |h AS (SELECT dec.*,
         |             ('0x' || substr(md5('exact:' || lang || ':' ||
         |                                 doc_id::VARCHAR), 1, 15))::BIGINT
         |               AS hv,
         |             CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS pct
         |      FROM dec),
         |r AS (SELECT h.*, row_number() OVER (PARTITION BY lang
         |                                     ORDER BY hv, doc_id) AS rk
         |      FROM h),
         |ns AS (SELECT lang, count(*) AS n_g FROM h GROUP BY 1)
         |SELECT r.doc_id, r.lang, r.v AS token_cnt, r.decile, r.hv
         |FROM r JOIN ns USING (lang)
         |WHERE rk <= (ns.n_g * pct + 99) // 100
         |ORDER BY doc_id""".stripMargin,
    // q149: the session CTE (q30/q117's) reduced to intervals, then the
    // direct overlap theta join per pair of DIFFERENT users — DuckDB's
    // IEJoin handles the two inequalities; the engine's binning must
    // reproduce it exactly.
    "q149_concurrent_sessions" ->
      """WITH d AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id
        |                ROWS UNBOUNDED PRECEDING) AS sess FROM d),
        |iv AS (SELECT user_id, sess, min(ts) AS s_ts, max(ts) AS e_ts
        |       FROM s GROUP BY 1, 2),
        |c AS (SELECT a.user_id, a.sess, a.s_ts,
        |             count(*) AS n_concurrent
        |      FROM iv a JOIN iv b
        |        ON a.user_id <> b.user_id
        |       AND a.s_ts <= b.e_ts AND b.s_ts <= a.e_ts
        |      GROUP BY 1, 2, 3)
        |SELECT iv.user_id,
        |       strftime(iv.s_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       coalesce(c.n_concurrent, 0) AS n_concurrent
        |FROM iv LEFT JOIN c USING (user_id, sess)
        |ORDER BY user_id, session_start""".stripMargin,
    // q148: q139's decile CTE + q128's key replay + the per-(lang,
    // decile) rank window — the oracle-side composition of the same
    // three primitives.
    "q148_balanced_mixture" ->
      (tokListCte + """,
        |v AS (SELECT doc_id, lang, len(t)::BIGINT AS v FROM toks),
        |n AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
        |rv AS (SELECT v.*, row_number() OVER (PARTITION BY lang
        |                                      ORDER BY v) AS rn
        |       FROM v),
        |p(pct) AS (VALUES (10), (20), (30), (40), (50), (60), (70),
        |                  (80), (90)),
        |th AS (SELECT rv.lang, p.pct, rv.v AS t
        |       FROM rv JOIN n USING (lang)
        |       JOIN p ON rv.rn = (n.n * p.pct + 99) // 100),
        |dec AS (SELECT v.doc_id, v.lang,
        |               (1 + sum(CASE WHEN v.v > th.t THEN 1 ELSE 0
        |                        END))::BIGINT AS decile
        |        FROM v JOIN th USING (lang)
        |        GROUP BY v.doc_id, v.lang, v.v),
        |w AS (SELECT dec.doc_id, dec.lang, dec.decile,
        |             1 + (substr(d.source, 4)::INT % 5) AS weight
        |      FROM dec JOIN documents d USING (doc_id)),
        |kk AS (SELECT *, list_max(list_transform(
        |         generate_series(1, weight),
        |         i -> md5('wsamp:' || doc_id::VARCHAR || ':' ||
        |                  i::VARCHAR))) AS sample_key
        |       FROM w),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang, decile
        |                ORDER BY sample_key DESC, doc_id) AS rk
        |      FROM kk)
        |SELECT lang, decile, rk::BIGINT AS rk, doc_id, weight, sample_key
        |FROM r WHERE rk <= 5 ORDER BY lang, decile, rk""".stripMargin),
    // q147: the same integer units on the oracle side — cents, percent,
    // and their exact product sums; floor division for the averages.
    "q147_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty,
        |       sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
        |         AS sum_base_c,
        |       sum(round(l_extendedprice * 100)::BIGINT *
        |           (100 - round(l_discount * 100)::BIGINT))::BIGINT
        |         AS sum_disc_e4,
        |       sum(round(l_extendedprice * 100)::BIGINT *
        |           (100 - round(l_discount * 100)::BIGINT) *
        |           (100 + round(l_tax * 100)::BIGINT))::BIGINT
        |         AS sum_charge_e6,
        |       (sum(round(l_quantity)::BIGINT) * 10000
        |          // count(*))::BIGINT AS avg_qty_e4,
        |       (sum(round(l_extendedprice * 100)::BIGINT)
        |          // count(*))::BIGINT AS avg_price_c,
        |       (sum(round(l_discount * 100)::BIGINT) * 100
        |          // count(*))::BIGINT AS avg_disc_e4,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-06-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q146: daily rollup -> window sum -> rank window (the oracle-side
    // formulation of the engine's bounded heap), ties pinned
    // (count desc, user asc).
    "q146_sliding_top_users" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, user_id, count(*) AS c
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |w AS (SELECT DISTINCT day AS window_end FROM daily),
        |u AS (SELECT w.window_end, d.user_id,
        |             sum(d.c)::BIGINT AS events_7d
        |      FROM w JOIN daily d
        |        ON d.day BETWEEN w.window_end - 6 AND w.window_end
        |      GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY window_end
        |                ORDER BY events_7d DESC, user_id) AS rk
        |      FROM u)
        |SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
        |       rk::BIGINT AS rk, user_id, events_7d
        |FROM r WHERE rk <= 10
        |ORDER BY window_end, rk""".stripMargin,
    // q141 replays the two-level bottom-k verbatim: per-day k smallest
    // (h, v) pairs, then the k smallest of each 7-day union of the
    // daily samples, then the ceil-rank order statistics — the sketch
    // algebra is deterministic, so the estimates hash-check.
    "q141_sliding_quantiles" ->
      """WITH base AS (
        |  SELECT ts::DATE AS day,
        |         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT
        |           AS h,
        |         round(value * 100)::BIGINT AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |rd AS (SELECT day, h, v,
        |              row_number() OVER (PARTITION BY day ORDER BY h, v)
        |                AS rn
        |       FROM base),
        |daily AS MATERIALIZED (SELECT day, h, v FROM rd WHERE rn <= 256),
        |w AS (SELECT DISTINCT day AS window_end FROM daily),
        |u AS (SELECT w.window_end, d.h, d.v
        |      FROM w JOIN daily d
        |        ON d.day BETWEEN w.window_end - 6 AND w.window_end),
        |rm AS (SELECT window_end, h, v,
        |              row_number() OVER (PARTITION BY window_end
        |                                 ORDER BY h, v) AS rn
        |       FROM u),
        |s AS (SELECT window_end, v FROM rm WHERE rn <= 256),
        |s2 AS (SELECT window_end, v,
        |              row_number() OVER (PARTITION BY window_end
        |                                 ORDER BY v) AS vr,
        |              count(*) OVER (PARTITION BY window_end) AS m
        |       FROM s),
        |t(pct) AS (VALUES (50), (95))
        |SELECT strftime(s2.window_end, '%Y-%m-%d') AS window_end, t.pct,
        |       s2.v AS value_cents_est, s2.m::BIGINT AS sample_n
        |FROM t JOIN s2 ON s2.vr = (s2.m * t.pct + 99) // 100
        |ORDER BY window_end, pct""".stripMargin,
    // q151: q137's oracle mirrored — RIGHT JOIN, key = the view side's
    // user (always present in a right outer), ordering leads with
    // view_id and pins click_id NULLS FIRST (DuckDB defaults NULLS
    // LAST). Null filters mirror the engine explicitly, as in q137.
    "q151_stream_right_outer_join" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'
        |             AND user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id AS v_user_id, ts AS view_ts,
        |             event_id AS view_id
        |      FROM events WHERE event_type = 'view'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT v_user_id AS user_id, click_id, view_id,
        |       strftime(click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
        |       strftime(view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        |FROM c RIGHT JOIN v ON c.user_id = v_user_id
        |  AND view_ts <= click_ts
        |  AND view_ts >= click_ts - INTERVAL 1 HOUR
        |ORDER BY user_id, view_id, click_id NULLS FIRST""".stripMargin,
    // q152: version 1 is the doc_id%5!=0 subset; versions 2 and 3 are
    // the full table (append accumulates; optimize changes no row).
    "q152_manifest_lifecycle" ->
      """WITH t AS (SELECT 1 AS version, doc_id, text FROM documents
        |           WHERE doc_id % 5 <> 0
        |           UNION ALL
        |           SELECT 2, doc_id, text FROM documents
        |           UNION ALL
        |           SELECT 3, doc_id, text FROM documents)
        |SELECT version, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id,
        |       sum(length(text))::BIGINT AS n_chars
        |FROM t GROUP BY version ORDER BY version""".stripMargin,
    // q153: q61's frame replay extended from energy to SPECTRA — the
    // engine runs the Goertzel recurrence, the oracle the direct DFT
    // sum with the integer twiddle patterns (cos pi*n/2 = [1,0,-1,0],
    // -sin = [0,-1,0,1], Nyquist = (-1)^n), so the two formulations
    // gate each other. Same ASCII precondition as q61.
    "q153_spectral_bins" ->
      """WITH w AS (
        |  SELECT doc_id, text, 2 * length(text) AS ns,
        |         unnest(range(0, least(16, greatest(1, (2 * length(text)) // 128))))
        |           AS win_idx
        |  FROM documents),
        |s AS (SELECT doc_id, text, win_idx::INT AS win_idx,
        |             (win_idx * 128)::INT AS sample_offset,
        |             least(256, ns - win_idx * 128)::INT AS n_samples
        |      FROM w),
        |sl AS (SELECT doc_id, win_idx, n_samples,
        |         [((ascii(substr(text, ((sample_offset + i) % length(text)) + 1, 1)) * 131
        |            + (sample_offset + i) * 71) % 65536 - 32768)::BIGINT
        |          for i in range(0, n_samples)] AS sm
        |       FROM s),
        |b AS (SELECT doc_id, win_idx, n_samples,
        |        coalesce(list_sum(sm), 0)::BIGINT AS dc,
        |        coalesce(list_sum([sm[i+1] *
        |            (CASE i % 4 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END)
        |          for i in range(0, len(sm))]), 0)::BIGINT AS re_q,
        |        coalesce(list_sum([sm[i+1] *
        |            (CASE i % 4 WHEN 1 THEN -1 WHEN 3 THEN 1 ELSE 0 END)
        |          for i in range(0, len(sm))]), 0)::BIGINT AS im_q,
        |        coalesce(list_sum([sm[i+1] *
        |            (CASE i % 2 WHEN 0 THEN 1 ELSE -1 END)
        |          for i in range(0, len(sm))]), 0)::BIGINT AS nyq
        |      FROM sl)
        |SELECT doc_id, win_idx, n_samples, dc,
        |       re_q, im_q,
        |       re_q * re_q + im_q * im_q AS pow_q,
        |       nyq * nyq AS pow_nyq
        |FROM b ORDER BY doc_id, win_idx""".stripMargin,
    // q154: the refreshed table must BE snapshot B's suffix table — the
    // oracle is the same independent SQL construction that gates
    // q116's B side (suffix order by row_number, adjacent cross-doc
    // LCP, per-doc max), so a refresh that misses an affected
    // partition, keeps a removed doc's pair, or drops a boundary pair
    // fires the hash gate.
    "q154_suffix_refresh" ->
      s"""SELECT doc_id, max_shared FROM ($suffixPerDocSqlB) t
         |WHERE max_shared >= 1 ORDER BY doc_id""".stripMargin,
    // q155: the merged manifest table must equal snapshot B — the
    // oracle replays the q79 recrawl rules directly (the same bdocs
    // shape the q116/q154 oracles use) and hashes doc_id + md5(text).
    "q155_manifest_merge" -> recrawlMergeOracle,
    // q156: the same lowest-fifth range recomputed straight from
    // parquet — integer bounds arithmetic identical on both engines.
    "q156_manifest_pruned_read" ->
      """WITH b AS (SELECT min(doc_id) AS lo,
        |                  min(doc_id) + (max(doc_id) - min(doc_id)) // 5
        |                    AS hi
        |           FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id,
        |       sum(length(text))::BIGINT AS n_chars
        |FROM documents, b
        |WHERE doc_id >= b.lo AND doc_id <= b.hi
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q157: the CDC-refreshed shingle table must equal snapshot B's
    // shingles FROM SCRATCH — q80's exact gate, now proving the
    // commit-range change set (not the snapshot diff) drove the refresh
    // to the identical table.
    "q157_cdc_refresh" ->
      (shingleCteB +
        "\nSELECT doc_id, count(*) AS n_shingles FROM sh" +
        "\nGROUP BY doc_id ORDER BY doc_id"),
    // q158: the evolved table is the v1 subset with a NULL lang (the
    // column didn't exist when those files were committed) plus the v2
    // subset carrying it.
    "q158_schema_evolution" -> schemaEvolutionOracle,
    // q159: version 1 is the doc_id%5!=0 subset count; versions 2 and 3
    // the full count (append accumulates; optimize changes no row) —
    // the engine answers from manifest stats alone, the oracle from the
    // rows themselves.
    "q159_manifest_stats" ->
      """WITH t AS (SELECT 1 AS version, count(*) AS n_rows
        |           FROM documents WHERE doc_id % 5 <> 0
        |           UNION ALL
        |           SELECT 2, count(*) FROM documents
        |           UNION ALL
        |           SELECT 3, count(*) FROM documents)
        |SELECT version, n_rows FROM t ORDER BY version""".stripMargin,
    // q160/q161: the three snapshots reconstructed as CTEs (v1 = the
    // raw table; v2 = the q79 recrawl; v3 = v2 minus positive %10==9
    // with positive %10==4 edited), then gaps-and-islands runs of
    // identical per-version hashes give each row's
    // [valid_from, valid_to) — the independent construction of the
    // history the engine folds from commit deltas. Edits never revert
    // a text, so equal hashes are always version-consecutive and the
    // island trick is exact. ONE oracle gates both maintenance paths
    // (in-memory fold q160, restartable version-tail runner q161) —
    // the q117/q142 shared-gate discipline.
    "q160_manifest_scd2" -> scd2HistoryOracle,
    "q161_manifest_tail_scd2" -> scd2HistoryOracle,
    // q178: the same SCD2 history, third maintenance path (catalog
    // transaction with crash injection) — one oracle gates all three.
    "q178_catalog_txn_scd2" -> scd2HistoryOracle,
    // q162: the q130 rectangle (same integer bounds arithmetic)
    // re-aggregated straight from parquet — per-row cent recovery
    // (round(x*100), exact on 2-decimal values) so the money sum is an
    // exact integer on both engines.
    "q162_zorder_manifest_rect" -> zRectOracle,
    // q188: the same rectangle, third surface (CALL system.zorder +
    // plain SQL WHERE over the catalog) — one oracle gates all three.
    "q188_sql_zorder_rect" -> zRectOracle,
    // q163: the same 5-probe IN straight off parquet; integer-exact
    // quantity sum (round-to-long per row) so addition order is moot.
    "q163_manifest_bloom_point" ->
      """WITH p AS (SELECT DISTINCT l_partkey FROM lineitem
        |           ORDER BY l_partkey LIMIT 5)
        |SELECT l_partkey, count(*) AS n_rows,
        |       sum(l_orderkey)::BIGINT AS sum_orderkey,
        |       sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty
        |FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM p)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    // q164: the one-shot batch aggregate the thrice-resumed stream
    // must land on exactly (cents discipline for the money sum).
    "q164_stream_manifest_source" ->
      """SELECT event_type, count(*) AS n_events,
        |       sum(user_id)::BIGINT AS sum_user_id,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q165: generated per-column UNION ALL twin of the profiler.
    "q165_table_profile" -> graft.operators.TableProfile.q165OracleSql,
    // q166: same fixed-point decay (integer shift weights, cents
    // domain), same deterministic tie-break.
    "q166_decayed_score" ->
      """WITH r AS (
        |  SELECT user_id, round(value * 100)::BIGINT AS cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) - 1
        |           AS age
        |  FROM events)
        |SELECT user_id, count(*) AS n_recent,
        |       sum(cents * (1::BIGINT << (31 - age)))::BIGINT AS score
        |FROM r WHERE age < 32
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q167: the same ten fixed-point rounds, unrolled (generated from
    // the same constants as the Spark loop).
    "q167_source_authority_rank" ->
      graft.operators.GraphRank.q167OracleSql,
    // q169: the filtered aggregate, once per stage — the two regimes
    // (merge-on-read, compacted) must be indistinguishable in rows.
    "q169_manifest_equality_delete" ->
      """WITH f AS (SELECT doc_id, lang FROM documents
        |           WHERE doc_id % 5 <> 2),
        |a AS (SELECT lang, count(*) AS n_docs,
        |             sum(doc_id)::BIGINT AS sum_doc_id
        |      FROM f GROUP BY lang)
        |SELECT '1_mor' AS stage, lang, n_docs, sum_doc_id FROM a
        |UNION ALL
        |SELECT '2_compacted', lang, n_docs, sum_doc_id FROM a
        |ORDER BY stage, lang""".stripMargin,
    // q170: the reconstructed-from-feed aggregate == the filtered one.
    "q170_manifest_change_feed" ->
      """SELECT lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM documents WHERE doc_id % 7 <> 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q171: last-writer-wins recomputed arithmetically — batch 2/3
    // updated event_id % 5 = 0 rows of the two earlier slices (+100).
    "q171_stream_upsert_sink" ->
      """WITH f AS (
        |  SELECT event_type, user_id,
        |         round(value * 100)::BIGINT +
        |         CASE WHEN event_id % 5 = 0 AND event_id % 3 < 2
        |              THEN 100 ELSE 0 END AS cents
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |       sum(user_id)::BIGINT AS sum_user_id,
        |       sum(cents)::BIGINT AS sum_cents
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q172: the BETWEEN formulation of the point-in-time join — each
    // fact matches at most one dimension row because intervals tile.
    "q172_point_in_time_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type IN ('signup', 'purchase')
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, value AS attr_value, ts,
        |             row_number() OVER w AS version,
        |             lead(ts) OVER w AS vt
        |      FROM u
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |d AS (SELECT * FROM v WHERE vt IS NULL OR vt > ts),
        |f AS (SELECT event_id, user_id, ts, event_type FROM events
        |      WHERE event_type NOT IN ('signup', 'purchase')
        |        AND user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT f.event_id, f.user_id, f.event_type,
        |       d.version, d.attr_value
        |FROM f LEFT JOIN d ON d.user_id = f.user_id
        |  AND d.ts <= f.ts AND (d.vt IS NULL OR f.ts < d.vt)
        |ORDER BY f.event_id""".stripMargin,
    // q173: the three cumulative slices, recomputed.
    "q173_history_time_travel" ->
      """WITH s AS (
        |  SELECT 1 AS version, doc_id FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, doc_id FROM documents WHERE doc_id % 3 <= 1
        |  UNION ALL
        |  SELECT 3, doc_id FROM documents)
        |SELECT version, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM s GROUP BY version ORDER BY version""".stripMargin,
    // q174: the final constrained state recomputed arithmetically —
    // all rows, order 1's prices bumped one cent by the merge.
    "q174_check_constraints" ->
      """WITH f AS (
        |  SELECT l_returnflag,
        |         round(l_extendedprice * 100)::BIGINT +
        |         CASE WHEN l_orderkey = 1 THEN 1 ELSE 0 END AS cents
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |       sum(cents)::BIGINT AS sum_price_cents
        |FROM f GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q175: the four SQL-served slices (three versions + the filtered
    // current table), recomputed from the slice definitions.
    "q175_sql_catalog" ->
      """WITH s AS (
        |  SELECT 1 AS version, doc_id FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, doc_id FROM documents WHERE doc_id % 3 <= 1
        |  UNION ALL
        |  SELECT 3, doc_id FROM documents
        |  UNION ALL
        |  SELECT 4, doc_id FROM documents WHERE doc_id % 2 = 0)
        |SELECT version, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM s GROUP BY version ORDER BY version""".stripMargin,
    // q176: the four-commit CDC history replayed — %7 deleted, %13
    // (non-%11) removed, %11 upserted with the '_x' lang suffix
    // (resurrecting deleted %11 keys).
    "q176_cdc_apply_sink" ->
      """WITH f AS (
        |  SELECT doc_id, lang || '_x' AS lang FROM documents
        |  WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents
        |  WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0 AND doc_id % 7 <> 0)
        |SELECT lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // q177: q164's oracle verbatim — the compactions must be invisible
    // to the skipping tail.
    "q177_tail_across_optimize" ->
      """SELECT event_type, count(*) AS n_events,
        |       sum(user_id)::BIGINT AS sum_user_id,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q197: q164's oracle verbatim — by-name and by-path resolution
    // must serve the identical exactly-once tail.
    "q197_stream_table_by_name" ->
      """SELECT event_type, count(*) AS n_events,
        |       sum(user_id)::BIGINT AS sum_user_id,
        |       sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q181: q159's oracle verbatim — the SQL metadata surface and the
    // Scala stats gate must agree.
    "q181_sql_metadata_tables" ->
      """WITH t AS (SELECT 1 AS version, count(*) AS n_rows
        |           FROM documents WHERE doc_id % 5 <> 0
        |           UNION ALL
        |           SELECT 2, count(*) FROM documents
        |           UNION ALL
        |           SELECT 3, count(*) FROM documents)
        |SELECT version, n_rows FROM t ORDER BY version""".stripMargin,
    // q182: the three SQL-written versions recomputed from the slice
    // arithmetic (v1 is the zero-row CREATE seed).
    "q182_sql_writes" ->
      """WITH s AS (
        |  SELECT 2 AS version, doc_id FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 3, doc_id FROM documents WHERE doc_id % 3 <= 1
        |  UNION ALL
        |  SELECT 4, doc_id FROM documents)
        |SELECT version, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM s GROUP BY version ORDER BY version""".stripMargin,
    // q183: the delete predicate's complement, straight from parquet.
    "q183_sql_delete" ->
      """SELECT lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM documents
        |WHERE NOT (doc_id % 7 = 0 OR lang = 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q184: the update's CASE arithmetic replayed over raw parquet.
    "q184_update_where" -> updateRedactionOracle,
    // q189: q184's oracle verbatim — the SQL UPDATE surface and the
    // Scala updateWhere must agree.
    "q189_sql_update" -> updateRedactionOracle,
    // q190: q155's oracle verbatim — SQL MERGE INTO and the Scala
    // mergeCoW must agree.
    "q190_sql_merge" -> recrawlMergeOracle,
    // q194: q158's oracle verbatim — SQL ALTER TABLE ADD COLUMN and
    // the Scala evolving append land the identical widened table.
    "q194_sql_add_column" -> schemaEvolutionOracle,
    // q200: both widening regimes replayed from raw parquet — the
    // narrow v1 slice and the mixed-width current table must carry
    // the SAME integer-exact numbers (widening is metadata, not data).
    "q200_type_widening" ->
      """WITH narrow AS (
        |  SELECT lang, length(text) AS len_i, (doc_id % 97) AS val_f
        |  FROM documents WHERE doc_id % 3 <> 0),
        |wide AS (
        |  SELECT lang, length(text) AS len_i, (doc_id % 97) AS val_f
        |  FROM documents WHERE doc_id % 3 = 0),
        |st AS (
        |  SELECT '1_narrow' AS stage, * FROM narrow
        |  UNION ALL
        |  SELECT '2_mixed', * FROM
        |    (SELECT * FROM narrow UNION ALL SELECT * FROM wide))
        |SELECT stage, lang, count(*) AS n_docs,
        |       sum(len_i)::BIGINT AS sum_len,
        |       sum(val_f)::BIGINT AS sum_val
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q199: the three WAP stages replayed from the rules — pre-publish
    // main (append visible, staged merge invisible), the branch audit
    // (merge applied, append invisible), the published union.
    "q199_branch_wap" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents),
        |neg AS (SELECT -(doc_id + 1) AS doc_id, lang, text
        |        FROM documents WHERE doc_id % 10 = 1),
        |aud AS (SELECT doc_id, lang,
        |               CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
        |                    ELSE text END AS text
        |        FROM base WHERE doc_id % 10 <> 7),
        |st AS (
        |  SELECT '1_main_pre' AS stage, * FROM
        |    (SELECT * FROM base UNION ALL SELECT * FROM neg)
        |  UNION ALL
        |  SELECT '2_branch_audit', * FROM aud
        |  UNION ALL
        |  SELECT '3_published', * FROM
        |    (SELECT * FROM aud UNION ALL SELECT * FROM neg))
        |SELECT stage, lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id,
        |       sum(length(text))::BIGINT AS n_chars
        |FROM st GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q198: the three evolution regimes replayed from raw parquet —
    // s1 = the post-add table (pre-evolution rows with NULL lang),
    // s2 = s1 plus the negative-namespace rows appended under the
    // renamed column, s3 = s2 with the dropped column masked (-1).
    "q198_field_id_evolution" ->
      """WITH s1 AS (
        |  SELECT doc_id, text, NULL AS lang FROM documents
        |  WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0),
        |s2 AS (
        |  SELECT * FROM s1
        |  UNION ALL
        |  SELECT -(doc_id + 1), text, lang FROM documents
        |  WHERE doc_id % 10 = 1)
        |SELECT '1_added' AS stage, coalesce(lang, 'pre_evolution')
        |         AS lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id,
        |       sum(length(text))::BIGINT AS n_chars
        |FROM s1 GROUP BY 2
        |UNION ALL
        |SELECT '2_renamed', coalesce(lang, 'pre_evolution'), count(*),
        |       sum(doc_id)::BIGINT, sum(length(text))::BIGINT
        |FROM s2 GROUP BY 2
        |UNION ALL
        |SELECT '3_dropped', coalesce(lang, 'pre_evolution'), count(*),
        |       sum(doc_id)::BIGINT, (-1)::BIGINT
        |FROM s2 GROUP BY 2
        |ORDER BY stage, lang""".stripMargin,
    // q185: the restored v1 slice recomputed from its rule.
    "q185_sql_procedures" ->
      """SELECT lang, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM documents WHERE doc_id % 3 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q186: the two branches recomputed from the slice rules.
    "q186_sql_tags" ->
      """WITH s AS (
        |  SELECT 'baseline' AS branch, doc_id FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'current', doc_id FROM documents)
        |SELECT branch, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS sum_doc_id
        |FROM s GROUP BY branch ORDER BY branch""".stripMargin,
    // q187: the complement aggregate, twice (both regimes equal it).
    "q187_composite_delete" ->
      """WITH f AS (
        |  SELECT l_returnflag,
        |         round(l_extendedprice * 100)::BIGINT AS cents
        |  FROM lineitem
        |  WHERE NOT (l_orderkey % 5 = 0 AND l_linenumber % 2 = 1)),
        |a AS (SELECT l_returnflag, count(*) AS n_rows,
        |             sum(cents)::BIGINT AS sum_price_cents
        |      FROM f GROUP BY l_returnflag)
        |SELECT '1_mor' AS stage, l_returnflag, n_rows, sum_price_cents
        |FROM a
        |UNION ALL
        |SELECT '2_compacted', l_returnflag, n_rows, sum_price_cents
        |FROM a
        |ORDER BY stage, l_returnflag""".stripMargin,
    // q179: the delete-sequencing rules replayed — deleted %3==1 stay
    // suppressed unless upserted (%10==7 resurrects with ' upd'),
    // removes (%10==4) win over everything.
    "q179_merge_over_deletes" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 <> 1 AND doc_id % 10 <> 4 AND doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT doc_id, text || ' upd' FROM documents
        |  WHERE doc_id % 10 = 7)
        |SELECT doc_id, md5(text) AS text_md5 FROM f
        |ORDER BY doc_id""".stripMargin,
    // q191: the tuple-granular sequencing rules replayed — composite-
    // deleted (okey%5=0 ∧ odd line) tuples stay out unless their order
    // is upserted (%10=5 replaces/resurrects at price+7), removes
    // (%10=4) win over everything; identity-weighted sums make a
    // partial-tuple slip hash-fatal.
    "q191_composite_merge" -> compositeMergeOracle,
    // q195: q191's sequencing rules replayed over the DISTINCT-tuple
    // base (SQL MERGE's cardinality rule forbids the raw table's
    // duplicate tuples — the Scala keyed merge serves them, the SQL
    // surface rejects them, spec-pinned); the suppressed-tuple
    // resurrection rides INSERT * through the same delete sequencing.
    "q195_sql_composite_merge" ->
      ("""WITH base AS (
         |  SELECT l_orderkey, l_linenumber,
         |         max(l_returnflag) AS l_returnflag,
         |         sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
         |           AS price_cents
         |  FROM lineitem GROUP BY 1, 2),
         |""".stripMargin + compositeMergeRules),
    // q196: all five row fates of the three-clause-family MERGE
    // replayed — matched edits, carried matched rows, pruned stale
    // docs, stale-marked survivors, negative-namespace inserts.
    "q196_sql_merge_by_source" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN 'stale' ELSE lang END
        |           AS lang,
        |         text
        |  FROM documents WHERE doc_id % 3 <> 0 AND lang <> 'de'
        |  UNION ALL
        |  SELECT -(doc_id + 1), lang, text FROM documents
        |  WHERE doc_id % 10 = 1)
        |SELECT doc_id, lang, md5(text) AS text_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    // q193: the 3-predicate rectangle recomputed straight from parquet
    // with the same integer bounds arithmetic (q162's discipline, one
    // more dimension).
    "q193_zorder_3d" ->
      """WITH b AS (SELECT max(l_orderkey) // 4 AS ohi,
        |                  max(l_partkey) // 4 AS phi,
        |                  max(l_suppkey) // 4 AS shi FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |       sum(l_orderkey)::BIGINT AS sum_orderkey,
        |       sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
        |         AS sum_price_cents
        |FROM lineitem, b
        |WHERE l_orderkey >= 0 AND l_orderkey <= ohi
        |  AND l_partkey >= 0 AND l_partkey <= phi
        |  AND l_suppkey >= 0 AND l_suppkey <= shi
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )

  /** q57/q168's shared replay: the 2 Lloyd iterations (assignment by
    * (cosine DESC, cell ASC) argmax, centroid update as exact
    * integer-micro component sums — both engines build bit-identical
    * codebooks), then probe → in-cell exact cosine → top-10. */
  private lazy val ivfKmeansTopKOracle: String =
    s"""WITH $ivfKmeansCte,
       |probes AS (SELECT query_id, qv, cell FROM (
       |   SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
       |          row_number() OVER (PARTITION BY q.vec_id
       |            ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cell)
       |            AS rk
       |   FROM e q CROSS JOIN c2 c WHERE q.vec_id < 10) t WHERE rk <= 2),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |                round(list_cosine_similarity(p.qv, a.v), 4) AS sim
       |         FROM probes p JOIN asg a ON a.cell = p.cell
       |         WHERE a.vec_id <> p.query_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY sim DESC, neighbor_id) AS "rank"
       |      FROM cand)
       |SELECT query_id, neighbor_id, sim, "rank" FROM r WHERE "rank" <= 10
       |ORDER BY query_id, "rank"""".stripMargin

  /** The q160/q161 shared replay (see the comment above their entries). */
  private val scd2HistoryOracle: String =
    """WITH v1 AS (SELECT doc_id, text FROM documents),
      |v2 AS (SELECT doc_id,
      |              CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
      |                   ELSE text END AS text
      |       FROM documents WHERE doc_id % 10 <> 7
      |       UNION ALL
      |       SELECT -(doc_id + 1), text FROM documents
      |       WHERE doc_id % 10 = 1),
      |v3 AS (SELECT doc_id,
      |              CASE WHEN doc_id > 0 AND doc_id % 10 = 4
      |                   THEN text || ' updated v3'
      |                   ELSE text END AS text
      |       FROM v2 WHERE NOT (doc_id > 0 AND doc_id % 10 = 9)),
      |allv AS (SELECT 1 AS v, doc_id, md5(text) AS h FROM v1
      |         UNION ALL SELECT 2, doc_id, md5(text) FROM v2
      |         UNION ALL SELECT 3, doc_id, md5(text) FROM v3),
      |isl AS (SELECT doc_id, h, v,
      |               v - row_number() OVER (PARTITION BY doc_id, h
      |                                      ORDER BY v) AS grp
      |        FROM allv),
      |runs AS (SELECT doc_id, h, min(v) AS vfrom, max(v) AS vmax
      |         FROM isl GROUP BY doc_id, h, grp)
      |SELECT doc_id, h AS text_md5, vfrom::INT AS valid_from,
      |       (CASE WHEN vmax = 3 THEN NULL ELSE vmax + 1 END)::INT
      |         AS valid_to,
      |       CASE WHEN vmax = 3 THEN 1 ELSE 0 END AS is_current
      |FROM runs ORDER BY doc_id, valid_from""".stripMargin

  /** q118/q119's shared DuckDB replay: per-position best cross-doc LCP
    * via the gaps-and-islands run trick, dup positions (>= 32) with the
    * running-max window attached. */
  private val suffixCovSql: String =
    """WITH sfx0 AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1, length(text))) AS pos
      |  FROM documents WHERE length(text) > 0),
      |sfx AS (
      |  SELECT doc_id, pos, substr(text, pos::INT, 128) AS pref
      |  FROM sfx0),
      |ord AS (SELECT doc_id, pos, pref,
      |               row_number() OVER (ORDER BY pref, doc_id, pos) AS rn
      |        FROM sfx),
      |runs AS (SELECT *, rn - row_number()
      |           OVER (PARTITION BY doc_id ORDER BY rn) AS rk
      |         FROM ord),
      |bnd AS (SELECT *, min(rn) OVER (PARTITION BY doc_id, rk) AS lo,
      |               max(rn) OVER (PARTITION BY doc_id, rk) AS hi
      |        FROM runs),
      |nbr AS (
      |  SELECT b.doc_id, b.pos, b.pref,
      |         u.pref AS upref, w.pref AS wpref
      |  FROM bnd b
      |  LEFT JOIN ord u ON u.rn = b.lo - 1
      |  LEFT JOIN ord w ON w.rn = b.hi + 1),
      |lb AS (
      |  SELECT doc_id, pos, greatest(
      |    coalesce((SELECT max(k) FROM generate_series(1, 128) s(k)
      |              WHERE upref IS NOT NULL
      |                AND k <= least(length(pref), length(upref))
      |                AND substr(pref, 1, k::INT) = substr(upref, 1, k::INT)),
      |             0),
      |    coalesce((SELECT max(k) FROM generate_series(1, 128) s(k)
      |              WHERE wpref IS NOT NULL
      |                AND k <= least(length(pref), length(wpref))
      |                AND substr(pref, 1, k::INT) = substr(wpref, 1, k::INT)),
      |             0)) AS l
      |  FROM nbr),
      |cov AS (SELECT doc_id, pos, pos + l AS e FROM lb WHERE l >= 32),
      |wz AS (SELECT doc_id, pos, e,
      |              max(e) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |                AS pmax
      |       FROM cov)""".stripMargin

  /** [[suffixPerDocSql]] rebased onto q79's snapshot-B derivation (the
    * shingleCteB pattern) — the q116 oracle must recompute snapshot B's
    * suffix table FROM SCRATCH, because no delta-local shortcut is
    * sound for a global property. */
  private def suffixPerDocSqlB: String = {
    val bdocs =
      """WITH bdocs AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 3 THEN text || ' updated v2'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT -(doc_id + 1), text FROM documents
        |  WHERE doc_id % 10 = 1),""".stripMargin
    bdocs + "\n" +
      suffixPerDocSql.stripPrefix("WITH").replace("FROM documents", "FROM bdocs")
  }

  /** Per-doc longest cross-document match (capped 128 chars) — the
    * DuckDB replay of the q114 suffix construction, shared by the
    * q114 and q115 oracles. */
  private val suffixPerDocSql: String =
    """WITH sfx0 AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(1, length(text))) AS pos
      |  FROM documents WHERE length(text) > 0),
      |sfx AS (
      |  SELECT doc_id, pos, substr(text, pos::INT, 128) AS pref
      |  FROM sfx0),
      |ord AS (SELECT doc_id, pref,
      |               row_number() OVER (ORDER BY pref, doc_id, pos) AS rn
      |        FROM sfx),
      |adj AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.pref AS p1, b.pref AS p2
      |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
      |  WHERE a.doc_id <> b.doc_id),
      |lcps AS (
      |  SELECT d1, d2,
      |         (SELECT coalesce(max(k), 0)
      |          FROM generate_series(1, 128) s(k)
      |          WHERE k <= least(length(p1), length(p2))
      |            AND substr(p1, 1, k::INT) = substr(p2, 1, k::INT)) AS l
      |  FROM adj),
      |per AS (SELECT d1 AS doc_id, l FROM lcps
      |        UNION ALL SELECT d2, l FROM lcps)
      |SELECT doc_id, max(l)::BIGINT AS max_shared
      |FROM per GROUP BY doc_id""".stripMargin
}
