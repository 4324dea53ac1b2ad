package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.functions._

import graft.{Artifacts, Delta, Tables}
import graft.functions.Text

/** Text-analysis surface for LLM training-data pipelines, over the
  * `documents` table: corpus statistics, heuristic language ID, quality
  * scoring, token counting, and rolling-hash fingerprinting (winnowing).
  *
  * Everything is per-document array-expression work (map-side, codegen'd);
  * the only shuffles are the final per-lang / per-doc aggregations — the
  * same shape the reference's tokenizer+combiner pipeline had
  * (reference main.c:37-81), so this scales like a word count.
  */
object TextQueries {

  /** The per-document FEATURE artifact: `(doc_id, source, lang, h,
    * token_cnt, quality)` with `h = xxhash64(normalized text)` —
    * tokenized and quality-scored exactly once per (session, scale dir),
    * bucketed on doc_id like the shingle table.
    *
    * Why it exists: the curation family (q15 exact dedup, q50/q64's
    * quality→dedup front, q67's source report) each derived these
    * per-doc scalars from raw text inside their own plans — and the
    * narrow-key dedup needs them in two passes (hash aggregate + verify
    * routing), so one q50 run tokenized the corpus three times. At
    * 100 TB that is three full tokenize+score passes for one logical
    * relation; a production pipeline computes doc-level features once
    * and stores the narrow table (the same argument as [[DedupQueries.shingles]],
    * which amortizes the shingle pass across five families). Note what
    * is NOT here: the normalized string itself — the artifact stays
    * fixed-width (~40 bytes/row), and the rare rows that need real
    * norms (dup-group members, for collision-exact verify) resolve them
    * from `documents` through a dup-sized bloom-guarded join
    * ([[DedupQueries.dupGroupsFromFeatures]]).
    *
    * Refresh story: every column is a pure per-document function of
    * `text`, so an incremental snapshot delta (q79) refreshes this
    * artifact by per-doc upsert — no cross-document state, unlike the
    * signature refresh chain (q83) it would ride beside. */
  def docFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materialize(spark, sfDir, "graft_docfeatures_", "doc_id") {
      docFeaturesOf(Tables.documents(spark, sfDir))
    }

  /** The feature computation over an explicit documents relation — the
    * [[DedupQueries.spanFeaturesOf]] split applied here, so the
    * incremental refresh (q98) and Bench's rebuild can run the same
    * plan over inputs that are not the on-disk table. Every column is a
    * pure per-document function of `text`, which is exactly what makes
    * the per-doc-upsert refresh sound. */
  private[graft] def docFeaturesOf(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        Text.tokens(col("text")).as("toks"))
    d.select(col("doc_id"), col("source"), col("lang"),
      DedupQueries.normHash(Text.normalized(col("text"))).as("h"),
      size(col("toks")).as("token_cnt"),
      qualityScore(col("text"), col("toks")).as("quality"))
  }

  /** Q16: per-language corpus stats: doc count, avg tokens/doc, distinct
    * token count — entirely off the artifacts: per-doc sizes from
    * docFeatures' stored token_cnt, token instances from spanFeatures'
    * `w` column with lang attached by a doc_id join (both tables are
    * bucketed on doc_id, so the join is exchange-free). The previous
    * form fed one tokenize subtree into two aggregate branches, and
    * Spark re-evaluates a subtree per branch — two corpus tokenizes per
    * run for a stats query (the q44 lesson applied here). */
  def q16TextStats(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = docFeatures(spark, sfDir)
    val perLang = feats.groupBy("lang").agg(
      count(lit(1)).as("doc_cnt"),
      round(avg(col("token_cnt")), 2).as("avg_tokens"))
    val distinctTok = DedupQueries.spanFeatures(spark, sfDir)
      .select("doc_id", "w")
      .join(feats.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang").agg(count_distinct(col("w")).as("distinct_tokens"))
    perLang.join(distinctTok, "lang").orderBy("lang")
  }

  /** Marker lexicons for heuristic language ID (tiny, public stopword
    * lists; ASCII because the tokenizer is ASCII — SURVEY.md §7). */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "del"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "du", "est", "dans", "pour", "sur"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni", "ta", "men", "zai", "you", "he"))

  /** Count of token instances hitting a marker lexicon. */
  private def hits(toks: Column, lex: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(lex.toArray), t)))

  /** The quality score shared by q24 and the curation pipeline (q50):
    * 0.4·min(tokens/100, 1) + 0.4·alnum_ratio + 0.2·stopword_ratio, over
    * a raw `text` column and its token array. Single definition so the
    * operators (and their oracles) cannot drift apart. */
  def qualityScore(text: Column, toks: Column): Column =
    least(size(toks) / lit(100.0), lit(1.0)) * 0.4 +
      (length(regexp_replace(lower(text), "[^a-z0-9]", ""))
        / greatest(length(text), lit(1))) * 0.4 +
      (hits(toks, Lexicons.head._2) / greatest(size(toks), lit(1))) * 0.2

  /** Catalyst-tree twin of [[qualityScore]] for SQL registration as
    * `graft_quality(text)` (see Text.tokensExpr for why raw trees).
    * Same subexpressions in the same order, so the analyzer's coercions
    * produce bit-identical doubles — pinned by VectorsSpec's SQL test. */
  def qualityExpr(text: catalyst.expressions.Expression)
      : catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val toks = Text.tokensExpr(text)
    val enLex = Literal.create(Lexicons.head._2, ArrayType(StringType))
    val lengthGate = Multiply(
      Least(Seq(Divide(Size(toks), Literal(100.0)), Literal(1.0))),
      Literal(0.4))
    val alnumRatio = Multiply(
      Divide(
        Length(RegExpReplace(Lower(text), Literal("[^a-z0-9]"), Literal(""))),
        Greatest(Seq(Length(text), Literal(1)))),
      Literal(0.4))
    val stopwordRatio = Multiply(
      Divide(
        Size(ArrayFilter(toks, Text.lam(t => ArrayContains(enLex, t)))),
        Greatest(Seq(Size(toks), Literal(1)))),
      Literal(0.2))
    Add(Add(lengthGate, alnumRatio), stopwordRatio)
  }

  /** Q23: heuristic language ID — the lexicon with the most token hits wins
    * (fixed precedence en>es>de>fr>zh on ties, "und" when no hits at all);
    * reported as a (true lang × guess) confusion matrix. */
  def q23LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), Text.tokens(col("text")).as("toks"))
    val scored = Lexicons.foldLeft(docs) { case (df, (l, lex)) =>
      df.withColumn(s"s_$l", hits(col("toks"), lex))
    }
    val langs = Lexicons.map(_._1)
    val maxScore = greatest(langs.map(l => col(s"s_$l")): _*)
    val guess = langs.foldRight(lit("und"): Column) { (l, rest) =>
      when(col(s"s_$l") === maxScore, lit(l)).otherwise(rest)
    }
    scored
      .withColumn("guess", when(maxScore === 0, lit("und")).otherwise(guess))
      .groupBy("lang", "guess").agg(count(lit(1)).as("doc_cnt"))
      .orderBy("lang", "guess")
  }

  /** Q24: per-doc quality score from length/alnum/stopword signals:
    * 0.4·min(tokens/100,1) + 0.4·alnum_ratio + 0.2·stopword_ratio.
    * Deliberately UNROUNDED: every component is an int/int division or a
    * fixed-order double expression, so both engines produce bit-identical
    * IEEE doubles — rounding would only reintroduce half-way ties (e.g.
    * 189/40 = 4.725 rounds differently from its binary value 4.72499…96). */
  def q24QualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val en = Lexicons.head._2
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("token_cnt"),
        (length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
          / greatest(length(col("text")), lit(1))).as("alnum_ratio"),
        (length(array_join(col("toks"), ""))
          / greatest(size(col("toks")), lit(1))).as("avg_token_len"),
        (hits(col("toks"), en)
          / greatest(size(col("toks")), lit(1))).as("stopword_ratio"))
      .withColumn("quality",
        least(col("token_cnt") / lit(100.0), lit(1.0)) * 0.4
          + col("alnum_ratio") * 0.4 + col("stopword_ratio") * 0.2)
      .orderBy("doc_id")
  }
  // NOTE: q24 keeps its component columns (alnum_ratio etc.) as outputs,
  // so it combines them directly; qualityScore() is the same arithmetic
  // over the same subexpressions and OperatorSpec asserts the equality.

  /** Q25: token counting three ways — whitespace tokens, normalized
    * tokens, and a BPE-ish subword count (⌈len/4⌉ pieces per token, a
    * stand-in kept for plan-shape comparison — q74 is the real
    * vocabulary-driven count via [[BpeUnits]]). */
  def q25TokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .as("ws_tokens"),
        size(col("toks")).as("norm_tokens"),
        aggregate(col("toks"), lit(0L),
          (acc, t) => acc + ceil(length(t) / lit(4.0))).as("bpe_ish_tokens"),
        length(col("text")).as("chars"))
      .orderBy("doc_id")

  /** Subword vocabulary for q74 — the 25 merge units [[learnBpeMerges]]
    * (q96's distributed byte-pair-encoding learner, Sennrich et al.,
    * "Neural machine translation of rare words with subword units",
    * ACL 2016) produces on the fixture corpus, committed here the way a
    * production pipeline freezes its tokenizer's vocab file after
    * training. OperatorSpec re-runs the learner on the fixture and pins
    * equality, so the committed vocab is REPRODUCIBLY learnable — the
    * full train→freeze→apply loop, not a hand-picked list. Inference is
    * greedy longest-match (maximal munch — the WordPiece inference
    * rule, Wu et al. 2016; Song et al., "Fast WordPiece tokenization",
    * EMNLP 2021); any position no unit matches consumes one character
    * as one piece, so single characters never need vocab entries and
    * the scan is total on [a-z0-9]+. */
  val BpeUnits: Seq[String] = Seq(
    "er", "or", "in", "ow", "st", "lu", "ar", "par", "mer", "at", "an",
    "can", "scan", "co", "colu", "colum", "column", "dow", "indow",
    "window", "der", "order", "ort", "sort", "part")

  /** Greedy longest-match piece count of one word under [[BpeUnits]],
    * as a single `aggregate` higher-order expression: fold position
    * 1..len carrying (next-unconsumed-position, pieces); at each
    * unconsumed position the longest matching unit (vocab checked
    * longest-first) advances the cursor, else one char is consumed.
    * Handles any word length with no unrolling bound. Interpreted (HOFs
    * don't codegen) — which is why q74 evaluates it once per DISTINCT
    * word, never per token instance. */
  def bpePieceCount(w: Column): Column = {
    val byLenDesc = BpeUnits.sortBy(u => (-u.length, u))
    def matchLen(i: Column): Column =
      byLenDesc.foldRight(lit(1): Column) { (u, rest) =>
        when(w.substr(i, lit(u.length)) === lit(u), lit(u.length))
          .otherwise(rest)
      }
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("nxt"), lit(0).as("cnt")),
      (st, i) => when(i === st("nxt"),
          struct((i + matchLen(i)).as("nxt"), (st("cnt") + lit(1)).as("cnt")))
        .otherwise(st),
      st => st("cnt"))
  }

  /** Q74: REAL subword token counting — the merges-table-driven upgrade
    * of q25's ⌈len/4⌉ stand-in: token budgets, packing (q65), and
    * mixture weights (q73) all key off subword counts in production, so
    * the counts come from an actual learned vocabulary ([[BpeUnits]])
    * applied by greedy longest-match.
    *
    * Scale shape (exactly q56's): the longest-match scan runs once per
    * DISTINCT word — the vocabulary relation, small by Heaps' law —
    * and is BROADCAST back onto the token stream; the corpus itself
    * only pays an explode and a per-doc sum. Tokenizing per instance
    * would put an interpreted higher-order expression on 100 TB of
    * tokens; tokenizing per distinct word puts it on the vocabulary. */
  def q74BpeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("w"))
    val words = toks.select("w").distinct()
      .withColumn("pieces", bpePieceCount(col("w")))
    val perDoc = toks.join(broadcast(words), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("norm_tokens"), sum("pieces").as("bpe_tokens"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("norm_tokens"), lit(0L)).as("norm_tokens"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Q96: DISTRIBUTED BPE MERGE LEARNING — the other half of the
    * tokenizer story: q74 APPLIES a committed vocabulary; this LEARNS
    * one from the corpus, the way a production pipeline trains its
    * tokenizer before freezing it (Sennrich et al., ACL 2016). Returns
    * the learned merge table: per round, the most frequent adjacent
    * symbol pair (weighted by word frequency), its merged unit, and
    * its count at merge time. Ties break deterministically (max count,
    * then lexicographically smallest pair), so both engines reproduce
    * the exact sequence.
    *
    * Scale shape — the published algorithm is a single-machine loop
    * over an in-memory vocab; the distributed re-expression keeps each
    * piece on the right side of the driver line:
    *  - word frequencies come off the [[DedupQueries.spanFeatures]]
    *    artifact's `w` column (one vocab-sized aggregate; the corpus is
    *    never re-tokenized);
    *  - the per-round pair-count aggregate runs over the VOCABULARY
    *    relation (small by Heaps' law — the exchanges are vocab-sized,
    *    never corpus-sized), map-side-combined like any word count;
    *  - only the ARGMAX row (one pair) ever reaches the driver per
    *    round — the same model/metadata-bounded collect discipline as
    *    the k-means codebooks;
    *  - the re-segmentation is a per-word fold (`aggregate` HOF —
    *    interpreted, which is exactly why it runs on the vocab
    *    relation, q74's per-DISTINCT-word argument), and each round's
    *    segmentation is localCheckpoint'd so 25 rounds don't stack 25
    *    plan generations into one lineage.
    *
    * The greedy left-to-right merge application (a run of overlapping
    * candidates merges at even offsets: "a a a a" + (a,a) → "aa aa")
    * falls out of the fold carrying a pending symbol; the DuckDB
    * oracle replays the identical loop with window-function run parity,
    * so the hash gate pins the whole 25-round trajectory — any drift
    * in ONE round's pair choice cascades into every later row. */
  /** Greedy left-to-right application of ONE merge (a, b) to a symbol
    * array, as a single `aggregate` fold carrying a pending symbol:
    * pending==a followed by b emits the merged unit and clears the
    * pending slot (so a merged unit can't serve as the LEFT of another
    * merge in the same round — the run-parity rule: "a a a a" + (a,a)
    * → "aa aa"). Exposed for the spec, which pins exactly this rule. */
  private[graft] def bpeMergeFold(syms: Column, a: String, b: String): Column = {
    def withPend(acc: Column, pend: Column): Column =
      when(pend =!= "", concat(acc, array(pend))).otherwise(acc)
    aggregate(
      syms,
      struct(array().cast("array<string>").as("acc"), lit("").as("pend")),
      (st, s) => when(st("pend") === a && s === b,
          struct(concat(st("acc"), array(lit(a + b))).as("acc"),
            lit("").as("pend")))
        .otherwise(struct(withPend(st("acc"), st("pend")).as("acc"),
          s.as("pend"))),
      st => withPend(st("acc"), st("pend")))
  }

  def learnBpeMerges(spark: SparkSession, sfDir: String,
                     rounds: Int): Seq[(Int, String, String, String, Long)] = {
    val words = DedupQueries.spanFeatures(spark, sfDir)
      .groupBy(col("w").as("word")).agg(count(lit(1)).as("cnt"))
    // The vocab relation is Heaps'-law-bounded: corpus growth inflates
    // COUNTS, not the row count this loop runs over. When the whole
    // relation fits the driver comfortably (clamped, the q66
    // driver-bloom discipline), the trajectory is computed locally over
    // the collected (word, cnt) rows — the SAME deterministic loop
    // (argmax by freq desc / lhs asc / rhs asc over ASCII symbols, same
    // greedy run-parity fold), costing ONE aggregate job instead of
    // `rounds` scheduling round-trips; above the clamp the distributed
    // per-round loop takes over unchanged. BpeLocalParity (in
    // OperatorSpec) pins the two trajectories identical, so the fast
    // path cannot drift from the path that runs at web-scale vocab.
    val sample = words.limit(BpeDriverVocabClamp + 1).collect()
    if (sample.length <= BpeDriverVocabClamp)
      learnBpeLocal(
        sample.map(r => (r.getString(0), r.getLong(1))), rounds)
    else learnBpeDistributed(words, rounds)
  }

  /** Driver-side vocab clamp for the BPE fast path: 100k (word, cnt)
    * rows is a few MB — far under the bloom builder's budget. */
  private[graft] val BpeDriverVocabClamp = 100000

  /** The local twin of [[learnBpeDistributed]] — identical trajectory by
    * construction (parity-spec-pinned). */
  private[graft] def learnBpeLocal(words: Array[(String, Long)],
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var seg: Array[(Array[String], Long)] =
      words.map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (k <- 1 to rounds) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((syms, cnt) <- seg; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(
          v => Some(v.getOrElse(0L) + cnt))
      if (counts.nonEmpty) {
        // argmax: freq desc, then (lhs, rhs) asc — symbols are ASCII
        // (tokenizer alphabet + their concatenations), where Java
        // String order ≡ the UTF8 binary order the distributed
        // orderBy uses
        val ((a, b), f) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((k, a, b, a + b, f))
        seg = seg.map { case (syms, cnt) =>
          (bpeMergeLocal(syms, a, b), cnt) }
      }
    }
    merges.toSeq
  }

  /** JVM twin of [[bpeMergeFold]]'s pending-symbol greedy: merge (a, b)
    * left-to-right, never chaining onto a just-merged token (run
    * parity: "a a a a" + (a,a) → "aa aa"). */
  private[graft] def bpeMergeLocal(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private[graft] def learnBpeDistributed(
      words: DataFrame, rounds: Int): Seq[(Int, String, String, String, Long)] = {
    // LAZY localCheckpoints throughout the loop: each round's argmax
    // action materializes (and caches) the segmentation it reads in the
    // SAME job, halving the per-round job count vs eager checkpoints —
    // at toy scale the learner is pure scheduling overhead, so 25
    // rounds x 1 job instead of x 2 is a ~2x wall cut for free
    var seg = words
      .select(col("word"), col("cnt"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (k <- 1 to rounds) {
      val pairCounts = seg.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("lhs"),
              element_at(col("syms"), i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("freq"))
      val top = pairCounts
        .orderBy(desc("freq"), asc("lhs"), asc("rhs")).limit(1).collect()
      if (top.nonEmpty) {
        val (a, b, f) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, a, b, a + b, f))
        seg = seg.select(col("word"), col("cnt"),
            bpeMergeFold(col("syms"), a, b).as("syms"))
          .localCheckpoint(false)
      }
    }
    merges.toSeq
  }

  /** Q96 presented: the [[learnBpeMerges]] trajectory as a relation.
    * OperatorSpec pins that on the fixture corpus the learned units are
    * exactly [[BpeUnits]] — the committed vocab q74 applies IS this
    * learner's output, closing the train→freeze→apply loop. */
  def q96BpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    learnBpeMerges(spark, sfDir, BpeUnits.length)
      .toDF("merge_rank", "lhs", "rhs", "merged", "freq")
      .orderBy("merge_rank")
  }

  /** Q26: winnowing fingerprint — 8-char shingles of the normalized text,
    * hashed to 60-bit ints (md5 prefix), min-hash per sliding window of 4;
    * a doc's fingerprint set is the distinct window minima (Schleimer et
    * al., SIGMOD'03). Reported as (count, min) per doc — integer-exact.
    * The gram-hash + window-min pipeline is the native
    * [[graft.functions.WinnowFingerprints]] expression (one fused loop;
    * the previous nested transform lambdas were the suite's last
    * interpreted per-position HOFs — see WinnowParitySpec's kept
    * reference [[q26HofReference]]). */
  def q26Fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val fps = Bridge.column(graft.functions.WinnowFingerprints(
      Bridge.expression(Text.normalized(col("text"))), 8, 4))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fps.as("fps"))
      .select(col("doc_id"), size(col("fps")).as("fp_cnt"),
        array_min(col("fps")).as("fp_min"))
      .orderBy("doc_id")
  }

  /** The pre-round-10 nested-HOF formulation of q26's fingerprint array,
    * kept as the DIFFERENTIAL REFERENCE for WinnowParitySpec: same
    * semantics, interpreted evaluation. Never used in a shipped plan. */
  private[graft] def q26HofReference(text: Column): Column = {
    val norm = Text.normalized(text)
    val hashes = transform(
      sequence(lit(1), greatest(length(norm) - 7, lit(1))),
      i => conv(substring(md5(norm.substr(i, lit(8))), 1, 15), 16, 10)
        .cast("long"))
    array_distinct(transform(
      sequence(lit(1), greatest(size(hashes) - 3, lit(1))),
      j => array_min(slice(hashes, j, lit(4)))))
  }

  /** Q53: deterministic stratified HASH-SAMPLING — the reproducible
    * alternative to random sampling every curation pipeline needs:
    * keep a document iff a uniform hash of (lang, doc_id) falls under its
    * stratum's rate (en 50%, everything else 20% — a rebalancing step).
    * Pure map-side filter, zero shuffle at any scale; re-running (or
    * re-sharding) the corpus reproduces the same sample because the hash
    * depends only on content keys — never on partition or row order.
    * The md5-derived bucket keeps the oracle bit-exact. */
  /** q53's deterministic stratum bucket — ONE definition, also stage 6 of
    * q64's curation pipeline. Depends only on content keys, never on
    * partition or row order, so re-running or re-sharding reproduces the
    * same sample. */
  def stratifiedBucket(lang: Column, docId: Column): Column =
    conv(substring(md5(concat(lang, lit(":"), docId)), 1, 8), 16, 10)
      .cast("long") % 100

  def q53HashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        stratifiedBucket(col("lang"), col("doc_id")).as("bucket"))
      .where(col("bucket") <
        when(col("lang") === "en", lit(50)).otherwise(lit(20)))
      .orderBy("doc_id")

  /** Q54: PII-style SCRUBBING — regex redaction of emails, URLs, and
    * digit runs (≥3, so token counts survive), plus redaction counts per
    * doc. Per-row regexp work is map-side and codegen'd — zero shuffle;
    * at 100 TB this is a pure pass-through transform. Patterns use only
    * explicit character classes, which Java regex (Spark) and RE2-style
    * DuckDB interpret identically — no \\d/\\w shorthand, whose Unicode
    * semantics differ across engines. */
  /** PII redaction patterns — ONE definition shared by q54 and q64's
    * accounting stage (explicit char classes: Java regex ≡ RE2). */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val PiiUrl   = "https?://[^ ]+"
  val PiiNum   = "[0-9][0-9][0-9]+"

  def q54PiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val (email, url, num) = (PiiEmail, PiiUrl, PiiNum)
    val t = col("text")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(regexp_extract_all(t, lit(email), lit(0))).as("n_emails"),
        size(regexp_extract_all(t, lit(url), lit(0))).as("n_urls"),
        size(regexp_extract_all(t, lit(num), lit(0))).as("n_nums"),
        regexp_replace(
          regexp_replace(
            regexp_replace(t, email, "<EMAIL>"),
            url, "<URL>"),
          num, "<NUM>").as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Q55: REPETITION stats — the Gopher-style repetitiousness signals
    * (Rae et al. 2021, table A1: top-n-gram fraction, duplicate-n-gram
    * fraction) as exact integer counts per doc: total/top-unigram counts
    * and total/distinct bigram counts. Integer outputs keep the oracle
    * exact; the consumer forms ratios downstream. One explode, two
    * aggregates, bigrams via a lead window.
    *
    * ONE logical shuffle: the raw docs are repartitioned on doc_id up
    * front, and hash(doc_id) satisfies every downstream distribution —
    * the (doc_id, token) and (doc_id) aggregates (partitioning on a
    * subset of the grouping keys is clustered enough), the per-doc lead
    * window, and the doc_id equi-joins. The naive formulation instead
    * shuffles token-level rows on three different keys — including the
    * full exploded token stream for the window — roughly 2× the corpus
    * bytes vs 1× here. A/B at sf0.1 is a wash (0.42 s vs 0.48 s: toy
    * scale, broadcasts mask the exchanges); the win is the shuffle-volume
    * shape at corpus scale. No ENSURE_REQUIREMENTS hash exchange may
    * appear in this plan (spec-asserted). */
  def q55Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").repartition(col("doc_id"))
    val toks = docs.select(col("doc_id"),
      posexplode(Text.tokens(col("text"))))
    val uni = toks.groupBy("doc_id", "col").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_tok_cnt"), sum(col("c")).as("n_toks"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val big = toks
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("col"), lead(col("col"), 1).over(byDoc)).as("g"),
        count(lit(1)).over(perDoc).as("n"))
      .where(col("pos") <= col("n") - 2)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("bigrams"),
        count_distinct(col("g")).as("distinct_bigrams"))
    docs.select("doc_id")
      .join(uni, Seq("doc_id"), "left")
      .join(big, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("top_tok_cnt"), lit(0L)).as("top_tok_cnt"),
        coalesce(col("bigrams"), lit(0L)).as("bigrams"),
        coalesce(col("distinct_bigrams"), lit(0L)).as("distinct_bigrams"))
      .orderBy("doc_id")
  }

  /** Q56: corpus-LM scoring (the CCNet-style quality signal): score each
    * doc by its tokens' negative log-probability under the corpus's own
    * unigram distribution — low = fluent/common text, high = rare-token
    * noise. The cross-corpus twin of q24's per-doc signals.
    *
    * Numerics: per-token -ln p is floored to integer MICRO-nats, so the
    * per-doc sum is an integer — order-independent across partitions
    * (a raw double sum would vary run to run) and exactly reproducible
    * by the oracle. floor (not round) avoids half-tie semantics; the
    * gate would surface any 1-ulp ln() divergence between engines.
    *
    * Scale shape: one explode feeding a token-count aggregate; the
    * vocabulary (small by Heaps' law) is BROADCAST back onto the token
    * stream, so the only doc-keyed shuffle is the per-doc sum. The
    * vocabulary-total is a scalar driver action over the tf aggregate.
    *
    * The tf/vocabulary side is tokenized ONCE: the vocabulary aggregate
    * is materialized eagerly (localCheckpoint — tiny by Heaps' law), so
    * the `total` scalar and the broadcast side both read the
    * materialized tf instead of re-exploding the corpus. TWO corpus
    * explode passes remain in total — the tf build and the scoring
    * join's own explode (the r3 shape ran three). The scoring join's
    * explode is the only Generate in the final plan — spec-pinned; the
    * pin is on that plan, not on total work. */
  def q56UnigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"),
      explode(Text.tokens(col("text"))).as("w"))
    val tf = toks.groupBy("w").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val total = tf.agg(sum(col("cnt"))).head().getLong(0)
    val scored = toks.join(broadcast(tf), "w")
      .select(col("doc_id"),
        floor(log(lit(total.toDouble) / col("cnt")) * 1e6).as("lpm"))
      .groupBy("doc_id")
      .agg(sum(col("lpm")).as("sum_logp_micro"), count(lit(1)).as("n_toks"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sum_logp_micro"), lit(0L)).as("sum_logp_micro"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"))
      .orderBy("doc_id")
  }

  /** Q111: BIGRAM LM scoring — q56's CCNet-style quality gate upgraded
    * from unigram frequency to a CONDITIONAL model: each in-doc bigram
    * position scores -ln p(w2 | w1) under the corpus's own add-one-
    * smoothed bigram distribution, p = (C(w1,w2) + 1) / (C(w1·) + V) —
    * rare CONTINUATIONS (not just rare words) now raise the score, which
    * is what separates disfluent noise from fluent-but-rare text.
    *
    * Numerics: q56's discipline exactly — per-position
    * floor(ln((C(w1·)+V)/(C(w1,w2)+1))·1e6) integer micro-nats, so the
    * per-doc sum is order-independent and the DuckDB oracle replays it
    * bit-for-bit. Scale shape: the bigram stream derives from the
    * bucketed positional artifact (window over the bucketed scan — no
    * exchange, no tokenize); the count tables are the MODEL, vocab²-
    * bounded and broadcast onto the stream — the production analogue is
    * a trained KenLM binary broadcast to workers, and past broadcast
    * size the model join co-buckets instead (the q75 layout). Docs with
    * fewer than two tokens score 0 over 0 positions (left join), same
    * as q56's empty-doc rule. */
  def q111BigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = DedupQueries.spanFeatures(spark, sfDir)
      .select("doc_id", "pos", "w")
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val bg = feats.select(col("doc_id"), col("w").as("w1"),
        lead("w", 1).over(win).as("w2"),
        (lead("pos", 1).over(win) === col("pos") + 1).as("ok"))
      .where(col("ok")).select("doc_id", "w1", "w2")
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
    val hist = bg.groupBy("w1").agg(count(lit(1)).as("hc"))
    val v = feats.agg(count_distinct(col("w"))).head.getLong(0)
    val scored = bg
      .join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(hist), Seq("w1"))
      .select(col("doc_id"),
        floor(log((col("hc") + lit(v).cast("double")) /
          (col("bc") + lit(1).cast("double"))) * 1e6).as("lpm"))
      .groupBy("doc_id")
      .agg(sum(col("lpm")).as("sum_logp_micro"),
        count(lit(1)).as("n_bigrams"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("sum_logp_micro"), lit(0L)).as("sum_logp_micro"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Q65 packing knobs: training sequence length (tokens) and shard
    * count. Shards here come from doc_id so the oracle reproduces them;
    * production uses the input file/partition id. */
  val PackSeqLen = 512
  val PackShards = 8

  /** Q65: SEQUENCE PACKING — the training-data step that lays documents
    * end-to-end and cuts the stream every [[PackSeqLen]] tokens
    * (GPT-style packing; documents may straddle sequence boundaries).
    * Output is the placement map a packing job materializes: for each
    * document, the sequence index its first token lands in, the offset
    * within that sequence, and how many sequences it spans.
    *
    * Scale shape: packing is SHARD-LOCAL. A single global token stream
    * would need a one-partition running sum — the classic scale killer —
    * so the corpus is split into independent shards and the running
    * offset is a window sum per shard: every shard sorts and scans
    * locally, shard count scales with the cluster, and no global sort or
    * single-partition exchange exists anywhere in the plan
    * (spec-asserted). All outputs are integers, so the oracle is exact;
    * `floor` on the int/int double division is exact below 2^53. */
  def q65SequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(Text.tokens(col("text"))).as("token_cnt"))
      .where(col("token_cnt") > 0) // an empty doc occupies no tokens
      .withColumn("start_off",
        sum(col("token_cnt")).over(byShard) - col("token_cnt"))
      .select(col("doc_id"), col("shard"), col("token_cnt"),
        floor(col("start_off") / PackSeqLen).as("seq_first"),
        (col("start_off") % PackSeqLen).as("seq_offset"),
        (floor((col("start_off") + col("token_cnt") - 1) / PackSeqLen)
          - floor(col("start_off") / PackSeqLen) + 1).as("seqs_spanned"))
      .orderBy("doc_id")
  }

  /** Q68 chunking knobs: window and stride in characters. stride <
    * window ⇒ adjacent chunks overlap by window−stride chars — the
    * standard retrieval/embedding-context layout. */
  val ChunkSize = 200
  val ChunkStride = 150

  /** Q68: DOCUMENT CHUNKING — split every document into fixed-size
    * overlapping character windows, the prep step every RAG/embedding
    * pipeline runs before vectorizing: a chunk starts every
    * [[ChunkStride]] chars while text remains and covers up to
    * [[ChunkSize]] chars. Each chunk carries its provenance (start
    * offset, length) and a content hash — the key chunk-level dedup and
    * ANN indexes use downstream.
    *
    * Scale shape: one Generate (sequence→explode) plus per-row substring
    * and hash work — entirely map-side, codegen'd, ZERO shuffle
    * (spec-asserted); the chunk count derives from the row itself, so no
    * global state exists and the operator is a pure pass-through at any
    * corpus size. The length>0 guard is semantic, not defensive:
    * Spark's sequence(0, stop) DESCENDS when stop < 0, so an empty doc
    * would emit phantom chunks where the oracle emits none. */
  def q68Chunk(spark: SparkSession, sfDir: String): DataFrame = {
    val lastIdx = floor((length(col("text")) - 1) / ChunkStride)
    val chunk = col("text").substr(
      (col("chunk_idx") * ChunkStride + 1).cast("int"), lit(ChunkSize))
    Tables.documents(spark, sfDir)
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lastIdx)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride + 1).as("chunk_start"),
        length(chunk).as("chunk_len"),
        md5(chunk).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Q69 cap: max documents kept per language. */
  val CapPerLang = 50

  /** Q69: BALANCED CAPPING — keep at most [[CapPerLang]] documents per
    * language, chosen by a deterministic content hash (q53's key
    * discipline: depends only on (lang, doc_id), so re-running or
    * re-sharding the corpus reproduces the same selection). This is the
    * class-rebalancing step that stops one dominant language from
    * swamping a training mix, phrased the only way that survives skew:
    * a row_number window over lang would hash the WHOLE corpus into
    * |langs| partitions — five reducers sorting 100 TB — while the
    * bounded-heap aggregate ([[graft.functions.TopKAgg]]) ships at most
    * cap rows per language per map task and never sorts a partition.
    * Negations encode direction (largest −h = smallest h), exactly
    * q62/q63's convention. */
  def q69BalancedCap(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(concat(col("lang"), lit(":"),
      col("doc_id"))), 1, 15), 16, 10).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        struct((-h).as("nh"), (-col("doc_id")).as("nid")).as("s"))
      .groupBy("lang")
      .agg(graft.functions.Aggregates.topK(col("s"), CapPerLang).as("kept"))
      .select(col("lang"), posexplode(col("kept")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        (-col("col.nid")).as("doc_id"), (-col("col.nh")).as("h"))
      .orderBy("lang", "rk")
  }

  /** Q70: LENGTH-OUTLIER detection — flag documents whose token count
    * sits more than 2 sample standard deviations from their language's
    * mean: the heuristic cut that drops truncated fragments and
    * concatenation artifacts from a corpus. The test is ONE exact
    * integer inequality — z² > 4 ⟺ (n·x − s)²·(n−1) > 4·n·(n·q − s²)
    * with s = Σx, q = Σx² — no division, no floats: a float stddev
    * differs between engines in the last ulp AND is partition-order
    * dependent, so the flag would flap; the integer form is
    * bit-reproducible and the oracle exact. Products run in
    * DECIMAL(38,0) (DuckDB HUGEINT): 64-bit intermediates overflow the
    * squared term once n·x passes ~3·10⁹, a magnitude a real corpus
    * reaches.
    *
    * Scale shape: one per-lang aggregate (|langs| rows) BROADCAST back
    * onto the corpus — the flag itself is then map-side; the window
    * formulation would hash the whole corpus into |langs| skewed
    * partitions. */
  def q70LengthOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("token_cnt"))
    // s and q accumulate in DECIMAL(38,0), not LongType: a long
    // sum(x·x) wraps silently (non-ANSI mode) once Σx² passes 2^63 —
    // reachable for one language's token counts at corpus scale — and a
    // wrapped q flips outlier flags with no error. Matches the DuckDB
    // twin, where sum(BIGINT) is HUGEINT.
    val stats = docs.groupBy("lang").agg(
      count(lit(1)).as("n"), sum(d(col("token_cnt"))).as("s"),
      sum(d(col("token_cnt")) * d(col("token_cnt"))).as("q"))
    val dev = d(col("n")) * d(col("token_cnt")) - d(col("s"))
    docs.join(broadcast(stats), "lang")
      .select(col("doc_id"), col("lang"), col("token_cnt"),
        when(dev * dev * (d(col("n")) - 1) >
          d(lit(4)) * d(col("n")) * (d(col("n")) * d(col("q")) - d(col("s")) * d(col("s"))),
          1L).otherwise(0L).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** Q44: TF-IDF — the classic corpus-weighting operator. tf = term count
    * in doc; idf = ln(N / df) with df = docs containing the term. Emits
    * each document's top-3 terms by (tfidf desc, term asc). One explode,
    * two aggregates (term-level df joins back to doc-term tf), then the
    * per-doc top-k via the native bounded-heap aggregate
    * ([[graft.functions.TopKAgg]]) — the row_number window it replaces
    * re-shuffles every (doc, term, tfidf) row on doc_id after the tf
    * aggregate already shuffled on (doc_id, w); the heap aggregate's
    * map-side partial ships ≤ 3 rows per doc per task (q62's shape; the
    * term tie-break is an ascending STRING, so direction rides the `asc`
    * flags instead of a negation). ln() on exact integer ratios is
    * bit-identical across engines.
    */
  def q44Tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus size N stays IN the plan (a 1-row count aggregate that
    // broadcasts onto the term rows, the q70 stats shape): a driver-side
    // count() would cost one extra scan-only job per invocation and
    // bake N in as a literal that silently goes stale if the table
    // changes mid-session. Counted over the docFeatures artifact (one
    // fixed-width row per document, including tokenless ones).
    val n = docFeatures(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    // term rows off the span-feature artifact's token column — the tf
    // subtree feeds BOTH the df aggregate and the join-back, and Spark
    // re-evaluates a subtree per plan branch, so before the artifact
    // this query tokenized the corpus twice (QTime, round 8); now each
    // branch is a bucketed fixed-width scan and the (doc_id, w) partial
    // aggregate collapses map-side on the doc_id-clustered layout
    val tf = DedupQueries.spanFeatures(spark, sfDir)
      .select("doc_id", "w")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(df, "w")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), struct(
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("tfidf"),
        col("w")).as("s"))
      .groupBy("doc_id")
      .agg(graft.functions.Aggregates
        .topK(col("s"), 3, asc = Seq(false, true)).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), col("col.w").as("term"),
        round(col("col.tfidf"), 4).as("tfidf"),
        (col("pos") + 1).cast("int").as("rk"))
      .orderBy("doc_id", "rk")
  }

  /** Q102 knobs, shared with the DuckDB oracle text in SparkEntry. */
  val CmsWidth: Int = 4096
  val HeavyPhiDen: Long = 600L

  /** The corpus bigram stream, off the positional artifact: positions are
    * contiguous per doc by construction, so `lead` over (doc_id, pos) IS
    * word adjacency — no tokenize, no self-join; the doc-boundary guard
    * drops each doc's final position (null lead). */
  private def bigrams(spark: SparkSession, sfDir: String): DataFrame =
    bigramsFrom(DedupQueries.spanFeatures(spark, sfDir))

  /** [[bigrams]] over an explicit (doc_id, pos, w) relation — the
    * spanFeaturesOf split applied here so q107's refresh can sketch the
    * kept and the stale positions separately. */
  private[graft] def bigramsFrom(spanFeats: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("doc_id").orderBy("pos")
    spanFeats
      .select(col("doc_id"), col("pos"), col("w"))
      .select(
        concat_ws(" ", col("w"), lead("w", 1).over(win)).as("bigram"),
        (lead("pos", 1).over(win) === col("pos") + 1).as("ok"))
      .where(col("ok"))
      .select("bigram")
  }

  /** Q102: heavy-hitter bigrams (collocations) by count-min sketch +
    * exact verify — the bounded-memory heavy-hitter recipe (Cormode &
    * Muthukrishnan 2005) a 100 TB corpus needs when "count every key and
    * filter" is the bottleneck: the exact plan ships every distinct key
    * through the groupBy exchange (at web scale the n-gram tail IS the
    * corpus), while the sketch pass reduces to a 128 KB vector merge and
    * the verify exchange carries only keys whose ESTIMATE clears the
    * threshold — structurally a superset of the truth (CMS only
    * over-counts), so the exact verify emits exactly the true heavy
    * hitters and the output is oracle-checkable despite the approximate
    * prefilter (q66's sketch-then-verify discipline applied to counts).
    *
    * Two deliberate passes over the bigram stream (sketch, then verify):
    * re-scanning the corpus is linear work per executor; the full-key
    * exchange the second pass avoids is the thing that doesn't scale.
    * Threshold: phi = 1/[[HeavyPhiDen]] of the corpus bigram total N,
    * read straight off the sketch (every CMS row sums to N — no count
    * pass). */
  def q102HeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    // the sketch builds once per (session, dir) via [[baseSketch]] —
    // the stored index q107's incremental refresh then updates
    cmsVerify(bigrams(spark, sfDir), baseSketch(spark, sfDir))

  /** One CMS pass over a bigram stream → the flat depth×width counter
    * vector. */
  private[graft] def cmsSketchOf(bg: DataFrame): Array[Long] =
    bg.agg(graft.functions.CountMinAgg.sketch(col("bigram"), CmsWidth)
      .as("s")).head.getSeq[Long](0).toArray

  /** The verify half of q102: estimate-over-threshold prefilter against
    * a GIVEN sketch (however it was obtained — one pass or an
    * incremental refresh), then the exact groupBy. The threshold is
    * phi·N with N read off the sketch's row sums. */
  private[graft] def cmsVerify(bg: DataFrame, flat: Array[Long]): DataFrame = {
    import graft.functions.CountMinAgg
    val w = CmsWidth
    val rows = flat.grouped(w).toArray
    val n = rows(0).sum
    val t = math.max(1L, n / HeavyPhiDen)
    // probe with built-ins only (codegen'd): row j reads md5 chunk j,
    // bit-identical to CountMinAgg.rowIndex (parity spec-pinned)
    val est = (0 until CountMinAgg.Depth).map { j =>
      element_at(lit(rows(j)),
        ((conv(substring(md5(col("bigram")), j * 8 + 1, 8), 16, 10)
          .cast("long") % w) + 1).cast("int"))
    }.reduce(least(_, _))
    bg.where(est >= t)
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= t)
      .orderBy("bigram")
  }

  /** Bigrams straight from a (doc_id, text) relation (no positional
    * artifact): tokenize → adjacent-pair array → explode, all map-side.
    * Used ONLY on delta-sized inputs (the q93 discipline: fresh docs are
    * the one place a refresh may tokenize), so the interpreted HOF here
    * is never on a corpus scan. */
  private[graft] def bigramsOfDocs(docs: DataFrame): DataFrame =
    docs.select(Text.tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1)))).as("bigram"))

  /** Q107: INCREMENTAL sketch refresh — the refresh discipline
    * (q80/q83/q91/q95/q98/q99) chained onto the count-min sketch, and
    * the property that makes it one-liner-sound: CMS is a LINEAR
    * sketch, so sketch(B) = sketch(A) − sketch(removed rows) +
    * sketch(added rows) holds EXACTLY, counter for counter — not
    * approximately (deletions are just negative additions; the spec
    * pins elementwise identity against a from-scratch sketch of B).
    * A's sketch is session-cached by q102's build (in production, a
    * stored index artifact); the refresh pays two DELTA-sized sketch
    * passes — the removed side reads the bucketed positional artifact
    * filtered to stale ids, the added side tokenizes only fresh docs —
    * plus vector arithmetic on 32 KB. The verify pass runs over
    * snapshot B's INCREMENTAL bigram stream (artifact minus stale ids,
    * union fresh bigrams — B is never re-tokenized corpus-wide), with
    * the threshold phi·N_B read off the refreshed sketch. Oracle
    * recomputes snapshot B's heavy hitters from scratch: the hash gate
    * IS refresh ≡ rebuild. */
  def q107SketchRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val bBigrams = bigramsFrom(DedupQueries.spanFeatures(spark, sfDir)
        .join(staleIds(spark, sfDir), Seq("doc_id"), "left_anti"))
      .unionByName(bigramsOfDocs(freshBDocs(spark, sfDir)))
    cmsVerify(bBigrams, refreshedSketch(spark, sfDir))
  }

  /** The staged snapshot delta's removed/modified doc ids. */
  private def staleIds(spark: SparkSession, sfDir: String): DataFrame =
    Delta.stale(CurationPipeline.snapshotChanges(spark, sfDir))
      .select("doc_id")

  /** Snapshot B's docs at the staged delta's added/modified doc ids. */
  private def freshBDocs(spark: SparkSession, sfDir: String): DataFrame =
    CurationPipeline.snapshotBDocs(spark, sfDir,
      Delta.fresh(CurationPipeline.snapshotChanges(spark, sfDir))
        .select("doc_id"))
      .select("doc_id", "text")

  /** The q107 refresh arithmetic alone (two delta-sized passes + vector
    * math over the stored base sketch) — split out so Bench can pair
    * sketch_refresh_sec against sketch_rebuild_sec. */
  private[graft] def refreshedSketch(spark: SparkSession,
                                     sfDir: String): Array[Long] = {
    val base = baseSketch(spark, sfDir)
    val sub = cmsSketchOf(bigramsFrom(DedupQueries.spanFeatures(spark, sfDir)
      .join(staleIds(spark, sfDir), Seq("doc_id"), "left_semi")))
    val add = cmsSketchOf(bigramsOfDocs(freshBDocs(spark, sfDir)))
    base.indices.map(i => base(i) - sub(i) + add(i)).toArray
  }

  /** The from-scratch twin for the bench pair: sketch snapshot B's
    * whole bigram stream. */
  private[graft] def rebuiltBSketch(spark: SparkSession,
                                    sfDir: String): Array[Long] =
    cmsSketchOf(bigramsOfDocs(graft.operators.CurationPipeline
      .snapshotB(Tables.documents(spark, sfDir))
      .select("doc_id", "text")))

  /** Snapshot A's sketch, built once per (session, dir) off the
    * artifact-backed bigram stream — the stored-index stand-in the
    * refresh updates. */
  private val sketchCache = new Artifacts.Memo[Array[Long]]
  private[graft] def baseSketch(spark: SparkSession,
                                sfDir: String): Array[Long] =
    sketchCache(spark, sfDir) {
      cmsSketchOf(bigramsFrom(DedupQueries.spanFeatures(spark, sfDir)))
    }

  /** Q136: MAD robust outliers — q70's length gate made SKEW-PROOF:
    * z-scores (mean/stddev) move with the very outliers they hunt (one
    * 10M-token doc inflates sigma until nothing else flags), while the
    * median absolute deviation breaks down only past 50% contamination
    * (Hampel 1974; Leys et al. 2013 — the curation-pipeline
    * recommendation). Flag = |x − median| > 2·MAD, all INTEGER
    * arithmetic (Leys et al.'s scale: 2 is the sensitive setting — the
    * right demo choice for this fixture's near-uniform lengths, where
    * 3·MAD flags nothing at any scale factor).
    *
    * Plan: the per-lang median and then the per-lang median of
    * deviations are each one [[RelationalQueries.groupedQuantiles]]
    * bisection (q109's machinery: zero corpus shuffle, histogram rounds
    * only), with the tiny per-lang constants broadcast back for
    * map-side deviation/flag passes. The naive percentile_approx form
    * is rows-only checkable and approximate; the window-rank form sorts
    * the corpus per stratum. Two exact order statistics for two
    * broadcast joins' worth of shuffle. */
  def q136MadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vals = docFeatures(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        col("token_cnt").cast("long").as("v"))
    val med = RelationalQueries.groupedQuantiles(
        vals.select(col("lang").as("g"), col("v")), Seq(50))
      .map { case (g, _, m) => (g, m) }.toDF("lang", "med")
    val withDev = vals.join(broadcast(med), Seq("lang"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = RelationalQueries.groupedQuantiles(
        withDev.select(col("lang").as("g"), col("dev").as("v")), Seq(50))
      .map { case (g, _, m) => (g, m) }.toDF("lang", "mad")
    withDev.join(broadcast(mad), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("v").as("token_cnt"),
        col("med"), col("dev"), col("mad"),
        (col("dev") > lit(2L) * col("mad")).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** Q139: EQUI-DEPTH DECILE BINNING — feature quantization for
    * training pipelines: each doc's token count becomes a per-language
    * decile id (1..10), the bucketing a curriculum/length-balancing
    * recipe keys on. Thresholds are the nine exact order statistics at
    * p = 10..90 (q109's ceil-rank contract, duplicates counted), ALL
    * answered in the same batched bisection rounds — zero corpus
    * shuffle — then broadcast as one 9-element array per language;
    * the decile id is 1 + the count of thresholds strictly below the
    * value, nine codegen'd comparisons per row, map-side. A value
    * EQUAL to a threshold stays in the lower bucket (pinned both
    * engines). The ntile() window alternative sorts the corpus per
    * stratum and, worse, splits EQUAL values across buckets by
    * partition order — not reproducible, not oracle-expressible. */
  def q139DecileBinning(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = docFeatures(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        col("token_cnt").cast("long").as("v"))
    vals.join(broadcast(RelationalQueries.decileThresholds(vals)),
        Seq("lang"))
      .select(col("doc_id"), col("lang"), col("v").as("token_cnt"),
        RelationalQueries.decileTag(col("v")).as("decile"))
      .orderBy("doc_id")
  }

  /** Q129's fixed retrieval query (terms from the q101 phrase
    * vocabulary, so the postings they touch are already exercised). */
  val Bm25Terms: Seq[String] = Seq("stream", "table", "hash")

  /** Q129: BM25 RANKED RETRIEVAL — the scoring layer over the positional
    * index that turns q101's boolean phrase matching into relevance
    * ranking (Robertson et al., TREC-3 Okapi; idf is the Lucene
    * `ln(1 + (N - df + .5)/(df + .5))` non-negative variant). For the
    * fixed query terms: tf from a pushed `w IN (terms)` filter over the
    * bucketed positional artifact — only the query vocabulary's postings
    * are ever read — aggregated per doc ON the doc_id-bucketed layout
    * (exchange-free partials), dl/avgdl/N off the docFeatures artifact,
    * df pivoted with N and avgdl into ONE broadcast row. Top-50 via
    * orderBy+limit = TakeOrderedAndProject (bounded heaps, no global
    * sort).
    *
    * Float discipline: the per-term scores land in FIXED columns (tf0..
    * tf2 — a 3-term query is a 3-column pivot, never a variable-order
    * SUM over term rows, whose addition order is partition-dependent),
    * the score is one left-associated expression with the same literal
    * constants on both engines (k1 = 1.2, b = 0.75 — so 1-b = 0.25 is
    * exact binary), and only the final display value is rounded.
    *
    * One residual cross-engine assumption the discipline above cannot
    * remove: the idf's natural log itself — the hash gate holds only
    * because JVM `Math.log` and DuckDB's `ln` agree to the last ulp on
    * every idf this corpus produces at each `round(score, 4)` boundary
    * (libm implementations may differ by 1 ulp in general; a mismatch
    * would downgrade this query to a rows+tolerance gate, the q34
    * treatment). The fixed 3-term vocabulary keeps the exposed idf set
    * tiny and stable, which is why the assumption has held across every
    * fixture regeneration. */
  def q129Bm25(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Bm25Terms
    val tf = DedupQueries.spanFeatures(spark, sfDir)
      .select("doc_id", "w").where(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // one broadcast row: N, avgdl, and each term's df in a fixed slot
    val corpus = docFeatures(spark, sfDir)
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum("token_cnt").cast("double") / count(lit(1)).cast("double"))
          .as("avgdl"))
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, col("df")).otherwise(0L))
        .cast("double").as(s"df$i")
    }
    val dfs = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .agg(dfCols.head, dfCols.tail: _*)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, col("tf")).otherwise(0L))
        .cast("double").as(s"tf$i")
    }
    val perDoc = tf.groupBy("doc_id").agg(tfCols.head, tfCols.tail: _*)
    val dl = col("token_cnt").cast("double")
    def part(i: Int): Column = {
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) /
        (col(s"df$i") + 0.5) + 1.0)
      idf * (col(s"tf$i") * 2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * dl / col("avgdl")))
    }
    val scored = perDoc
      .join(docFeatures(spark, sfDir).select("doc_id", "token_cnt"),
        Seq("doc_id"))
      .crossJoin(broadcast(corpus.crossJoin(dfs)))
      .withColumn("score", part(0) + part(1) + part(2))
    scored.orderBy(col("score").desc, col("doc_id")).limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), round(col("score"), 4).as("bm25"), col("rk"))
      .orderBy("rk")
  }
}
