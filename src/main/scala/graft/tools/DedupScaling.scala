package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.functions.Text
import graft.metrics.MetricsReport
import graft.operators.DedupQueries

/** Data-GROWTH sweep for the dedup/span family — the missing half of
  * [[ScalingBench]]'s thread sweep: hold threads at 32 and grow the
  * corpus instead, so the narrow-key exact-dedup claim (q15: the
  * corpus-wide exchange carries 8-byte hashes, so shuffle grows with
  * ROWS, never with text bytes) and the span-feature claim (q88: the
  * exchanges carry (doc_id, g, occ) triples off map-side-generated
  * 60-bit keys) each get a measured wall/shuffle curve against data
  * size, not just a single sf0.1 snapshot.
  *
  * Growth model: k-fold self-union with REMAPPED doc_ids (each copy's
  * ids offset by 10^7·copy), i.e. a k× re-crawl — every original doc
  * becomes a k-member exact-dup group and every recurring 8-gram's
  * corpus count multiplies by k. That is the adversarial direction for
  * both workloads (dup-group metadata grows with k; every position
  * becomes a duplicated span at k ≥ 2), so the measured growth is an
  * upper bound on the organic-corpus case where most new content is
  * fresh.
  *
  * Both workloads run the SHIPPED plans' shapes over the amplified
  * relation (same helpers: [[DedupQueries.normHash]] for the q15
  * corpus pass, [[DedupQueries.spanFeaturesOf]] for the q88 gram
  * keys) — not the artifact-backed query entries, whose artifacts are
  * keyed to the on-disk dir and would hide the compute being measured.
  *
  *   runMain graft.tools.DedupScaling [sfDir] [out.md]
  */
object DedupScaling {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.create("graft-dedupscaling", Some("local[32]"))
    val metrics = MetricsReport.install(spark)

    /** k disjoint-id copies of the documents table (re-crawl model). */
    def amplified(k: Int): DataFrame = {
      val d = Tables.documents(spark, sfDir).select("doc_id", "text")
      (0 until k).map { c =>
        d.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _)
    }

    /** q15's corpus-wide pass: hash-group (count, min) over
      * xxhash64(norm) — the exchange the narrow-key design narrows. */
    def exactDedup(docs: DataFrame): Long =
      docs
        .select(DedupQueries.normHash(Text.normalized(col("text"))).as("h"),
          col("doc_id"))
        .groupBy("h")
        .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"))
        .count()

    /** q88's plan over map-side span keys: per-(doc, gram-key) counts →
      * per-key totals → join back → per-doc duplicated fraction. */
    def dupSpans(docs: DataFrame): Long = {
      val pos = DedupQueries.spanFeaturesOf(docs)
        .where(col("g").isNotNull).select("doc_id", "pos", "g")
      val perDocGram = pos.groupBy("doc_id", "g")
        .agg(count(lit(1)).as("occ"))
      val gramTotals = perDocGram.groupBy("g")
        .agg(sum(col("occ")).as("total"))
      perDocGram.join(gramTotals, Seq("g"))
        .groupBy("doc_id")
        .agg(sum(col("occ")).as("total_spans"),
          sum(when(col("total") >= 2, col("occ")).otherwise(0L))
            .as("dup_spans"))
        .count()
    }

    /** q94's plan shape: distinct (doc, key) → per-key document
      * frequency → join back → per-doc novelty. q88's topology with df
      * in place of occurrence totals — measured separately because the
      * distinct adds one exchange the occurrence path doesn't pay. */
    def ngramNovelty(docs: DataFrame): Long = {
      val pos = DedupQueries.spanFeaturesOf(docs)
        .where(col("g").isNotNull).select("doc_id", "pos", "g")
      val gramDocs = pos.select("doc_id", "g").distinct()
        .groupBy("g").agg(count(lit(1)).as("n_docs"))
      pos.join(gramDocs, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("total_spans"),
          sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("novel_spans"))
        .count()
    }

    /** q93's plan shape: snapshot A's tokens off the census rows,
      * snapshot B's derived INCREMENTALLY (anti-join the stale ids,
      * tokenize only the changed/added docs — q79's rules inlined),
      * vocab-count aggregates both sides, full-outer drift join,
      * 1-row broadcast totals. The exchanges after the two corpus
      * scans are all vocab-sized — the claim this sweep checks. */
    def tokenDrift(docs: DataFrame): Long = {
      val aTok = DedupQueries.spanFeaturesOf(docs).select("doc_id", "w")
      val stale = docs.where(col("doc_id") % 10 === 7 ||
        col("doc_id") % 10 === 3).select("doc_id")
      val b = graft.operators.CurationPipeline.snapshotB(docs)
      val freshTok = b.where(col("doc_id") < 0 || col("doc_id") % 10 === 3)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      val bTok = aTok.join(stale, Seq("doc_id"), "left_anti")
        .unionByName(freshTok)
      val joined = aTok.groupBy("w").agg(count(lit(1)).as("cnt_a"))
        .join(bTok.groupBy("w").agg(count(lit(1)).as("cnt_b")),
          Seq("w"), "full_outer")
      val totals = joined.agg(sum("cnt_a").as("tot_a"), sum("cnt_b").as("tot_b"))
      joined.crossJoin(broadcast(totals)).count()
    }

    /** q96's learning loop (5 rounds — enough to show the shape without
      * 25 sequential rounds per sweep cell): the corpus-proportional
      * part is the ONE word-count aggregate; every round after it runs
      * over the vocabulary relation, which the k-fold amplification
      * leaves UNCHANGED (same words, inflated counts — Heaps' law made
      * literal), so the wall column should stay near-flat across k. */
    def bpeLearn(docs: DataFrame): Long =
      graft.operators.TextQueries.learnBpeMergesFrom(
        DedupQueries.spanFeaturesOf(docs)
          .groupBy(col("w").as("word")).agg(count(lit(1)).as("cnt")),
        rounds = 5).size.toLong

    /** q102's two-pass heavy-hitter plan over the amplified bigram
      * stream. The claims under growth: the SKETCH is size-invariant
      * (4x4096 longs regardless of k — it merges by vector addition),
      * and the verify exchange carries only cleared keys, which k-fold
      * amplification leaves UNCHANGED (same bigrams, counts and the
      * phi threshold both scale by k, so the heavy set is identical). */
    def heavyHitters(docs: DataFrame): Long =
      graft.operators.TextQueries.heavyHittersOf(
        graft.operators.TextQueries.bigramsFrom(
          DedupQueries.spanFeaturesOf(docs))).count()

    /** q106's decode+hash+banded-join plan over the amplified image
      * corpus. Adversarial on purpose: every doc's k disjoint-id copies
      * render IDENTICAL images, so each original doc contributes a
      * k-clique of hamming-0 pairs — pair output grows ~k^2/2 while the
      * exchange before the join stays 8 bytes per image. */
    def imageNearDup(docs: DataFrame): Long =
      graft.operators.MultimodalPipeline.imageNearDupOf(
        graft.operators.MultimodalPipeline.bmpMediaTableOf(docs), 7).count()

    /** q111's conditional-LM scoring over the amplified corpus: the
      * claims under growth are that the MODEL side (bigram/history
      * count tables) stays vocab²-bounded — k-fold amplification
      * inflates counts, not rows — and the per-doc exchange carries
      * only (doc_id, 2 longs) partials. */
    def bigramLm(docs: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val feats = DedupQueries.spanFeaturesOf(docs)
        .select("doc_id", "pos", "w")
      val win = Window.partitionBy("doc_id").orderBy("pos")
      val bg = feats.select(col("doc_id"), col("w").as("w1"),
          lead("w", 1).over(win).as("w2"),
          (lead("pos", 1).over(win) === col("pos") + 1).as("ok"))
        .where(col("ok")).select("doc_id", "w1", "w2")
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
      val hist = bg.groupBy("w1").agg(count(lit(1)).as("hc"))
      val v = feats.agg(count_distinct(col("w"))).head.getLong(0)
      bg.join(broadcast(bc), Seq("w1", "w2"))
        .join(broadcast(hist), Seq("w1"))
        .select(col("doc_id"),
          floor(log((col("hc") + lit(v).cast("double")) /
            (col("bc") + lit(1).cast("double"))) * 1e6).as("lpm"))
        .groupBy("doc_id")
        .agg(sum(col("lpm")), count(lit(1)))
        .count()
    }

    /** q105's bisection over k-fold events values (ranks scale by k; at
      * k >= 1 here N exceeds the collect clamp, so the histogram loop
      * actually descends — the 3-scans-at-any-N claim measured). */
    def quantiles(k: Int): Long = {
      val v0 = Tables.events(spark, sfDir).select("value")
        .where(col("value").isNotNull) // q105's pinned null policy
      val v = (0 until k).map(_ => v0).reduce(_ unionByName _)
      val first = v.agg(count(lit(1)), min("value"), max("value")).head
      val n = first.getLong(0)
      Seq(50, 95, 99).map { p =>
        graft.operators.RelationalQueries.quantileByBisect(
          v, n, first.getDouble(1), first.getDouble(2), (n * p + 99) / 100,
          collectLimit = 100000L)
      }.size.toLong
    }

    // warm codegen/scan paths once at k=1 so k-row deltas are not
    // measuring Janino compiles
    exactDedup(amplified(1)); dupSpans(amplified(1))
    ngramNovelty(amplified(1)); tokenDrift(amplified(1))
    bpeLearn(amplified(1)); heavyHitters(amplified(1))
    imageNearDup(amplified(1)); quantiles(1); bigramLm(amplified(1))

    def measure(f: () => Long): (Double, Double) = {
      val w = (1 to 3).map(_ => metrics.window(f())).minBy(_.wallS)
      (w.wallS, w.shuffleMb)
    }

    val table = new StringBuilder
    table ++= s"| k | docs | positions | q15 s | q15 MB | q88 s | q88 MB " +
      "| q94 s | q94 MB | q93 s | q93 MB | q96(5) s | q96 MB |\n"
    table ++= "|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    Seq(1, 4, 16, 32).foreach { k =>
      val docs = amplified(k)
      val nDocs = docs.count()
      val nPos = DedupQueries.spanFeaturesOf(docs).count()
      val (dedupS, dedupMb) = measure(() => exactDedup(docs))
      val (spanS, spanMb) = measure(() => dupSpans(docs))
      val (novS, novMb) = measure(() => ngramNovelty(docs))
      val (driftS, driftMb) = measure(() => tokenDrift(docs))
      val (bpeS, bpeMb) = measure(() => bpeLearn(docs))
      val row = f"| $k | $nDocs | $nPos | $dedupS%.2f | $dedupMb%.2f " +
        f"| $spanS%.2f | $spanMb%.2f | $novS%.2f | $novMb%.2f " +
        f"| $driftS%.2f | $driftMb%.2f | $bpeS%.2f | $bpeMb%.2f |"
      println(s"[dedupscaling] $row")
      table ++= row + "\n"
    }
    println(table.result())

    val t11 = new StringBuilder
    t11 ++= s"| k | q102 s | q102 MB | q106 s | q106 MB | q105 s | q105 MB | q111 s | q111 MB |\n"
    t11 ++= "|---|---|---|---|---|---|---|---|---|\n"
    Seq(1, 4, 16, 32).foreach { k =>
      val docs = amplified(k)
      val (hhS, hhMb) = measure(() => heavyHitters(docs))
      val (imS, imMb) = measure(() => imageNearDup(docs))
      val (qS, qMb) = measure(() => quantiles(k))
      val (lmS, lmMb) = measure(() => bigramLm(docs))
      val row = f"| $k | $hhS%.2f | $hhMb%.2f | $imS%.2f | $imMb%.2f " +
        f"| $qS%.2f | $qMb%.2f | $lmS%.2f | $lmMb%.2f |"
      println(s"[dedupscaling-r11] $row")
      t11 ++= row + "\n"
    }
    println(t11.result())
    out.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), table.result() + "\n" + t11.result()))
    spark.stop()
  }
}
