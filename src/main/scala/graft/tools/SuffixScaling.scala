package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.metrics.MetricsReport
import graft.operators.SuffixQueries

/** Measure the two suffix-array constructions against each other across
  * prefix caps — the tradeoff q114's scaladoc claims, with numbers:
  *
  *  - DIRECT: ship a cap-byte prefix per position through ONE range
  *    exchange (cap·n bytes, one round).
  *  - DOUBLING: ship ~3 longs per position per round for ceil(log2 cap)
  *    rounds of rank/re-rank (Manber–Myers) — fixed-width rows, round
  *    count grows with the cap, early-exits once ranks are total.
  *
  * Both sides are measured to the SAME output granularity (a globally
  * ordered indexed position table); the LCP/aggregate tail is shared and
  * excluded. Expect direct to win at q114's cap 128 and the curves to
  * cross as the cap approaches document length — the regime where the
  * literature doubles.
  *
  *   SPARK_GRAFT_SF_DIR=… runMain graft.tools.SuffixScaling
  */
object SuffixScaling {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create("graft-suffix-scaling", Some("local[32]"))
    val metrics = MetricsReport.install(spark)
    def measured(label: String, f: () => Long): Unit = {
      // min-of-3 wall; shuffle bytes from the min-wall pass (bytes are
      // deterministic per pass — the min guards wall against box load)
      var rows = 0L
      val best = (1 to 3).map(_ => metrics.window { rows = f() })
        .minBy(_.wallS)
      println(f"[suffix] $label%-24s ${best.wallS}%7.2f s ${best.shuffleMb}%9.2f MB " +
        f"shuffle  rows=$rows%d")
    }
    val docs = Tables.documents(spark, sfDir)
    val nPos = SuffixQueries.directSuffixIndex(docs, 1).count()
    println(s"[suffix] corpus positions: $nPos  ($sfDir)")
    for (cap <- Seq(32, 128, 512)) {
      measured(s"direct cap=$cap",
        () => SuffixQueries.directSuffixIndex(docs, cap).count())
      measured(s"doubling cap=$cap",
        () => SuffixQueries.suffixRanksByDoubling(docs, cap).count())
    }
    measured("q114 end-to-end",
      () => SuffixQueries.q114SuffixRepeats(spark, sfDir).count())
    measured("q118 end-to-end",
      () => SuffixQueries.q118DupCoverage(spark, sfDir).count())
    // DATA GROWTH for the suffix family (the DedupScaling model: k
    // disjoint-id copies = a k-fold re-crawl; adversarial — at k >= 2
    // EVERY position carries a cap-length match, so the dup-position
    // exchange is at its maximum). The claim under test: shuffle grows
    // linearly in POSITIONS at a flat bytes/position, never
    // super-linearly; the sort is one exchange at every k.
    def amplified(k: Int) = {
      val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      (0 until k).map { c =>
        d.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _)
    }
    for (k <- Seq(1, 4, 16)) {
      val docs14 = amplified(k)
      measured(s"q114 shape k=$k", () =>
        SuffixQueries.suffixRepeatsOf(docs14, 128, 16).count())
      measured(s"q118 shape k=$k", () =>
        SuffixQueries.positionMatchLengths(docs14, 128, 32).count())
    }
    // the refresh story's write amplification: max_shared is a global
    // property, so the sound refresh recomputes on snapshot B — the
    // incremental value is the WRITE set (q116's change report) vs
    // rewriting the whole table
    val tableRows = SuffixQueries.suffixShared(spark, sfDir).count()
    val deltaRows = SuffixQueries.q116SuffixDelta(spark, sfDir).count()
    println(f"[suffix] q116 write set: $deltaRows of $tableRows rows " +
      f"(${100.0 * deltaRows / math.max(tableRows, 1)}%.1f%% of the table rewritten)")
    spark.stop()
  }
}
