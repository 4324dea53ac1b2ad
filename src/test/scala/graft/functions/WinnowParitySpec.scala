package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.operators.TextQueries

/** Differential test for the native winnowing expression:
  * [[WinnowFingerprints]] must agree with the nested transform/md5/
  * array_min HOF tree it replaced — element order included (both dedup
  * in first-occurrence order) — on real corpus rows and the length edge
  * cases (empty, shorter than the gram, fewer grams than the window).
  * The corpus-wide safety net: q26's oracle hash derives the identical
  * keys in DuckDB. */
class WinnowParitySpec extends SparkSpec {
  import spark.implicits._

  test("native WinnowFingerprints == HOF reference, order included") {
    val rng = new scala.util.Random(7)
    val alpha = "ab 1"
    val randomDocs = (1 to 60).map { _ =>
      Seq.fill(rng.nextInt(40))(alpha(rng.nextInt(alpha.length))).mkString
    }
    val synthetic = Seq(
      "",              // empty norm: one gram (md5 of ""), one window
      "abc",           // shorter than the 8-char gram
      "abcdefgh",      // exactly one gram
      "abcdefghijk",   // grams < window: one whole-list window
      ("repeat " * 30).trim, // heavy recurrence: minima collapse
      "Mixed CASE with 123 numbers and punct!!! runs")
    // corpus texts capped at 160 chars: the HOF reference re-evaluates
    // the interpreted gram-hash array per WINDOW element once Catalyst
    // collapses the projects (O(len^2) interpreted md5s — the very cost
    // the native expression removes), so full-length corpus docs make
    // this differential take minutes for no extra coverage. For the
    // same reason the twin runs over a fixed 1-in-16 sample of the
    // corpus (a seeded hash of doc_id; ~96 s over all of it): parity is
    // per row, so a fixed sample pins it as hard. The native side runs
    // over the whole corpus at full length in the production test
    // below.
    val docs = graft.Tables.documents(spark, sfDir)
      .where(pmod(hash(col("doc_id"), lit(20261019)), lit(16)) === 0)
      .select(substring(col("text"), 1, 160).as("text")).as[String]
      .collect().toSeq ++ synthetic ++ randomDocs
    val native = Bridge.column(WinnowFingerprints(
      Bridge.expression(Text.normalized(col("text"))), 8, 4))
    val rows = docs.toDF("text")
      .select(native.as("native"), TextQueries.q26HofReference(col("text")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // non-degenerate: some doc has several fingerprints, some exactly one
    assert(rows.exists(_.getSeq[Long](0).size > 2))
    assert(rows.exists(_.getSeq[Long](0).size == 1))
  }

  test("native WinnowFingerprints over the whole corpus at full length " +
      "and q26's (8, 4): every doc keeps at least one fingerprint") {
    val fps = Bridge.column(WinnowFingerprints(
      Bridge.expression(Text.normalized(col("text"))), 8, 4))
    val sizes = graft.Tables.documents(spark, sfDir)
      .select(size(fps).as("n")).as[Int].collect()
    assert(sizes.nonEmpty)
    assert(sizes.forall(_ >= 1), "a document lost every fingerprint")
    assert(sizes.exists(_ > 2))
  }

  test("q26's plan runs the native expression, no interpreted lambda") {
    val df = TextQueries.q26Fingerprint(spark, sfDir)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_winnow"), s"winnow not native:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"interpreted lambda in q26's plan:\n$plan")
  }

  test("graft_winnow is SQL-registered with the same semantics") {
    val got = spark.sql(
      "SELECT graft_winnow('abcdefghij', 8, 4) AS f").head().getSeq[Long](0)
    // 10 chars -> 3 grams -> fewer than window -> one whole-list min
    assert(got.size === 1)
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_winnow('abc', 0, 4)").collect()
    }
    assert(bad.getMessage.contains(">= 1"))
  }
}
