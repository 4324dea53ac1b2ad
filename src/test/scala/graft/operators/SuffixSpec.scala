package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.CommonPrefixLen

/** The suffix-sort family (q114): the native LCP expression pinned
  * against a plain-Scala reference (interpreted AND codegen paths), the
  * whole pipeline pinned against an exhaustive brute force on random
  * corpora (every substring of every doc-pair — independent of the
  * adjacent-pair theorem the pipeline relies on, so a hole in the
  * theorem's application fails here), and the prefix-doubling twin
  * pinned order-isomorphic to the direct bounded sort. */
class SuffixSpec extends SparkSpec {

  // ---- CommonPrefixLen ---------------------------------------------------

  private def refPrefixChars(a: String, b: String): Int = {
    // reference via code points, independent of the byte-scan impl
    val ac = a.codePoints.toArray
    val bc = b.codePoints.toArray
    var i = 0
    while (i < math.min(ac.length, bc.length) && ac(i) == bc(i)) i += 1
    i
  }

  test("common_prefix_len: eval + codegen == code-point reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(1207)
    val alphabets = Seq("ab", "abc ", "aé∆😀b") // 1/2/3/4-byte chars
    val cases = Seq(("", ""), ("", "a"), ("abc", "abc"), ("abc", "abd"),
      ("éé", "éa"), ("∆∆a", "∆∆b"), ("a😀", "a😁")) ++
      (1 to 300).map { _ =>
        val alpha = alphabets(rnd.nextInt(alphabets.length))
        def mk = (0 until rnd.nextInt(12)).map(_ =>
          alpha.codePoints.toArray.apply(rnd.nextInt(
            alpha.codePoints.toArray.length))).flatMap(
          Character.toChars(_)).mkString
        (mk, mk)
      }
    // interpreted path: direct helper call — and the String twin the
    // fused q114 partition scan uses must agree value-for-value
    for ((a, b) <- cases) {
      val got = CommonPrefixLen.prefixChars(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got === refPrefixChars(a, b), s"helper: '$a' vs '$b'")
      assert(CommonPrefixLen.prefixChars(a, b) === got,
        s"String twin drift: '$a' vs '$b'")
    }
    // codegen path: through a projection over a real DataFrame, plus the
    // SQL registration
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"), CommonPrefixLen.of(col("a"), col("b")).as("l"))
    for (r <- df.collect())
      assert(r.getInt(2) === refPrefixChars(r.getString(0), r.getString(1)),
        s"codegen: '${r.getString(0)}' vs '${r.getString(1)}'")
    assert(spark.sql("SELECT common_prefix_len('graft x', 'graft y') AS l")
      .head.getInt(0) === 6)
    // null propagation
    val n = Seq((Option("a"), Option.empty[String])).toDF("a", "b")
      .select(CommonPrefixLen.of(col("a"), col("b"))).head
    assert(n.isNullAt(0))
  }

  test("common_prefix_len twins agree on lone-surrogate edges") {
    // ill-formed UTF-16: the byte twin sees the UTF-8 encoder's
    // replacement ('?') for each lone surrogate; the String twin's trim
    // must fire exactly when the cut splits a pair on at least one side
    val H = "\uD83D" // high surrogate (of 😀)
    val L = "\uDE00"
    val cases = Seq(
      ("x" + H, "x" + H + L, 1), // prefix ends in lone high; pair on b
      ("x" + H + L, "x" + H, 1), // symmetric
      ("x" + H, "x" + H, 2),     // lone on BOTH sides: '?' matches
      (H + "a", H + "b", 1),     // mid-string lone high on both sides
      ("x" + H + L + "y", "x" + H + L + "z", 2)) // well-formed pair kept
    for ((a, b, want) <- cases) {
      val bytes = CommonPrefixLen.prefixChars(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      val chars = CommonPrefixLen.prefixChars(a, b)
      assert(bytes === want, s"byte twin: '$a' vs '$b'")
      assert(chars === want, s"String twin: '$a' vs '$b'")
    }
  }

  // ---- q114 pipeline vs exhaustive brute force ---------------------------

  /** Longest substring of doc d also present in another doc — by hash
    * sets of ALL substrings up to the cap, no suffix machinery. */
  private def bruteMaxShared(docs: Seq[(Long, String)], cap: Int): Map[Long, Int] = {
    def subs(s: String, len: Int): Set[String] =
      (0 to s.length - len).map(i => s.substring(i, i + len)).toSet
    docs.map { case (id, text) =>
      val others = docs.filter(_._1 != id)
      val best = (1 to math.min(cap, text.length)).reverse.find { len =>
        val mine = subs(text, len)
        others.exists(o => subs(o._2, len).exists(mine.contains))
      }.getOrElse(0)
      id -> best
    }.toMap
  }

  test("q114 engine == exhaustive brute force on random small corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    for (trial <- 1 to 6) {
      // tiny alphabet forces heavy sharing, random lengths force the
      // short-suffix / equal-suffix / end-of-doc edges
      val alpha = if (trial % 2 == 0) "ab" else "abc"
      val docs: Seq[(Long, String)] = (1L to 14L).map { id =>
        val len = rnd.nextInt(60)
        id -> (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val want = bruteMaxShared(docs, cap = 128).filter(_._2 >= 1)
      val got = SuffixQueries.suffixRepeatsOf(
        docs.toDF("doc_id", "text"), cap = 128, minReport = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got === want, s"trial $trial (alpha=$alpha) docs=$docs")
    }
  }

  test("q114 cap truncates: identical docs report the cap, not the length") {
    import spark.implicits._
    val long = "x" * 50 + "yz" * 40 // 130 chars, shared end-to-end
    val docs = Seq((1L, long), (2L, long), (3L, "unrelated-short")).toDF("doc_id", "text")
    val got = SuffixQueries.suffixRepeatsOf(docs, cap = 32, minReport = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 32L && got(2L) === 32L)
    assert(!got.contains(3L), "no cross-doc substring for the outlier")
  }

  test("q114 on the fixture: every reported doc at or above the floor") {
    val rows = SuffixQueries.q114SuffixRepeats(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture emits nothing — vacuous gate")
    assert(rows.forall(_.getLong(1) >= SuffixQueries.MinReport))
    assert(rows.forall(_.getLong(1) <= SuffixQueries.PrefixCap))
    // the synthetic corpus is template-heavy: the signal is the SPREAD
    // of values, not mere presence — an LCP bug collapsing everything
    // to one value would pass nonEmpty but fail this
    assert(rows.map(_.getLong(1)).distinct.length >= 3,
      s"suspiciously uniform: ${rows.map(_.getLong(1)).distinct.toSeq}")
  }

  test("q115 source profile: JVM replay off the artifact; no re-sort") {
    // ground truth: the artifact rows + the documents table, aggregated
    // in plain Scala with the documented thresholds
    val shared = SuffixQueries.suffixShared(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      val vals = ds.map(d => shared.getOrElse(d._1, 0L))
      (src, ds.length.toLong,
        vals.count(_ >= SuffixQueries.DupThreshold).toLong, vals.sum)
    }.toSet
    val df = SuffixQueries.q115SourceDupProfile(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === want)
    // artifact discipline: the consumer reads the bucketed table — no
    // position explode, no suffix re-sort anywhere in its plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("graft_suffixshared"),
      s"q115 must read the suffix artifact:\n$plan")
    assert(!plan.contains("Generate"),
      s"q115 re-exploded corpus positions:\n$plan")
  }

  test("q116 global effect: an UNTOUCHED doc's max drops when its dup " +
      "partner is removed — why delta-local refresh is unsound here") {
    import spark.implicits._
    // doc 2 is untouched by the q79 recrawl rules (2 % 10 ∉ {7,3,1});
    // doc 7 is REMOVED; they share a >40-char span. If the suffix table
    // were refreshed q98-style (drop stale rows, recompute fresh ones),
    // doc 2's row would be neither stale nor fresh and would keep its
    // snapshot-A value — wrongly, as this pins.
    val span = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (2L, s"prefix $span suffix-two"),
      (7L, s"intro $span outro-seven"),
      (4L, "zzz completely unrelated filler material qqq")
    ).toDF("doc_id", "text")
    def table(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      SuffixQueries.suffixRepeatsOf(d, cap = 128, minReport = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = table(docs)
    val b = table(CurationPipeline.snapshotB(docs))
    assert(a(2L) >= span.length.toLong, s"A-side span not detected: $a")
    val after = b.getOrElse(2L, 0L)
    assert(after < a(2L),
      s"doc 2's max must DROP when doc 7 leaves (A=${a(2L)}, B=$after)")
    assert(after < 16, s"only noise-level sharing with doc 4 remains: $b")
  }

  test("q116 on the fixture: delta-sized, and every change class present") {
    val rows = SuffixQueries.q116SuffixDelta(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val total = SuffixQueries.suffixShared(spark, sfDir).count()
    assert(rows.length < total,
      s"change report (${rows.length}) must be smaller than the table ($total)")
    // removed docs (id % 10 == 7) end at 0; added docs live in the
    // negative namespace; and the global effect shows up as changed
    // rows for docs the recrawl never touched
    assert(rows.exists { case (id, prev, nw) =>
      id > 0 && id % 10 == 7 && prev > 0 && nw == 0 }, "no removed-doc row")
    assert(rows.exists(_._1 < 0), "no added-doc row")
    assert(rows.exists { case (id, _, _) =>
      id > 0 && id % 10 != 7 && id % 10 != 3 },
      "no untouched-doc row — the global effect should appear at this SF")
  }

  // ---- q118 per-position coverage ----------------------------------------

  test("q118 position match lengths == brute force on random corpora") {
    import spark.implicits._
    def lcpOf(a: String, ai: Int, b: String, bi: Int, cap: Int): Int = {
      var k = 0
      while (k < cap && ai + k < a.length && bi + k < b.length &&
        a.charAt(ai + k) == b.charAt(bi + k)) k += 1
      k
    }
    val rnd = new scala.util.Random(20824)
    for (trial <- 1 to 4) {
      val alpha = if (trial % 2 == 0) "ab" else "abc"
      val docs: Seq[(Long, String)] = (1L to 12L).map { id =>
        id -> (0 until rnd.nextInt(50)).map(_ =>
          alpha(rnd.nextInt(alpha.length))).mkString
      }
      // brute: per position, max common prefix against EVERY position
      // of every other doc — no suffix order, no nearest-neighbor
      // shortcut, so it also re-proves the monotone-lcp argument
      val want = (for {
        (d, t) <- docs; p <- 0 until t.length
        best = (for {
          (o, u) <- docs if o != d
          q <- 0 until u.length
        } yield lcpOf(t, p, u, q, 128)) match {
          case Nil => 0; case ls => ls.max
        }
        if best >= 1
      } yield ((d, p + 1), best)).toMap
      val got = SuffixQueries.positionMatchLengths(
        docs.toDF("doc_id", "text"), cap = 128, minLen = 1)
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2)))
        .toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("q118 coherence: per-doc max of position lengths == q114 artifact") {
    val fromPositions = SuffixQueries.positionMatchLengths(
      graft.Tables.documents(spark, sfDir), SuffixQueries.PrefixCap, 1)
      .groupBy("doc_id").agg(max(col("l")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val fromPairs = SuffixQueries.suffixShared(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromPositions === fromPairs,
      "adjacent-pair per-doc max and per-position max diverged")
  }

  test("q118 coverage on the fixture: bounded, partial, non-vacuous") {
    val rows = SuffixQueries.q118DupCoverage(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, c) =>
      assert(c >= 0 && c <= n, s"doc $id coverage $c outside [0, $n]")
    }
    assert(rows.exists(r => r._3 > 0 && r._3 < r._2),
      "no partially-covered doc — trim semantics untested")
    assert(rows.exists(_._3 == 0) || rows.exists(r => r._3 == r._2),
      "no boundary coverage value at this SF")
  }

  test("q119 trim plan: disjoint ordered spans whose lengths sum to q118") {
    val spans = SuffixQueries.q119TrimPlan(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.nonEmpty)
    val cov = SuffixQueries.q118DupCoverage(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // per doc: strictly ordered, disjoint (merged — a touching pair
    // would have been one island), inside the doc, each at least one
    // full threshold-length match long
    for ((doc, ds) <- spans.groupBy(_._1)) {
      val sorted = ds.sortBy(_._2)
      assert(sorted.sameElements(ds), s"doc $doc spans unsorted")
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray)
           if sorted.length > 1)
        assert(a._3 < b._2, s"doc $doc spans overlap or touch: $a $b")
      val (nChars, dupChars) = cov(doc)
      sorted.foreach { s =>
        assert(s._2 >= 1 && s._3 <= nChars + 1, s"doc $doc span off-doc: $s")
        assert(s._3 - s._2 >= SuffixQueries.DupThreshold,
          s"doc $doc span shorter than a single match: $s")
      }
      assert(sorted.map(s => s._3 - s._2).sum === dupChars,
        s"doc $doc: trim plan does not sum to q118 coverage")
    }
    // docs with zero coverage emit no spans
    val withSpans = spans.map(_._1).toSet
    cov.foreach { case (d, (_, c)) =>
      assert((c > 0) === withSpans.contains(d), s"doc $d span/coverage drift")
    }
  }

  test("q121 trimmed corpus: spans applied, removed == q118 coverage, " +
    "md5 == JVM replay") {
    val got = SuffixQueries.q121SuffixTrimmed(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got.nonEmpty)
    // bookkeeping is exact: kept + removed == n_chars, and removed is
    // doc-for-doc EQUAL to q118's coverage (the spans ARE the union)
    val cov = SuffixQueries.q118DupCoverage(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === cov.keySet, "row universe drift vs q118")
    for ((d, (n, kept, removed, _)) <- got) {
      assert(kept + removed === n, s"doc $d: kept+removed != n_chars")
      assert(removed === cov(d)._2,
        s"doc $d: removed_chars != q118 dup_chars")
    }
    assert(got.values.exists(v => v._3 > 0 && v._2 > 0),
      "no partially-trimmed doc — the reconstruction path is vacuous")
    // md5 replay: cut q119's spans out of each doc's text in plain JVM
    // string code and hash the remainder
    val spans = SuffixQueries.q119TrimPlan(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((d, t) <- texts) {
      val cuts = spans.getOrElse(d, Array.empty).sortBy(_._2)
      val sb = new StringBuilder
      var p = 1L
      for ((_, s, e) <- cuts) {
        sb.append(t.substring((p - 1).toInt, (s - 1).toInt))
        p = e
      }
      sb.append(t.substring((p - 1).toInt))
      assert(got(d)._4 === hex(sb.toString), s"doc $d trimmed md5 drift")
      assert(got(d)._2 === sb.length.toLong, s"doc $d kept_chars drift")
    }
  }

  test("position scan: an oversized corpus splits partitions, not heap") {
    import spark.implicits._
    // 40 docs x 200 chars of heavy sharing; exact heap estimate
    // ~1.9 MB, so a 32 KiB target must fan the range exchange out well
    // past spark.sql.shuffle.partitions — and the result is unchanged
    val rnd = new scala.util.Random(4242)
    val docs = (1L to 40L).map { id =>
      id -> (0 until 200).map(_ => "ab" (rnd.nextInt(2))).mkString
    }.toDF("doc_id", "text")
    val default = SuffixQueries.positionMatchLengths(docs, 128, 1)
    val guarded = SuffixQueries.positionMatchLengths(docs, 128, 1,
      targetPartitionHeap = 32L * 1024)
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(default.rdd.getNumPartitions === base,
      "small corpus should stay at the configured shuffle width")
    assert(guarded.rdd.getNumPartitions > base,
      s"tiny heap target did not split: ${guarded.rdd.getNumPartitions}")
    val d = default.collect().map(r =>
      ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    val g = guarded.collect().map(r =>
      ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    assert(g === d, "partition split changed the scan result")
  }
}
