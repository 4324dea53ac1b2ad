package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The partition-bounded refresh must equal the full rebuild — on the
  * real snapshot pair, and on the exact construction that makes
  * doc-local refresh UNSOUND (a removed doc that was an untouched
  * survivor's best match). Plus the boundedness claim itself: a delta
  * confined to one end of the key space leaves the other end's
  * partitions untouched. */
class SuffixRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def perDocRows(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_id", "max_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  private def fullRebuild(docs: DataFrame): Seq[(Long, Long)] =
    perDocRows(SuffixQueries.suffixRepeatsOf(docs,
      SuffixQueries.PrefixCap, 1))

  /** Build the A state for a constructed corpus and refresh it. */
  private def refreshConstructed(docsA: DataFrame, removed: DataFrame,
      added: DataFrame, parts: Int): SuffixRefresh.RefreshResult = {
    val tagged = SuffixRefresh.taggedIndexOf(docsA, parts).localCheckpoint()
    SuffixRefresh.refreshOf(spark, tagged,
      SuffixRefresh.innerMaxOf(tagged),
      SuffixRefresh.toSummaries(SuffixRefresh.summariesOf(tagged)),
      removed, added, minReport = 1)
  }

  test("q154: the bounded refresh equals the full rebuild on the real " +
      "snapshot pair") {
    val refreshed = perDocRows(SuffixRefresh.q154SuffixRefresh(spark, sfDir))
    val rebuilt = perDocRows(SuffixQueries.suffixSharedB(spark, sfDir))
    assert(refreshed === rebuilt)
    assert(refreshed.nonEmpty)
  }

  test("removed-best-match construction (the q116 unsoundness case): " +
      "the affected-partition rescan lowers the untouched survivor") {
    // doc 1 and doc 2 share a long substring; doc 3 is unrelated.
    // Removing doc 2 must LOWER untouched doc 1's max — the case that
    // breaks doc-local refresh. The shared block sits in affected
    // partitions by construction (doc 2's rows are there).
    val shared = "the quick brown fox jumps over the lazy dog again"
    val docsA = Seq(
      (1L, s"alpha $shared omega"),
      (2L, s"prefix $shared suffix"),
      (3L, "completely unrelated content with nothing in common zzz"))
      .toDF("doc_id", "text")
    val removed = docsA.where($"doc_id" === 2L).select("doc_id", "text")
    val added = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val res = refreshConstructed(docsA, removed, added, parts = 4)
    val docsB = docsA.where($"doc_id" =!= 2L)
    assert(perDocRows(res.perDoc) === fullRebuild(docsB))
    // and the survivor's value genuinely DROPPED vs snapshot A
    val before = fullRebuild(docsA).toMap
    val after = perDocRows(res.perDoc).toMap
    assert(after.getOrElse(1L, 0L) < before(1L),
      s"doc 1 should lose its best match: $before -> $after")
  }

  test("edits and additions route to the right partitions and the " +
      "refresh equals the rebuild (keys above, below, and between " +
      "stored boundaries)") {
    val docsA = Seq(
      (1L, "aaaa aaab aaac aaad"),
      (2L, "aaab aaac aaad aaae"),
      (3L, "mmmm mmmn mmmo mmmp"),
      (4L, "mmmn mmmo mmmp mmmq"),
      (5L, "zzzz zzzy zzzx zzzw"),
      (6L, "zzzy zzzx zzzw zzzv"))
      .toDF("doc_id", "text")
    // edit doc 3 (remove+add), add doc 7 below every stored key ("!"),
    // add doc 8 above every stored key ("~")
    val removed = docsA.where($"doc_id" === 3L).select("doc_id", "text")
    val added = Seq(
      (3L, "mmmm mmmn mmmo EDITED"),
      (7L, "!!!! early keys aaab"),
      (8L, "~~~~ late keys zzzy"))
      .toDF("doc_id", "text")
    val res = refreshConstructed(docsA, removed, added, parts = 4)
    val docsB = docsA.where($"doc_id" =!= 3L).unionByName(added)
    assert(perDocRows(res.perDoc) === fullRebuild(docsB))
  }

  test("advance: manifest-backed state chains CONSECUTIVE deltas — " +
      "each advance equals the full rebuild of its corpus, state " +
      "history time-travels") {
    import graft.sources.ManifestTable
    val rootBase = scratchDir("graft-sfxstate").toString
    val docsA = Seq(
      (1L, "shared payload alpha beta gamma delta epsilon"),
      (2L, "shared payload alpha beta gamma delta zeta"),
      (3L, "unrelated content one two three four five six"),
      (4L, "another isolated doc with its own words entirely"),
      (5L, "payload alpha beta gamma overlap again here too"))
      .toDF("doc_id", "text")
    val roots = SuffixRefresh.buildState(spark, docsA, parts = 4, rootBase)
    // the built state reproduces the direct construction
    assert(perDocRows(SuffixRefresh.perDocFromState(spark, roots)) ===
      fullRebuild(docsA))
    // delta 1: remove doc 2 (doc 1's best match), edit doc 3
    val rem1 = docsA.where($"doc_id".isin(2L, 3L)).select("doc_id", "text")
    val add1 = Seq((3L, "unrelated content one two three EDITED"))
      .toDF("doc_id", "text")
    SuffixRefresh.advance(spark, roots, rem1, add1)
    val docsB1 = docsA.where(!$"doc_id".isin(2L, 3L)).unionByName(add1)
    assert(perDocRows(SuffixRefresh.perDocFromState(spark, roots)) ===
      fullRebuild(docsB1), "first advance diverged from rebuild")
    // delta 2 ON THE ADVANCED STATE: add a new best match for doc 1
    val rem2 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val add2 = Seq((9L, "shared payload alpha beta gamma delta eta"))
      .toDF("doc_id", "text")
    SuffixRefresh.advance(spark, roots, rem2, add2)
    val docsB2 = docsB1.unionByName(add2)
    assert(perDocRows(SuffixRefresh.perDocFromState(spark, roots)) ===
      fullRebuild(docsB2), "chained advance diverged from rebuild")
    // every advance committed a new version of each state table; v1 of
    // the index still reads as snapshot A's row count
    assert(ManifestTable.currentVersion(spark, roots.index) === Some(3))
    val aPositions = docsA.select(length($"text")).collect()
      .map(_.getInt(0).toLong).sum
    assert(ManifestTable.readAt(spark, roots.index, 1).count() ===
      aPositions)
    // CRASHED-advance recovery: simulate an advance that committed two
    // child tables but died BEFORE the catalog pointer — the orphaned
    // commits must be invisible to readers (the catalog pins the last
    // complete transaction), and the next advance must roll them back
    // and still equal the rebuild
    ManifestTable.append(spark, roots.sums,
      ManifestTable.read(spark, roots.sums).limit(1))
    ManifestTable.append(spark, roots.index,
      ManifestTable.read(spark, roots.index).limit(3))
    assert(perDocRows(SuffixRefresh.perDocFromState(spark, roots)) ===
      fullRebuild(docsB2),
      "a torn (post-crash) state leaked into a catalog-pinned read")
    val rem3 = docsB2.where($"doc_id" === 4L).select("doc_id", "text")
    val add3 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    SuffixRefresh.advance(spark, roots, rem3, add3)
    val docsB3 = docsB2.where($"doc_id" =!= 4L)
    assert(perDocRows(SuffixRefresh.perDocFromState(spark, roots)) ===
      fullRebuild(docsB3),
      "advance after a simulated crash diverged from the rebuild")
  }

  test("boundedness: a delta confined to one end of the key space " +
      "leaves the other end's partitions out of the rescan") {
    // two well-separated key clusters; many partitions so each cluster
    // owns several. A delta editing only a z-cluster doc must not
    // touch the a-cluster's partitions.
    def block(c: Char, salt: Int): String =
      (0 until 12).map(i => s"$c$c$c${(salt * 31 + i) % 97}").mkString(" ")
    val docsA = ((1L to 8L).map(i => (i, block('a', i.toInt))) ++
      (11L to 18L).map(i => (i, block('z', i.toInt)))).toDF("doc_id", "text")
    val removed = docsA.where($"doc_id" === 11L).select("doc_id", "text")
    val added = Seq((11L, block('z', 99))).toDF("doc_id", "text")
    val res = refreshConstructed(docsA, removed, added, parts = 8)
    assert(res.affectedParts.size < res.totalParts,
      s"nothing was pruned: ${res.affectedParts} of ${res.totalParts}")
    // and still exact
    val docsB = docsA.where($"doc_id" =!= 11L).unionByName(added)
    assert(perDocRows(res.perDoc) === fullRebuild(docsB))
  }
}
