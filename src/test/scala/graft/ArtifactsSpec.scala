package graft

import graft.operators.DedupQueries

/** Registry contracts that the operator suites exercise only
  * implicitly. */
class ArtifactsSpec extends SparkSpec {

  test("a second live session cannot rebuild another session's artifact") {
    // rebuilding drops + rewrites the warehouse files while the first
    // session's live plans may still reference them, so the registry
    // refuses rather than silently corrupting the owner — the
    // single-active-session assumption, enforced instead of assumed.
    DedupQueries.shingles(spark, sfDir).count() // owned by the shared session
    val other = spark.newSession()
    val e = intercept[IllegalStateException] {
      DedupQueries.shingles(other, sfDir)
    }
    assert(e.getMessage.contains("another live session"))
  }

  test("release frees a child session's claim for the next owner") {
    // a newSession() child shares the SparkContext, so it can never be
    // "stopped" on its own and its WeakReference stays uncleared for an
    // arbitrary GC's lifetime — without the explicit release, every other
    // session gets a nondeterministic IllegalStateException for the name.
    val name = "graft_release_probe_"
    val child = spark.newSession()
    Artifacts.materialize(child, sfDir, name, "id") {
      child.range(5).toDF("id")
    }
    val e = intercept[IllegalStateException] {
      Artifacts.materialize(spark, sfDir, name, "id") {
        spark.range(5).toDF("id")
      }
    }
    assert(e.getMessage.contains("another live session"))
    Artifacts.release(child)
    val df = Artifacts.materialize(spark, sfDir, name, "id") {
      spark.range(5).toDF("id")
    }
    assert(df.count() === 5)
  }

  test("materialize is idempotent per session: one build, stable reads") {
    // equal counts alone would also pass if every call silently REBUILT
    // the table (the rebuild is deterministic); the real contract is
    // build-once, so pin the physical files: same names, same mtimes
    // across calls means the second call wrote nothing.
    def listing(): Map[String, Long] = {
      val name = Artifacts.nameOf(spark, sfDir, "graft_shingles_")
      val dir = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        name)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(dir).map(f => f.getPath -> f.lastModified()).toMap
    }
    val a = DedupQueries.shingles(spark, sfDir)
    val first = listing()
    assert(first.nonEmpty)
    val b = DedupQueries.shingles(spark, sfDir)
    assert(a.count() === b.count())
    assert(listing() === first, "second materialize call rewrote files")
  }

  test("a rewritten input dir rebuilds: consumers never serve stale rows") {
    // freshness is a hard contract, not a comment: Tables.dirKey folds a
    // listing fingerprint (per-file path + length + mtime) into every
    // artifact name, so rewriting the files under an input dir
    // mid-session re-keys — and therefore rebuilds — every artifact
    // derived from it. Without the fingerprint this test reads the FIRST
    // corpus's shingles after the rewrite.
    import spark.implicits._
    val dir = scratchDir("graft-fresh-").toString
    try {
      def write(texts: Seq[String]): Unit =
        texts.zipWithIndex
          .map { case (t, i) =>
            (i.toLong, t, "en", "unit", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      write(Seq("alpha beta gamma delta epsilon zeta",
        "one two three four five six seven"))
      val before = DedupQueries.shingles(spark, dir).count()
      // rewrite IN PLACE: same dir path, different corpus
      write(Seq("alpha beta gamma delta epsilon zeta eta theta iota",
        "one two three four five six seven eight nine ten",
        "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      val after = DedupQueries.shingles(spark, dir).count()
      assert(after > before,
        s"rewritten dir served stale shingles (before=$before after=$after)")
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("a rewritten dir also retrains the driver-side model caches") {
    // the artifact registry re-keys via the listing fingerprint; the
    // codebook/PQ-model/dedup-trio caches key by the same Tables.dirKey,
    // so a rewrite must RETRAIN rather than assign the fresh vectors
    // against stale centroids — the one driver-side cache class the
    // artifact re-keying alone would not cover
    import spark.implicits._
    import graft.operators.SimilarityQueries
    val dir = scratchDir("graft-fresh-vec-").toString
    try {
      def write(scale: Float): Unit =
        (0L until 8L).map(i =>
          (i, Array.fill(SimilarityQueries.Dims)(i * scale), "l"))
          .toDF("vec_id", "embedding", "label")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      write(1.0f)
      val before = SimilarityQueries.codebookAt(spark, dir, 4)
      write(5.0f) // same ids, same count — only the content changed
      val after = SimilarityQueries.codebookAt(spark, dir, 4)
      assert(before !== after,
        "rewritten dir served a stale codebook from the driver cache")
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("Memo: one build per (session, dir, tag), a rewrite rebuilds, " +
      "builds may nest, and a lost race keeps the first value") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    val dir = scratchDir("graft-memo-").toString
    def write(n: Int): Unit =
      (0 until n).toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
    write(1)

    // one build per (session, dir, tag); a rewritten dir re-keys
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val memo = new Artifacts.Memo[Int]
    def get(s: org.apache.spark.sql.SparkSession, tag: String): Int =
      memo(s, dir, tag)(builds.incrementAndGet())
    assert(get(spark, "a") === 1)
    assert(get(spark, "a") === 1)
    assert(get(spark, "b") === 2)
    assert(get(spark.newSession(), "a") === 3)
    assert(builds.get === 3)
    write(2)
    assert(get(spark, "a") === 4)
    assert(get(spark, "a") === 4)

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // the lock-order rule: a memo build may materialize an artifact
      // (whose build reads a memo) and consult another memo, and the
      // memo's lock is free meanwhile — another thread's hit on the
      // same memo completes while the build is still running
      val outer = new Artifacts.Memo[Long]
      val inner = new Artifacts.Memo[Long]
      assert(outer(spark, dir, "ready")(7L) === 7L)
      val n = outer(spark, dir, "nested") {
        val hit = Future(outer(spark, dir, "ready")(-1L))
        assert(Await.result(hit, 60.seconds) === 7L)
        Artifacts.materialize(spark, dir, "graft_memo_probe_", "id") {
          spark.range(inner(spark, dir, "n")(3L)).toDF("id")
        }.count() + inner(spark, dir, "n")(-1L)
      }
      assert(n === 6L)

      // two threads miss the same key and both build; the first to
      // store wins and the second caller gets the first value too
      val race = new Artifacts.Memo[String]
      val bothBuilding = new CountDownLatch(2)
      val firstStored = new CountDownLatch(1)
      def build(v: String, after: Option[CountDownLatch]): String = {
        bothBuilding.countDown()
        assert(bothBuilding.await(60, TimeUnit.SECONDS))
        after.foreach(l => assert(l.await(60, TimeUnit.SECONDS)))
        v
      }
      val first = Future {
        try race(spark, dir, "race")(build("first", None))
        finally firstStored.countDown()
      }
      val second = Future(race(spark, dir, "race")(
        build("second", Some(firstStored))))
      assert(Await.result(first, 120.seconds) === "first")
      assert(Await.result(second, 120.seconds) === "first")
    } finally pool.shutdown()
  }

  test("spark.graft.dirFingerprint=false keys by path only") {
    // the production escape hatch for immutable versioned snapshot
    // layouts: no listing, path hash alone — a rewrite then does NOT
    // re-key (the operator has declared dirs immutable)
    import spark.implicits._
    val dir = scratchDir("graft-fresh-knob-").toString
    def write(text: String): Unit =
      Seq((0L, text)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    try {
      write("one")
      val k1 = Tables.dirKey(spark, dir)
      write("two")
      assert(Tables.dirKey(spark, dir) !== k1, "fingerprint on: rewrite must re-key")
      spark.conf.set("spark.graft.dirFingerprint", "false")
      val k3 = Tables.dirKey(spark, dir)
      write("three")
      assert(Tables.dirKey(spark, dir) === k3, "fingerprint off: key must be stable")
    } finally {
      spark.conf.unset("spark.graft.dirFingerprint")
      GraftSession.deleteRecursively(new java.io.File(dir))
    }
  }
}
