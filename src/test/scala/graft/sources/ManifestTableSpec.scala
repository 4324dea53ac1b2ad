package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.ManifestQueries

/** The manifest-pointer commit: readers resolve whole versions (never a
  * partial table), crashes leave only invisible orphans, history stays
  * readable until vacuumed, concurrent appends serialize through the
  * per-version commit, and a stale-base rewrite ABORTS instead of
  * clobbering a concurrent commit. */
class ManifestTableSpec extends SparkSpec {

  private def freshRoot(): String =
    scratchDir("graft-manifest").toString +
      "/tbl"

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "lang", "text")

  test("overwrite/append/read round trip; append accumulates; " +
      "time travel reads each version exactly") {
    val root = freshRoot()
    val base = docs.where(col("doc_id") % 3 =!= 0)
    val delta = docs.where(col("doc_id") % 3 === 0)
    assert(ManifestTable.overwrite(spark, root, base) === 1)
    assert(ManifestTable.append(spark, root, delta) === 2)
    val all = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(all.toSeq ===
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // time travel: v1 is exactly the base, untouched by the append
    val v1 = ManifestTable.readAt(spark, root, 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(v1.toSeq ===
      base.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(ManifestTable.currentVersion(spark, root) === Some(2))
  }

  test("staged-but-uncommitted files are invisible; vacuum collects " +
      "the crash orphans") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs)
    val before = ManifestTable.read(spark, root).count()
    // simulate a writer that died after staging, before its manifest
    // rename: files land under data/ but no manifest references them
    val orphanDir = new Path(root, "data/c-crashed")
    docs.limit(5).write.parquet(orphanDir.toString)
    assert(ManifestTable.read(spark, root).count() === before,
      "uncommitted staged files leaked into a read")
    val fs = orphanDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a default-retention vacuum must SPARE the young never-referenced
    // files: they could be a concurrent append's staging, and deleting
    // them would corrupt the table the moment that append commits
    assert(ManifestTable.vacuum(spark, root, retain = 1) === 0,
      "vacuum deleted a young unreferenced file inside the retention " +
        "window — an in-flight append's staging would be corrupted")
    assert(fs.exists(orphanDir))
    // with the retention window waived, the crash orphan is collected
    val deleted = ManifestTable.vacuum(spark, root, retain = 1,
      orphanRetentionMs = 0L)
    assert(deleted > 0, "vacuum found no orphan")
    assert(!fs.exists(orphanDir), "orphan commit dir survived vacuum")
    assert(ManifestTable.read(spark, root).count() === before)
  }

  test("optimize: rows identical, fewer files, one-rename swap keeps the " +
      "old version readable; a pre-resolved snapshot is unaffected") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 4 =!= 0).repartition(6))
    for (i <- 0 until 3)
      ManifestTable.append(spark, root,
        docs.where(col("doc_id") % 12 === i * 4).repartition(2))
    val expect = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // a reader mid-query: resolved its snapshot BEFORE the rewrite
    val pinned = ManifestTable.snapshot(spark, root)
    val (v, nBefore, nAfter) =
      ManifestTable.optimize(spark, root, "doc_id", targetFiles = 2)
    assert(v === 5 && nAfter < nBefore,
      s"optimize did not compact: $nBefore -> $nAfter")
    val got = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === expect.toSeq, "optimize changed the rows")
    // snapshot isolation: the pinned pre-optimize file list still reads
    // (commits never delete data files — only vacuum does)
    assert(pinned.read(spark).count() === expect.length)
    // and explicit time travel to the pre-optimize version agrees
    assert(ManifestTable.readAt(spark, root, 4).count() === expect.length)
    // vacuum to the newest version retires history: the old data files
    // go, time travel below the window now fails loudly
    ManifestTable.vacuum(spark, root, retain = 1)
    intercept[IllegalArgumentException] {
      ManifestTable.readAt(spark, root, 4)
    }
    assert(ManifestTable.read(spark, root).count() === expect.length)
    // the clustered layout: n data files whose [lo, hi] bounds, in lo
    // order, ascend without overlap — from overwriteClustered, and from
    // optimize (the same layout) after appends whose one file each spans
    // the whole key domain
    def assertClustered(r: String, n: Int): Unit = {
      val b = ManifestTable.fileStats(spark, r).map(_._2.get).sortBy(_._1)
      assert(b.size === n && b.forall { case (lo, hi) => lo <= hi } &&
        b.zip(b.tail).forall { case ((_, hi), (lo, _)) => hi < lo },
        s"not $n disjoint ascending key ranges: $b")
    }
    val clustered = freshRoot()
    ManifestTable.overwriteClustered(spark, clustered,
      docs.where(col("doc_id") % 4 =!= 0), "doc_id", 6)
    assertClustered(clustered, 6)
    for (i <- 0 until 3)
      ManifestTable.append(spark, clustered,
        docs.where(col("doc_id") % 12 === i * 4).repartition(1),
        boundsCol = Some("doc_id"))
    val (_, filesBefore, filesAfter) =
      ManifestTable.optimize(spark, clustered, "doc_id", targetFiles = 6)
    assert(filesBefore === 9 && filesAfter === 6)
    assertClustered(clustered, 6)
    assert(ManifestTable.read(spark, clustered).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq ===
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("concurrent appends: both land via the per-version commit race, " +
      "rows = union, versions distinct") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.where(col("doc_id") % 3 === 0))
    val d1 = docs.where(col("doc_id") % 3 === 1)
    val d2 = docs.where(col("doc_id") % 3 === 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = Seq(d1, d2).map(d => Future {
      ManifestTable.append(spark, root, d)
    })
    val vs = fs.map(Await.result(_, 120.seconds))
    assert(vs.toSet === Set(2, 3), s"expected versions 2 and 3, got $vs")
    assert(ManifestTable.read(spark, root).count() === docs.count())
  }

  test("mergeCoW: carries unchanged files verbatim, rewrites only files " +
      "holding changed keys; result == delete+upsert semantics") {
    val root = freshRoot()
    // 8 doc_id-clustered files so key ranges are real
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val before = ManifestTable.snapshot(spark, root)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    // a RANGE-LOCAL delta: touch only the lowest ~12% of keys
    val cut = ids(ids.length / 8)
    val removeKeys = docs.where(col("doc_id") <= cut && col("doc_id") % 2 === 0)
      .select("doc_id")
    val upserts = docs.where(col("doc_id") <= cut && col("doc_id") % 2 === 1)
      .withColumn("text", concat(col("text"), lit(" MERGED")))
      .unionByName(docs.limit(0)) // keep schema
      .unionByName(docs.where(col("doc_id") === ids.head)
        .withColumn("doc_id", lit(-77L))
        .withColumn("text", lit("brand new row")))
    val (v, carried, rewrittenN) =
      ManifestTable.mergeCoW(spark, root, "doc_id", removeKeys, upserts)
    assert(v === 2)
    assert(carried > 0, "a range-local delta must carry some files")
    assert(rewrittenN > 0)
    // carried files appear in the new manifest at their OLD paths
    val after = ManifestTable.snapshot(spark, root)
    assert(before.files.toSet.intersect(after.files.toSet).size === carried)
    // semantics: removed gone, upserted replaced, new row present,
    // untouched rows identical
    val removed = removeKeys.collect().map(_.getLong(0)).toSet
    val upserted = upserts.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = ManifestTable.read(spark, root)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet.intersect(removed).isEmpty, "removed keys survived")
    assert(got(-77L) === "brand new row")
    upserted.filter(_ > 0).foreach(k =>
      assert(got(k).endsWith(" MERGED"), s"upsert not applied to $k"))
    val untouched = docs.where(col("doc_id") > cut)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    untouched.foreach { case (k, t) =>
      assert(got(k) === t, s"untouched row $k changed") }
    assert(got.size === untouched.size + upserted.size)
    // snapshot isolation: v1 still reads the pre-merge table
    assert(ManifestTable.readAt(spark, root, 1).count() === ids.length)
  }

  test("mergeCoW with manifest bounds (format v2): affected files come " +
      "from the manifest alone and match the scan-based detection; " +
      "rewrites are bounds-stamped for the next merge") {
    def manifestLinesOf(root: String, v: Int): Seq[String] = {
      val p = new Path(root, f"_manifests/v$v%08d.manifest")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val all = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList
      finally in.close()
      all.filterNot(_.startsWith("#")) // entry lines only (skip header)
    }
    def mergeOn(root: String, bounds: Boolean): (Int, Int, Seq[Long]) = {
      ManifestTable.overwrite(spark, root,
        docs.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"),
        boundsCol = if (bounds) Some("doc_id") else None)
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val cut = ids(ids.length / 8)
      val removeKeys = docs.where(col("doc_id") <= cut).select("doc_id")
      val upserts = docs.where(col("doc_id") === ids.last)
        .withColumn("doc_id", lit(-5L))
      val (_, carried, rewrittenN) =
        ManifestTable.mergeCoW(spark, root, "doc_id", removeKeys, upserts)
      val got = ManifestTable.read(spark, root)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      (carried, rewrittenN, got)
    }
    val rootB = freshRoot()
    val rootS = freshRoot()
    val (carriedB, rewroteB, gotB) = mergeOn(rootB, bounds = true)
    val (carriedS, _, gotS) = mergeOn(rootS, bounds = false)
    // bounds-stamped v1: every line carries lo/hi (+ v3 rows/bytes)
    assert(manifestLinesOf(rootB, 1).forall { l =>
      val f = l.split('\t')
      f.length === 5 && f(1) != "-" && f(2) != "-"
    }, "v1 manifest lines missing bounds/stats")
    // the two detections agree: same carry count, same surviving rows
    assert(carriedB === carriedS,
      s"bounds pruning carried $carriedB files, the scan $carriedS")
    assert(gotB === gotS)
    assert(carriedB > 0 && rewroteB > 0)
    // the merge's own rewrite files are bounds-stamped in v2
    val v2Staged = manifestLinesOf(rootB, 2)
      .filterNot(manifestLinesOf(rootB, 1).toSet)
    assert(v2Staged.nonEmpty &&
      v2Staged.forall { l =>
        val f = l.split('\t')
        f.length === 5 && f(1) != "-" && f(2) != "-"
      },
      s"rewrite lines not bounds-stamped: $v2Staged")
  }

  test("mergeCoW: pure delete that empties every affected file commits " +
      "a carry-only manifest") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 8)
    // delete EVERY key in the low range: affected files rewrite to zero
    // surviving rows
    val removeKeys = docs.where(col("doc_id") <= cut).select("doc_id")
    val (v, carried, _) = ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys, docs.limit(0))
    assert(v === 2 && carried > 0)
    val got = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === ids.filter(_ > cut).toSet)
  }

  test("readWhereKeyBetween: file-level skipping from manifest bounds " +
      "alone; rows equal the unpruned filter; empty range keeps schema") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 4), ids(ids.length / 3))
    val pruned = ManifestTable.readWhereKeyBetween(
      spark, root, "doc_id", lo, hi)
    val expect = docs.where(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq === expect.toSeq)
    // the point: FEWER FILES in the plan, decided from the manifest
    val allFiles = ManifestTable.snapshot(spark, root).files.size
    assert(pruned.inputFiles.length < allFiles,
      s"no file was pruned: ${pruned.inputFiles.length} of $allFiles")
    // a range outside every bound reads zero rows, schema intact
    val none = ManifestTable.readWhereKeyBetween(
      spark, root, "doc_id", ids.last + 1000, ids.last + 2000)
    assert(none.count() === 0)
    assert(none.columns.toSeq === docs.columns.toSeq)
    // a bounds-LESS table is never wrongly pruned (unknown = read)
    val rootU = freshRoot()
    ManifestTable.overwrite(spark, rootU,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    val unpruned = ManifestTable.readWhereKeyBetween(
      spark, rootU, "doc_id", lo, hi)
    assert(unpruned.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq === expect.toSeq)
  }

  test("bounds header: a MISMATCHED key column never prunes (reads and " +
      "merges fall back to unknown-bounds), matching keys do") {
    val root = freshRoot()
    // full-column documents: this test probes a SECOND integral column
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text", "n_chars")
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    assert(ManifestTable.boundsColOf(spark, root) === Some("doc_id"))
    val allFiles = ManifestTable.snapshot(spark, root).files.size
    // the stored bounds describe doc_id — a range read on n_chars must
    // NOT interpret them (doc_id-valued bounds would prune wrong files)
    val byChars = ManifestTable.readWhereKeyBetween(
      spark, root, "n_chars", 0, 50)
    val expect = docs.where(col("n_chars").between(0, 50)).count()
    assert(byChars.count() === expect)
    assert(byChars.inputFiles.length === allFiles,
      "mismatched-key read wrongly pruned files")
    // and a merge keyed on n_chars falls back to the scan, correct rows
    val rmChars = docs.where(col("n_chars") < 30)
      .select(col("n_chars")).distinct()
    val (_, _, _) = ManifestTable.mergeCoW(spark, root, "n_chars",
      rmChars, docs.limit(0).select(docs.columns.map(col): _*))
    assert(ManifestTable.read(spark, root).count() ===
      docs.where(col("n_chars") >= 30).count())
    // matching-key pruning still engages on the same table pre-merge
    val rootB = freshRoot()
    ManifestTable.overwrite(spark, rootB,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val pruned = ManifestTable.readWhereKeyBetween(
      spark, rootB, "doc_id", ids.head, ids(ids.length / 8))
    assert(pruned.inputFiles.length < allFiles)
  }

  test("mergeCoW refuses to empty the table and refuses null keys; " +
      "vacuumed-empty states fail loudly") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.limit(20),
      boundsCol = Some("doc_id"))
    // full-table delete must never BRICK the table: either the merge
    // is refused (zero-entry manifest) with the table untouched, or it
    // commits a schema-preserving zero-row version that a follow-up
    // merge can still insert into
    val all = docs.limit(20).select("doc_id").localCheckpoint()
    try {
      ManifestTable.mergeCoW(spark, root, "doc_id", all, docs.limit(0))
      assert(ManifestTable.read(spark, root).count() === 0)
      ManifestTable.mergeCoW(spark, root, "doc_id",
        docs.limit(0).select("doc_id"), docs.limit(5))
      assert(ManifestTable.read(spark, root).count() === 5)
    } catch {
      case e: IllegalArgumentException =>
        assert(e.getMessage.contains("overwrite to truncate"))
        assert(ManifestTable.read(spark, root).count() === 20)
    }
    // null keys fail fast with a clear message
    val nullKeys = docs.limit(1).select(
      org.apache.spark.sql.functions.lit(null).cast("long").as("doc_id"))
    val err2 = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, "doc_id", nullKeys, docs.limit(0))
    }
    assert(err2.getMessage.contains("null"))
  }

  test("q156: the gated range read actually prunes files AND matches a " +
      "direct-filter replay") {
    val sf01 = "/root/testdata/sf0.001"
    val df = ManifestQueries.q156ManifestPrunedRead(spark, sf01)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val all = graft.Tables.documents(spark, sf01)
    val mm = all.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (mm.getLong(0),
      mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 5)
    val expect = all.where(col("doc_id").between(lo, hi))
      .groupBy("lang")
      .agg(count(lit(1)), sum(col("doc_id")), sum(length(col("text"))))
      .orderBy("lang").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
    // the scan underneath read FEWER files than the table holds
    assert(df.inputFiles.length < 8,
      s"q156 read ${df.inputFiles.length} of 8 files — nothing pruned")
  }

  test("restore: an old version's exact content becomes the newest " +
      "commit, zero data IO, history intact") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.where(col("doc_id") % 2 === 0))
    val v1Rows = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 2 === 1))
    val v2Count = ManifestTable.read(spark, root).count()
    val v3 = ManifestTable.restore(spark, root, 1)
    assert(v3 === 3)
    // newest content == v1, and the restore reused v1's files verbatim
    assert(ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === v1Rows)
    assert(ManifestTable.snapshot(spark, root).files.toSet ===
      ManifestTable.snapshot(spark, root, Some(1)).files.toSet)
    // the restored-away version stays time-travelable
    assert(ManifestTable.readAt(spark, root, 2).count() === v2Count)
  }

  test("changed-files CDC: the change set of a range-local merge is " +
      "delta-file-sized, and the keyed reconcile recovers exactly the " +
      "removed/added/modified rows") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 8)
    val removeKeys = docs.where(col("doc_id") <= cut && col("doc_id") % 2 === 0)
      .select("doc_id")
    val edits = docs.where(col("doc_id") <= cut && col("doc_id") % 2 === 1)
      .withColumn("text", concat(col("text"), lit(" EDITED")))
    val inserts = docs.where(col("doc_id") === ids.head)
      .withColumn("doc_id", lit(-9L))
    ManifestTable.mergeCoW(spark, root, "doc_id", removeKeys,
      edits.unionByName(inserts))
    val total = ManifestTable.snapshot(spark, root, Some(1)).files.size
    val (added, removed) = ManifestTable.changedFiles(spark, root, 1, 2)
    // copy-on-write carried the untouched files: both sides of the
    // change set are a strict subset of the table
    assert(removed.nonEmpty && removed.size < total,
      s"removed side not delta-sized: ${removed.size} of $total")
    assert(added.nonEmpty)
    // row-level reconcile by key over the changed files only
    val ch = ManifestTable.readChangesBetween(spark, root, 1, 2)
    val del = ch.where(col("_change") === "delete")
      .select(col("doc_id"), md5(col("text")).as("om"))
    val ins = ch.where(col("_change") === "insert")
      .select(col("doc_id"), md5(col("text")).as("nm"))
    val rec = del.join(ins, Seq("doc_id"), "full_outer")
      .where(col("om").isNull || col("nm").isNull || col("om") =!= col("nm"))
      .withColumn("change", when(col("nm").isNull, "removed")
        .when(col("om").isNull, "added").otherwise("modified"))
      .select("doc_id", "change").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expRemoved = removeKeys.collect().map(_.getLong(0)).toSet
    val expModified = edits.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rec.filter(_._2 == "removed").keySet === expRemoved)
    assert(rec.filter(_._2 == "modified").keySet === expModified)
    assert(rec.filter(_._2 == "added").keySet === Set(-9L))
    // carried rows of rewritten files cancelled: nothing else surfaced
    assert(rec.size === expRemoved.size + expModified.size + 1)
  }

  test("schema evolution: add-column append widens the committed " +
      "schema; old files read null; drops/retypes and merge-side " +
      "extras are rejected loudly") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text"))
    ManifestTable.append(spark, root,
      docs.where(col("doc_id") % 3 === 0).select("doc_id", "text", "lang"))
    val all = ManifestTable.read(spark, root)
    assert(all.columns.toSeq === Seq("doc_id", "text", "lang"))
    // pre-evolution rows surface lang as null; post-evolution carry it
    assert(all.where(col("lang").isNull).count() ===
      docs.where(col("doc_id") % 3 =!= 0).count())
    assert(all.where(col("lang").isNotNull).count() ===
      docs.where(col("doc_id") % 3 === 0).count())
    // time travel returns each version's OWN schema
    assert(ManifestTable.readAt(spark, root, 1).columns.toSeq ===
      Seq("doc_id", "text"))
    // dropping a column is rejected
    val eDrop = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, docs.limit(3).select("doc_id"))
    }
    assert(eDrop.getMessage.contains("missing table columns"))
    // retyping a column is rejected
    val eType = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, docs.limit(3)
        .select(col("doc_id").cast("string").as("doc_id"),
          col("text"), col("lang")))
    }
    assert(eType.getMessage.contains("changes column types"))
    // a merge upsert carrying an unknown column is rejected, never
    // silently dropped
    val eMerge = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, "doc_id",
        docs.limit(0).select("doc_id"),
        docs.limit(2).select(col("doc_id"), col("text"), col("lang"),
          lit(1L).as("surprise")))
    }
    assert(eMerge.getMessage.contains("surprise"))
    // and the failed writers left the table untouched
    assert(ManifestTable.read(spark, root).count() === docs.count())
  }

  test("v3 stats: metadata-only row counts equal a scan at every " +
      "version; optimizeBySize sizes the rewrite from manifest bytes") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 4 =!= 0)
        .repartitionByRange(6, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    ManifestTable.append(spark, root, docs.where(col("doc_id") % 4 === 0),
      boundsCol = Some("doc_id"))
    for (v <- Seq(1, 2)) {
      val meta = ManifestTable.rowCountFromStats(spark, root, Some(v))
      assert(meta.isDefined, s"version $v lacks stats")
      assert(meta.get === ManifestTable.readAt(spark, root, v).count(),
        s"version $v metadata count != scan")
    }
    // size-balanced optimize: target = total bytes (one file's worth)
    // collapses to 1 file; stats survive into the rewrite
    val totalBytes = ManifestTable.fileStats(spark, root)
      .map(_._4.get).sum
    val (v3, _, after) =
      ManifestTable.optimizeBySize(spark, root, "doc_id", totalBytes)
    assert(after === 1, s"expected 1 output file, got $after")
    assert(ManifestTable.rowCountFromStats(spark, root, Some(v3))
      .contains(docs.count()))
    // a non-integral bounds column is rejected BEFORE any data write
    // (collation-ordered bounds would prune wrong files; and the
    // rejection must not strand a full staged table)
    val root2 = freshRoot()
    val eBounds = intercept[IllegalArgumentException] {
      ManifestTable.overwrite(spark, root2, docs, boundsCol = Some("lang"))
    }
    assert(eBounds.getMessage.contains("integral"))
    val fs2 = new Path(root2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs2.exists(new Path(root2, "data")),
      "rejected boundsCol still staged data files")
  }

  test("vacuum sweeps aged .tmp-* manifest stragglers but spares young " +
      "ones (a commit between write and rename)") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.limit(10))
    val mdir = new Path(root, "_manifests")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val young = new Path(mdir, ".tmp-young")
    val old = new Path(mdir, ".tmp-old")
    Seq(young, old).foreach { p =>
      val out = fs.create(p, false); out.write(1); out.close()
    }
    fs.setTimes(old, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    ManifestTable.vacuum(spark, root, retain = 1)
    assert(fs.exists(young), "young tmp manifest swept inside retention")
    assert(!fs.exists(old), "aged tmp manifest not swept")
    assert(ManifestTable.read(spark, root).count() === 10)
  }

  test("q158/q159 gated queries: JVM replay of the evolution union and " +
      "the per-version counts") {
    val sf = "/root/testdata/sf0.001"
    val d = graft.Tables.documents(spark, sf)
    val gotEvo = ManifestQueries.q158SchemaEvolution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val expEvo = d
      .select(when(col("doc_id") % 3 === 0, col("lang"))
          .otherwise(lit("pre_evolution")).as("lang"),
        col("doc_id"), col("text"))
      .groupBy("lang")
      .agg(count(lit(1)), sum(col("doc_id")), sum(length(col("text"))))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(gotEvo === expEvo)
    val gotStats = ManifestQueries.q159ManifestStats(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val nSub = d.where(col("doc_id") % 5 =!= 0).count()
    val nAll = d.count()
    assert(gotStats === Seq((1, nSub), (2, nAll), (3, nAll)))
  }

  test("q160 SCD2 fold: the is_current slice equals the newest " +
      "committed snapshot, validity intervals partition each key's " +
      "history") {
    val sf = "/root/testdata/sf0.001"
    val got = ManifestQueries.q160ManifestScd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)), r.getInt(4)))
    // current rows == the table's newest version, key for key
    val root = new Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "manifest_scd2_" + graft.Tables.dirKey(spark, sf)).toString
    val newest = ManifestTable.read(spark, root)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val current = got.filter(_._5 == 1)
      .map(r => r._1 -> r._2).toMap
    assert(current === newest, "is_current slice != newest snapshot")
    // exactly the open rows are current; closed rows have valid_to in
    // (valid_from, latest]; per key the intervals are disjoint and
    // ordered
    got.foreach { case (id, _, from, to, cur) =>
      assert((cur == 1) === to.isEmpty, s"doc $id current/valid_to clash")
      to.foreach(t => assert(t > from && t <= 3 + 1, s"doc $id [$from,$t)"))
    }
    got.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.exists(_ <= b._3),
            s"doc $id overlapping validity: $a then $b")
        case _ => ()
      }
      assert(rows.count(_._5 == 1) <= 1, s"doc $id has two current rows")
    }
  }

  test("readWhereRect (format v4): 2-D manifest skipping on the " +
      "z-clustered layout — correct rows, fewer files than either " +
      "single dimension") {
    import graft.sources.{ZOrderLayout => Z}
    // sf0.01 so 64 files have real per-file stat granularity
    val dir = "/root/testdata/sf0.01"
    val root = freshRoot()
    val (uMax, tMin, tMax) = Z.boundsOf(spark, dir)
    val z = graft.Tables.events(spark, dir)
      .withColumn("zv", Z.zValue(
        expr(Z.zBucketSql("user_id", "0", (uMax + 1).toString, "DIV")),
        expr(Z.zBucketSql("unix_micros(ts)", tMin.toString,
          (tMax - tMin + 1).toString, "DIV"))))
      .repartitionByRange(64, col("zv"))
      .sortWithinPartitions("zv")
    ManifestTable.overwrite(spark, root, z,
      statsCols = Seq("user_id", "ts"))
    val (uHi, tLo, tHi) = Z.rectangleOf(spark, dir)
    val both = ManifestTable.readWhereRect(spark, root,
      Seq(("user_id", 0L, uHi), ("ts", tLo, tHi)))
    // rows equal the unpruned filter
    val expect = ManifestTable.read(spark, root)
      .where(col("user_id") >= 0 && col("user_id") <= uHi &&
        col("ts") >= lit(Z.tsOfMicros(tLo)) &&
        col("ts") <= lit(Z.tsOfMicros(tHi)))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(both.select("event_id").collect().map(_.getLong(0)).sorted
      .toSeq === expect.toSeq)
    // 2-D skipping: strictly fewer files than EITHER dimension alone —
    // the z-clustering makes every file a (user, time) tile, so each
    // dimension prunes independently and the intersection compounds
    val total = ManifestTable.snapshot(spark, root).files.size
    val uOnly = ManifestTable.readWhereRect(spark, root,
      Seq(("user_id", 0L, uHi))).inputFiles.length
    val tOnly = ManifestTable.readWhereRect(spark, root,
      Seq(("ts", tLo, tHi))).inputFiles.length
    val n2d = both.inputFiles.length
    assert(n2d < total, s"nothing pruned: $n2d of $total")
    assert(n2d < uOnly && n2d < tOnly,
      s"2-D set not smaller than 1-D: $n2d vs user=$uOnly, ts=$tOnly " +
        s"(of $total)")
  }

  test("verdict r17: 3-D z-order (optimizeZOrderCols) prunes the " +
      "3-predicate rectangle strictly better than EVERY 2-D " +
      "projection of the same columns; rows match the unpruned " +
      "filter; bad column counts rejected") {
    import graft.sources.{ZOrderLayout => Z}
    val dir = "/root/testdata/sf0.01"
    // lineitem's key triple: the one genuinely INDEPENDENT 3-D space
    // in the test data (events' event_id is time-ordered, corr ≈ 1.0
    // with ts — a third dimension there would be the time axis twice),
    // with a rectangle comparably selective in all three dimensions
    // (~25% each): the regime a 3-D layout exists for — when one
    // dimension dominates, its 2-D projections are legitimately
    // competitive (the classic z-order dimension trade)
    val cols = Z.Z3Cols
    val li = graft.Tables.lineitem(spark, dir)
      .select(cols.map(col) :+ col("l_returnflag"): _*)
    val rect = Z.rectangle3Of(spark, dir)
    // the 3-D layout through the real operator; 256 files so each
    // dimension keeps real per-file resolution after the 3-way split
    val root3 = freshRoot()
    ManifestTable.overwrite(spark, root3, li)
    val (v, _, after) =
      ManifestTable.optimizeZOrderCols(spark, root3, cols, 256)
    assert(v === 2 && after === 256)
    val got3 = ManifestTable.readWhereRect(spark, root3, rect)
    val expect = li.where(rect.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi }.reduce(_ && _))
      .select(cols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got3.select(cols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      .toSeq === expect.toSeq, "3-D rect rows drifted")
    assert(expect.nonEmpty, "degenerate pin: the rectangle is empty")
    val kept3 = got3.inputFiles.length
    // every 2-D PROJECTION layout, with v4 stats stamped for ALL
    // THREE columns (the fair comparison: same stats surface, only
    // the curve differs) — each must keep strictly more files on the
    // 3-predicate rectangle
    val domain = cols.map(c =>
      c -> (0L, li.agg(max(col(c))).head().getLong(0))).toMap
    def layout2(a: String, b: String): Int = {
      val r = freshRoot()
      val zv = Z.zValueN(Seq(a, b).map { c =>
        val (lo, hi) = domain(c)
        expr(Z.zBucketSql(s"`$c`", lo.toString,
          (hi - lo + 1).toString, "DIV"))
      })
      ManifestTable.overwrite(spark, r,
        li.withColumn("zv", zv)
          .repartitionByRange(256, col("zv"))
          .sortWithinPartitions("zv").drop("zv"),
        statsCols = cols)
      ManifestTable.readWhereRect(spark, r, rect).inputFiles.length
    }
    val pairs = Seq((cols(0), cols(1)), (cols(0), cols(2)),
      (cols(1), cols(2)))
    val kept2 = pairs.map { case (a, b) => (s"$a,$b", layout2(a, b)) }
    kept2.foreach { case (name, k2) =>
      assert(kept3 < k2,
        s"3-D layout ($kept3 files) not strictly better than the " +
          s"2-D ($name) projection ($k2 files)")
    }
    // arity gates
    intercept[IllegalArgumentException] {
      ManifestTable.optimizeZOrderCols(spark, root3, Seq("user_id"), 4)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.optimizeZOrderCols(spark, root3,
        Seq("a", "b", "c", "d", "e", "f", "g"), 4)
    }
  }

  test("stale-base overwrite aborts rather than clobbering the " +
      "concurrent commit") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.limit(10))
    val resolvedBase = ManifestTable.currentVersion(spark, root).get
    // another writer commits v2 AFTER this writer resolved its base
    ManifestTable.append(spark, root, docs.limit(3))
    // the read-modify-write commit derived from the stale base must
    // abort — a silent success would drop the appended rows
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.overwrite(spark, root, docs.limit(2),
        expectedBase = Some(resolvedBase))
    }
    // and the table is untouched by the aborted writer
    assert(ManifestTable.currentVersion(spark, root) === Some(2))
    assert(ManifestTable.read(spark, root).count() === 13)
  }

  /** documents + a pseudo-random "scatter" column: near-unique values
    * spread uniformly across a doc_id-clustered layout, so every file's
    * [lo, hi] on scatter spans the domain — min/max stats are useless
    * for a point probe, which is exactly the case bloom sidecars
    * (format v5) exist for. */
  private def scattered = docs.withColumn("scatter",
    pmod(col("doc_id") * 2654435761L, lit(1000003L)))

  test("bloom point lookup (format v5): skips files min/max stats " +
      "cannot; the no-bloom twin reads every file; rows identical") {
    val root = freshRoot()
    val rootNb = freshRoot()
    def build(r: String, bloom: Boolean): Unit =
      ManifestTable.overwrite(spark, r,
        scattered.repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id"),
        boundsCol = Some("doc_id"),
        bloomCols = if (bloom) Seq("scatter") else Seq.empty)
    build(root, bloom = true)
    build(rootNb, bloom = false)
    val probe = scattered.orderBy("doc_id").limit(1)
      .collect()(0).getAs[Long]("scatter")
    val want = scattered.where(col("scatter") === probe)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(want.nonEmpty)
    val got = ManifestTable.readWherePointEquals(spark, root,
      "scatter", probe)
    assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === want)
    // the probe value lives in ~1 of 8 files; at 1% fpp the expected
    // false-positive count is 0.07 files — 3 is a generous ceiling
    assert(got.inputFiles.length <= 3,
      s"bloom pruning kept ${got.inputFiles.length} of 8 files")
    // without blooms, a scattered column's per-file [lo, hi] all cover
    // the probe: nothing skips
    val nb = ManifestTable.readWherePointEquals(spark, rootNb,
      "scatter", probe)
    assert(nb.inputFiles.length === 8,
      s"stats-only read pruned ${8 - nb.inputFiles.length} files on a " +
        "scattered column — bounds must not be claiming scatter")
    assert(nb.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === want)
  }

  test("bloom index is MAINTAINED: append auto-stamps, optimize " +
      "re-stamps, mergeCoW keeps carried sidecars and stamps rewrites; " +
      "a missing sidecar only costs pruning, never rows") {
    val root = freshRoot()
    val base = scattered.where(col("doc_id") % 2 === 0)
    val delta = scattered.where(col("doc_id") % 2 === 1)
    ManifestTable.overwrite(spark, root,
      base.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"), bloomCols = Seq("scatter"))
    // append WITHOUT a bloom arg: the table's declaration auto-stamps
    ManifestTable.append(spark, root,
      delta.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"))
    // the current table contents, recomputed (post-merge rows change)
    var mergedDocId: Option[Long] = None
    def scatteredNow() = mergedDocId match {
      case None => scattered
      case Some(id) => scattered.withColumn("scatter",
        when(col("doc_id") === id, lit(2000003L))
          .otherwise(col("scatter")))
    }
    def check(probeRow: org.apache.spark.sql.Row,
              mustPrune: Boolean): Unit = {
      val probe = probeRow.getAs[Long]("scatter")
      val want = scatteredNow().where(col("scatter") === probe)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val got = ManifestTable.readWherePointEquals(spark, root,
        "scatter", probe)
      assert(got.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === want, s"probe $probe returned wrong rows")
      val listed = ManifestTable.snapshot(spark, root).files.size
      if (mustPrune) assert(got.inputFiles.length < listed,
        s"probe $probe read all $listed files — nothing pruned")
    }
    // a probe from the APPENDED half prunes: its sidecar was auto-stamped
    check(delta.orderBy("doc_id").limit(1).collect()(0), mustPrune = true)
    // compaction re-stamps the fresh files
    ManifestTable.optimize(spark, root, "doc_id", 3)
    check(base.orderBy("doc_id").limit(1).collect()(0), mustPrune = true)
    // vacuum drops the pre-compaction commit dirs WITH their sidecars
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    check(base.orderBy("doc_id").limit(1).collect()(0), mustPrune = true)
    // mergeCoW: move one doc to a fresh scatter value — the rewrite
    // file is stamped, carried files keep their sidecars
    val victim = base.orderBy(col("doc_id").desc).limit(1).collect()(0)
    val oldScatter = victim.getAs[Long]("scatter")
    val upsert = scattered
      .where(col("doc_id") === victim.getAs[Long]("doc_id"))
      .withColumn("scatter", lit(2000003L))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = upsert.select("doc_id").limit(0), upserts = upsert)
    mergedDocId = Some(victim.getAs[Long]("doc_id"))
    val newProbe = ManifestTable.readWherePointEquals(spark, root,
      "scatter", 2000003L)
    assert(newProbe.select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(victim.getAs[Long]("doc_id")))
    assert(newProbe.inputFiles.length <
      ManifestTable.snapshot(spark, root).files.size)
    // the old scatter value no longer matches the moved doc
    assert(ManifestTable.readWherePointEquals(spark, root,
      "scatter", oldScatter)
      .where(col("doc_id") === victim.getAs[Long]("doc_id"))
      .count() === 0)
    // sabotage: delete the newest commit dir's sidecar — the fallback
    // reads MORE files (unknown = may contain anything), rows unchanged
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecars = fs.globStatus(
      new Path(root, "data/*/_bloom.scatter")).toSeq
    assert(sidecars.nonEmpty)
    sidecars.foreach(s => fs.delete(s.getPath, false))
    check(delta.orderBy("doc_id").limit(1).collect()(0), mustPrune = false)
  }

  test("equality delete (format v6): O(delta) commit carries every " +
      "data file verbatim; reads (incl. pruned) suppress the keys; " +
      "time travel sees pre-delete; compaction applies + drops; " +
      "vacuum collects applied delete files") {
    // under a warehouse dir, so the SQL catalog can name the table too
    val wh = scratchDir("graft-manifest").toString
    val root = s"$wh/db/docs"
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val v1 = ManifestTable.snapshot(spark, root)
    val delKeys = docs.where(col("doc_id") % 7 === 0).select("doc_id")
    val keep = docs.where(col("doc_id") % 7 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", delKeys)
    val v2 = ManifestTable.snapshot(spark, root)
    // zero data-file IO: the delete commit carried every data file
    assert(v2.files.toSet === v1.files.toSet,
      "an equality delete rewrote data files")
    assert(v2.deleteFiles.nonEmpty && v2.deleteCols === Seq("doc_id"))
    // merge-on-read: plain AND pruned reads suppress the keys
    def idsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsOf(ManifestTable.read(spark, root)) === keep)
    val (lo, hi) = (keep.head, keep(keep.size / 2))
    assert(idsOf(ManifestTable.readWhereKeyBetween(spark, root,
      "doc_id", lo, hi)) === keep.filter(k => k >= lo && k <= hi))
    // every pruned entry point is the same snapshot scan: each returns
    // exactly read() under the same filter — deleted probes included
    val all = ManifestTable.read(spark, root)
    val probes = Seq(keep.head, keep(keep.size / 2), keep.last) ++
      idsOf(delKeys).take(2)
    val inProbes = col("doc_id").isin(probes: _*)
    val inRange = col("doc_id").between(lo, hi)
    GraftCatalog.register(spark, "mtcat", wh)
    Seq(
      ManifestTable.readWhereKeyIn(spark, root, "doc_id", probes) -> inProbes,
      ManifestTable.readWherePointIn(spark, root, "doc_id", probes) ->
        inProbes,
      ManifestTable.readWhereRect(spark, root, Seq(("doc_id", lo, hi))) ->
        inRange,
      spark.sql("SELECT * FROM mtcat.db.docs " +
        s"WHERE doc_id >= $lo AND doc_id <= $hi") -> inRange
    ).foreach { case (got, filter) =>
      assert(idsOf(got) === idsOf(all.where(filter)))
    }
    // a range no file covers: zero rows, the table's schema
    val past = keep.last + 1000
    val none = ManifestTable.readWhereKeyBetween(spark, root, "doc_id",
      past, past + 10)
    assert(none.count() === 0)
    assert(none.schema.map(f => f.name -> f.dataType) ===
      all.schema.map(f => f.name -> f.dataType))
    // time travel: v1 is untouched by the delete
    assert(ManifestTable.readAt(spark, root, v1.version).count()
      === keep.size + delKeys.count())
    // stats can't answer a counted read under outstanding deletes
    assert(ManifestTable.rowCountFromStats(spark, root).isEmpty)
    // CDC: the delete commit surfaces its keys tagged 'delete'
    val cdc = ManifestTable.readChangesBetween(spark, root,
      v1.version, v2.version)
    assert(cdc.where(col("_change") === "insert").count() === 0)
    assert(idsOf(cdc.where(col("_change") === "delete")
      .select("doc_id")) === idsOf(delKeys))
    // compaction applies + drops the deletes; counts answer again
    ManifestTable.optimize(spark, root, "doc_id", 4)
    assert(idsOf(ManifestTable.read(spark, root)) === keep)
    val v3 = ManifestTable.snapshot(spark, root)
    assert(v3.deleteFiles.isEmpty, "optimize carried delete files")
    assert(ManifestTable.rowCountFromStats(spark, root)
      === Some(keep.size.toLong))
    // vacuum collects the applied delete files from disk
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.globStatus(new Path(root, "deletes/*")) == null ||
      fs.globStatus(new Path(root, "deletes/*")).isEmpty,
      "vacuum left applied delete files behind")
    assert(idsOf(ManifestTable.read(spark, root)) === keep)
  }

  test("a malformed manifest fails loudly: read and vacuum throw, " +
      "naming the manifest, and vacuum deletes no data file") {
    import org.apache.spark.sql.types.{DataType, Metadata, StructType}
    def entries(f: String => String)(ls: Seq[String]): Seq[String] =
      ls.map(l => if (l.startsWith("#")) l else f(l))
    def idLess(l: String): String =
      if (!l.startsWith("#schema=")) l
      else "#schema=" + StructType(DataType.fromJson(l.stripPrefix(
          "#schema=")).asInstanceOf[StructType].fields
        .map(_.copy(metadata = Metadata.empty))).json
    val corruptions: Seq[Seq[String] => Seq[String]] = Seq(
      // an entry line with an even field count (once misread as one
      // path holding tabs, leaving the real file unreferenced)
      _.map(l => if (l.startsWith("#")) l else s"$l\t0"),
      // a header line without '='
      "#boundscol" +: _,
      // entry lines of one field (a bare path) or three (path + bounds)
      entries(_.split("\t").head),
      entries(_.split("\t").take(3).mkString("\t")),
      // no #schema= header, or one whose fields carry no field ids
      _.filterNot(_.startsWith("#schema=")),
      _.map(idLess),
      // no #maxfieldid= header
      _.filterNot(_.startsWith("#maxfieldid=")),
      // a repeated header key
      ls => ls.filter(_.startsWith("#schema=")) ++ ls)
    corruptions.foreach { corrupt =>
      val root = freshRoot()
      ManifestTable.overwrite(spark, root, docs.repartition(2))
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dataFiles: Set[String] =
        fs.globStatus(new Path(root, "data/*/*")).map(_.getPath.toString)
          .toSet
      val before = dataFiles
      val in = fs.open(new Path(root, "_manifests/v00000001.manifest"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      val out = fs.create(new Path(root, "_manifests/v00000002.manifest"))
      try out.write(corrupt(lines).mkString("\n").getBytes("UTF-8"))
      finally out.close()
      val ex = intercept[IllegalStateException] {
        ManifestTable.read(spark, root)
      }
      assert(ex.getMessage.contains("v00000002.manifest"), ex.getMessage)
      intercept[IllegalStateException] {
        ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
      }
      assert(dataFiles === before, "vacuum deleted data files")
      assert(ManifestTable.versions(spark, root) === Seq(1, 2))
    }
  }

  test("equality deletes are global-until-compacted: append refuses " +
      "resurrection, a differently-keyed merge is refused, one delete " +
      "column per table") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs)
    val victim = docs.orderBy("doc_id").limit(1)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      victim.select("doc_id"))
    // resurrection: appending the deleted key must fail loudly
    val exA = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, victim)
    }
    assert(exA.getMessage.contains("resurrect"))
    // a disjoint append is fine and stays suppressed-free
    val fresh = docs.orderBy(col("doc_id").desc).limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    ManifestTable.append(spark, root, fresh)
    assert(ManifestTable.read(spark, root).count() === docs.count())
    // a merge keyed on a DIFFERENT column than the delete column
    // cannot sequence the deletes and is refused loudly
    val exM = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, "lang",
        removeKeys = docs.select("lang").limit(0),
        upserts = docs.limit(0))
    }
    assert(exM.getMessage.contains("sequence"))
    // one delete column per table
    val exC = intercept[IllegalArgumentException] {
      ManifestTable.deleteWhereKeyIn(spark, root, "lang",
        docs.limit(1).select("lang"))
    }
    assert(exC.getMessage.contains("delete column"))
    // after compaction, the key is appendable again (the documented
    // resurrection path)
    ManifestTable.optimize(spark, root, "doc_id", 4)
    ManifestTable.append(spark, root, victim)
    assert(ManifestTable.read(spark, root).count() === docs.count() + 1)
  }

  test("delete sequencing: a same-key merge over outstanding deletes " +
      "resurrects upserted keys, keeps untouched keys suppressed via " +
      "a consolidated delete file, and agrees with optimize") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val deleted = docs.where(col("doc_id") % 3 === 1)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      deleted.select("doc_id"))
    val v2 = ManifestTable.snapshot(spark, root)
    // resurrect HALF the deleted keys by upsert; remove one live key
    val resurrect = deleted.where(col("doc_id") % 2 === 0)
      .withColumn("text", concat(col("text"), lit(" back")))
    val liveVictim = docs.where(col("doc_id") % 3 === 0)
      .orderBy("doc_id").limit(1)
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = liveVictim.select("doc_id"), upserts = resurrect)
    val v3 = ManifestTable.snapshot(spark, root)
    // the delete set consolidated: still outstanding (odd deleted keys
    // stay suppressed), but in FRESH file(s) — not the v2 delete file
    assert(v3.deleteFiles.nonEmpty, "consolidation dropped the deletes")
    assert(v3.deleteFiles.toSet.intersect(v2.deleteFiles.toSet).isEmpty,
      "a touched delete set was carried verbatim")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val expect = ids(docs.where(
      (col("doc_id") % 3 =!= 1 || col("doc_id") % 2 === 0))
      .join(liveVictim.select("doc_id"), Seq("doc_id"), "left_anti"))
    assert(ids(ManifestTable.read(spark, root)) === expect)
    // resurrected rows carry the UPSERT payload, not the stale one
    assert(ManifestTable.read(spark, root)
      .where(col("doc_id") % 3 === 1 && !col("text").endsWith(" back"))
      .count() === 0, "a stale physical row leaked through")
    // optimize applies the consolidated set and changes no row
    val before = ManifestTable.read(spark, root)
      .select("doc_id", "text").collect().map(_.toString).sorted
    ManifestTable.optimize(spark, root, "doc_id", 4)
    assert(ManifestTable.snapshot(spark, root).deleteFiles.isEmpty)
    val after = ManifestTable.read(spark, root)
      .select("doc_id", "text").collect().map(_.toString).sorted
    assert(before.toSeq === after.toSeq)
    // a merge touching NO deleted key carries the delete files verbatim
    val root2 = freshRoot()
    ManifestTable.overwrite(spark, root2,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    ManifestTable.deleteWhereKeyIn(spark, root2, "doc_id",
      deleted.select("doc_id"))
    val dv = ManifestTable.snapshot(spark, root2).deleteFiles
    val live = docs.where(col("doc_id") % 3 === 0)
      .orderBy(col("doc_id").desc).limit(1)
      .withColumn("text", lit("touched"))
    ManifestTable.mergeCoW(spark, root2, "doc_id",
      removeKeys = live.select("doc_id").limit(0), upserts = live)
    assert(ManifestTable.snapshot(spark, root2).deleteFiles === dv,
      "an untouched delete set was rewritten")
  }

  test("overlapping equality deletes: a key two delete commits share " +
      "reads, guards, merges and surfaces in the change feed once") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id")) // v1
    val k1 = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val k2 = docs.where(col("doc_id") % 2 === 0).select("doc_id")
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", k1) // v2
    val v3 = ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", k2)
    val deleted = col("doc_id") % 3 === 0 || col("doc_id") % 2 === 0
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(ManifestTable.read(spark, root)) === ids(docs.where(!deleted)))
    // the resurrection guard fires on a shared key, message unchanged
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        docs.where(col("doc_id") % 6 === 0).orderBy("doc_id").limit(1))
    }
    assert(ex.getMessage === s"requirement failed: append to $root " +
      "would resurrect equality-deleted (doc_id) tuples — the delete is " +
      "global until compacted; run optimize first, then append")
    // a restore dropping BOTH delete files un-deletes each shared key's
    // row as ONE insert, not one per delete file holding it
    val v4 = ManifestTable.restore(spark, root, 1)
    val undeleted = ManifestTable.readChangesBetween(spark, root, v3, v4)
      .where(col("_change") === "insert")
    assert(ids(undeleted) === ids(docs.where(deleted)))
    ManifestTable.restore(spark, root, v3) // both delete files again
    // a merge touching NO delete key carries both files verbatim
    val dv = ManifestTable.snapshot(spark, root).deleteFiles
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = docs.select("doc_id").limit(0),
      upserts = docs.where(!deleted).orderBy("doc_id").limit(1)
        .withColumn("text", lit("touched")))
    assert(ManifestTable.snapshot(spark, root).deleteFiles === dv)
    // a merge touching SOME (shared keys % 12, duplicated in the
    // changed keys) consolidates the rest into one file, each key once
    val vSome = ManifestTable.currentVersion(spark, root).get
    val back = docs.where(col("doc_id") % 12 === 0)
      .withColumn("text", concat(col("text"), lit(" back")))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = back.select("doc_id"), upserts = back)
    val consolidated = ManifestTable.snapshot(spark, root).deleteFiles
    assert(consolidated.size === 1 && !dv.contains(consolidated.head))
    val survivors = ids(docs.where(deleted && col("doc_id") % 12 =!= 0))
    assert(ids(spark.read.parquet(consolidated.head)) === survivors)
    assert(ids(ManifestTable.read(spark, root)) ===
      ids(docs.where(!deleted || col("doc_id") % 12 === 0)))
    // the change feed across the consolidation: the new delete file's
    // keys once each (key-only rows), every resurrected row once
    val cdc = ManifestTable.readChangesBetween(spark, root, vSome, vSome + 1)
    assert(ids(cdc.where(col("_change") === "delete" && col("text").isNull))
      === survivors)
    val inserted = ids(cdc.where(col("_change") === "insert"))
    assert(inserted.distinct === inserted)
    assert(ids(docs.where(col("doc_id") % 12 === 0)).toSet
      .subsetOf(inserted.toSet))
    // a merge touching ALL of them (duplicated keys again) ends the
    // delete set and its declaration
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = k1.unionByName(k2), upserts = docs.limit(0))
    val end = ManifestTable.snapshot(spark, root)
    assert(end.deleteFiles.isEmpty && end.deleteCols.isEmpty)
    assert(ids(ManifestTable.read(spark, root)) === ids(docs.where(!deleted)))
  }

  test("CHECK constraints: NULL passes (SQL semantics), drop re-allows, " +
      "history counts delete files, timestampAsOf future = newest") {
    val root = freshRoot()
    val d = docs.withColumn("score", when(col("doc_id") % 10 === 0,
      lit(null).cast("long")).otherwise(col("doc_id")))
    ManifestTable.overwrite(spark, root, d.where(col("doc_id") % 2 === 0))
    ManifestTable.addConstraint(spark, root, "score_pos", "score > 0")
    // NULL-scored rows pass the declaration scan AND future appends
    // (SQL CHECK: only FALSE violates) — forbid nulls explicitly
    ManifestTable.append(spark, root, d.where(col("doc_id") % 2 === 1))
    assert(ManifestTable.read(spark, root).count() === docs.count())
    val bad = d.limit(2).withColumn("score", lit(-1L))
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, bad)
    }
    // drop re-allows what the constraint forbade
    ManifestTable.dropConstraint(spark, root, "score_pos")
    ManifestTable.append(spark, root, bad)
    assert(ManifestTable.read(spark, root)
      .where(col("score") === -1L).count() === 2)
    // history: a delete commit counts its delete file, data carried
    val hBefore = ManifestTable.history(spark, root).last
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      d.limit(1).select("doc_id"))
    val h = ManifestTable.history(spark, root).last
    assert(h.deleteFiles === 1 && h.dataFiles === hBefore.dataFiles)
    // metadata counts are honest: None under outstanding deletes
    assert(h.rows.isEmpty)
    // a future timestamp resolves to the newest version
    assert(ManifestTable.readAtTimestamp(spark, root,
      h.timestampMs + 1000000L).count()
      === ManifestTable.read(spark, root).count())
    // fileStats is DATA files only — delete bytes must not leak into
    // size-based planning
    assert(ManifestTable.fileStats(spark, root)
      .forall(!_._1.startsWith("deletes/")))
  }

  test("review fixes: optimize preserves v4 extra stats (rect pruning " +
      "survives compaction); commit instants are monotonized under " +
      "non-monotone mtimes") {
    val root = freshRoot()
    // extra stats column correlated with the clustering, so per-file
    // [lo, hi] on it are tight and a point rect genuinely prunes
    val d = docs.withColumn("dbl", col("doc_id") * 2)
    ManifestTable.overwrite(spark, root,
      d.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"), statsCols = Seq("dbl"))
    val probe = d.agg(min("dbl")).head().getLong(0)
    def rectFiles(): Int =
      ManifestTable.readWhereRect(spark, root,
        Seq(("dbl", probe, probe))).inputFiles.length
    val total = ManifestTable.snapshot(spark, root).files.size
    assert(rectFiles() < total, "no v4 pruning before compaction")
    ManifestTable.optimize(spark, root, "doc_id", 4)
    val total2 = ManifestTable.snapshot(spark, root).files.size
    assert(rectFiles() < total2,
      "compaction stripped the v4 stats — rect pruning lost")
    // commit-instant monotonization (advisor r16): force v(last)'s raw
    // mtime EARLIER than v(last-1)'s — history must still hand out
    // strictly increasing instants, and readAtTimestamp at EVERY
    // version's own instant must resolve to exactly that version
    ManifestTable.append(spark, root, d.limit(1))
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val h0 = ManifestTable.history(spark, root)
    val skewed = h0(h0.size - 2).timestampMs - 5000
    fs.setTimes(new Path(root,
      f"_manifests/v${h0.last.version}%08d.manifest"), skewed, -1)
    val h = ManifestTable.history(spark, root)
    assert(h.map(_.timestampMs) === h.map(_.timestampMs).distinct.sorted,
      "instants not strictly increasing under an mtime inversion")
    h.foreach { c =>
      assert(ManifestTable.readAtTimestamp(spark, root, c.timestampMs)
        .count() === ManifestTable.readAt(spark, root, c.version).count(),
        s"v${c.version}'s own instant resolved to a different version")
    }
    // identical raw mtimes (coarse-mtime filesystem / same-tick
    // metadata commits): pin both to v(last-1)'s mtime — instants must
    // still separate by at least 1 ms
    fs.setTimes(new Path(root,
      f"_manifests/v${h0.last.version}%08d.manifest"),
      h0(h0.size - 2).timestampMs, -1)
    val h2 = ManifestTable.history(spark, root)
    assert(h2.map(_.timestampMs) === h2.map(_.timestampMs).distinct.sorted,
      "identical mtimes produced a shared commit instant")
  }

  test("row-level CoW delete/update: only matching files rewrite, " +
      "no-match is a no-op (no commit), constraints gate updated " +
      "values, carried rows are bit-identical") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))
    val lo = docs.agg(min("doc_id")).head().getLong(0)
    // a range-local delete rewrites SOME files, carries the rest
    val (v2, carried, rewritten) = ManifestTable.deleteWhere(spark, root,
      col("doc_id") <= lo + 2)
    assert(v2 === 2 && carried > 0 && rewritten > 0 &&
      carried + rewritten >= 8,
      s"delete rewrote the wrong file set: carried=$carried " +
        s"rewritten=$rewritten")
    assert(ManifestTable.read(spark, root).count() ===
      docs.where(col("doc_id") > lo + 2).count())
    // NULL predicate keeps (SQL DELETE semantics): deleting where a
    // null-producing predicate holds touches nothing it shouldn't
    val before = ManifestTable.read(spark, root).count()
    // no-match delete: NO commit at all
    val (v3, _, rw3) = ManifestTable.deleteWhere(spark, root,
      col("doc_id") < lo)
    assert(v3 === 2 && rw3 === 0 &&
      ManifestTable.currentVersion(spark, root) === Some(2),
      "a no-match delete committed a version")
    assert(ManifestTable.read(spark, root).count() === before)
    // update: matching rows transform, others bit-identical
    val (v4, _, _) = ManifestTable.updateWhere(spark, root,
      col("doc_id") % 2 === 0, Seq("lang" -> lit("zz")))
    assert(v4 === 3)
    val got = ManifestTable.read(spark, root)
    assert(got.where(col("doc_id") % 2 === 0 && col("lang") =!= "zz")
      .count() === 0)
    val untouched = got.where(col("doc_id") % 2 =!= 0)
      .select("doc_id", "lang", "text").collect().map(_.toString).sorted
    val expectUntouched = docs.where(col("doc_id") > lo + 2 &&
        col("doc_id") % 2 =!= 0)
      .select("doc_id", "lang", "text").collect().map(_.toString).sorted
    assert(untouched.toSeq === expectUntouched.toSeq,
      "a non-matching row drifted through the update")
    // constraints gate UPDATED values
    ManifestTable.addConstraint(spark, root, "lang_len",
      "length(lang) = 2")
    val exU = intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, col("doc_id") % 2 === 0,
        Seq("lang" -> lit("toolong")))
    }
    assert(exU.getMessage.contains("lang_len"))
    // an update assigning a missing column fails loudly
    val exM = intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, lit(true),
        Seq("nope" -> lit(1)))
    }
    assert(exM.getMessage.contains("no column nope"))
  }

  test("composite equality deletes: suppression is whole-tuple only, " +
      "one column-set per table, the resurrection guard and merge " +
      "rejection see tuples") {
    val root = freshRoot()
    val li = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    ManifestTable.overwrite(spark, root, li)
    // delete ONE specific (orderkey, linenumber) tuple
    val victim = li.orderBy("l_orderkey", "l_linenumber").limit(1)
    val (vk, vl) = {
      val r = victim.head(); (r.getLong(0), r.getInt(1))
    }
    ManifestTable.deleteWhereKeysIn(spark, root,
      Seq("l_orderkey", "l_linenumber"),
      victim.select("l_orderkey", "l_linenumber"))
    val got = ManifestTable.read(spark, root)
    // the tuple is gone; SIBLING lines of the same order survive (a
    // partial-tuple suppression would take the whole order out)
    assert(got.where(col("l_orderkey") === vk &&
      col("l_linenumber") === vl).count() === 0)
    assert(got.where(col("l_orderkey") === vk).count() ===
      li.where(col("l_orderkey") === vk).count() - 1,
      "a composite delete suppressed on a partial tuple match")
    // one delete column-SET per table
    val exS = intercept[IllegalArgumentException] {
      ManifestTable.deleteWhereKeyIn(spark, root, "l_orderkey",
        li.limit(1).select("l_orderkey"))
    }
    assert(exS.getMessage.contains("column-set"))
    // resurrection guard checks the TUPLE
    val exR = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, victim)
    }
    assert(exR.getMessage.contains("resurrect"))
    // a sibling line of the deleted order appends fine (tuple differs)
    val sibling = li.where(col("l_orderkey") === vk &&
        col("l_linenumber") =!= vl).limit(1)
      .withColumn("l_linenumber", lit(9999))
    ManifestTable.append(spark, root, sibling)
    // merge sequencing stays single-column: composite tables reject
    val exM = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, "l_orderkey",
        removeKeys = li.select("l_orderkey").limit(0),
        upserts = li.limit(0))
    }
    assert(exM.getMessage.contains("sequence"))
    // optimize applies + drops the composite set
    ManifestTable.optimize(spark, root, "l_orderkey", 4)
    assert(ManifestTable.snapshot(spark, root).deleteFiles.isEmpty)
    assert(ManifestTable.read(spark, root).count() === li.count())
  }

  test("review r17: updateWhere evaluates the predicate and every SET " +
      "expression against the ORIGINAL row (swap-shape and " +
      "predicate-on-assigned-column updates)") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.select(col("doc_id"), col("lang"), col("text")))
    // predicate on a column the update itself reassigns: every 'de'
    // row gets lang='xx' AND its text suffixed — a sequential
    // withColumn fold would flip lang first and never suffix text
    val nDe = docs.where(col("lang") === "de").count()
    ManifestTable.updateWhere(spark, root, col("lang") === "de", Seq(
      "lang" -> lit("xx"),
      "text" -> concat(col("text"), lit(" [was-de]"))))
    val got = ManifestTable.read(spark, root)
    assert(got.where(col("lang") === "de").count() === 0)
    assert(got.where(col("text").endsWith(" [was-de]")).count() === nDe,
      "the second SET saw the already-updated predicate column")
    assert(got.where(col("lang") === "xx" &&
      !col("text").endsWith(" [was-de]")).count() === 0)
    // swap shape: SET lang = text-derived, text = lang-derived — both
    // RHS must read the ORIGINAL columns
    val root2 = freshRoot()
    ManifestTable.overwrite(spark, root2,
      docs.limit(10).select(col("doc_id"), col("lang"),
        col("lang").as("lang2")))
    ManifestTable.updateWhere(spark, root2, lit(true), Seq(
      "lang" -> concat(col("lang2"), lit("_a")),
      "lang2" -> concat(col("lang"), lit("_b"))))
    val r2 = ManifestTable.read(spark, root2)
    assert(r2.where(col("lang2").endsWith("_a_b")).count() === 0,
      "the swap's second SET read the first SET's output")
    assert(r2.where(!col("lang").endsWith("_a") ||
      !col("lang2").endsWith("_b")).count() === 0)
  }

  test("review r17: CDF surfaces un-deleted keys living in CARRIED " +
      "files after a restore that also re-adds other data files " +
      "(the mixed merge-then-restore shape)") {
    val root = freshRoot()
    // two clustered files: low half / high half of the key domain
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id")) // v1: files A (low), B (high)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    // delete keys in the LOW file only
    val delKeys = docs.where(col("doc_id") < cut &&
      col("doc_id") % 3 === 0).select("doc_id")
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", delKeys) // v2
    // a same-key merge touching only the HIGH file (delete set carried
    // verbatim into a fresh... no: untouched → carried verbatim)
    val hi = docs.where(col("doc_id") >= cut).orderBy(col("doc_id").desc)
      .limit(1).withColumn("text", lit("merged"))
    ManifestTable.mergeCoW(spark, root, "doc_id",
      removeKeys = hi.select("doc_id").limit(0), upserts = hi) // v3
    val v4 = ManifestTable.restore(spark, root, 1) // un-delete all
    val cdc = ManifestTable.readChangesBetween(spark, root, 3, v4)
    // the restore drops the delete file AND swaps data files (v3's
    // rewrite out, v1's B back in) — added data files exist, yet the
    // resurrected keys live in the CARRIED low file and must surface
    val resurrected = cdc.where(col("_change") === "insert")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = delKeys.collect().map(_.getLong(0)).toSet
    assert(expect.subsetOf(resurrected),
      s"un-deleted carried-file keys missing from CDF: " +
        s"${(expect -- resurrected).take(5)}")
  }

  test("named tags: carried across optimize, a vacuum retention " +
      "floor, removeTag frees it, unknown tags fail loudly") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.where(col("doc_id") % 2 === 0))
    ManifestTable.addTag(spark, root, "baseline", 1) // v2
    ManifestTable.append(spark, root,
      docs.where(col("doc_id") % 2 =!= 0)) // v3
    ManifestTable.optimize(spark, root, "doc_id", 2) // v4
    // the tag survived the compaction (carried header)
    assert(ManifestTable.tags(spark, root) === Map("baseline" -> 1))
    val nBase = docs.where(col("doc_id") % 2 === 0).count()
    assert(ManifestTable.readAtTag(spark, root, "baseline").count()
      === nBase)
    // retention floor: retain=1 keeps the newest AND the tagged v1;
    // the untagged middles (v2, v3) retire
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    assert(ManifestTable.versions(spark, root) === Seq(1, 4),
      "vacuum did not keep exactly {tagged, newest}")
    assert(ManifestTable.readAtTag(spark, root, "baseline").count()
      === nBase, "the tagged version dangled after vacuum")
    assert(ManifestTable.read(spark, root).count() === docs.count())
    // unknown tag fails loudly
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.readAtTag(spark, root, "nope")
    }
    assert(ex.getMessage.contains("no tag"))
    // removeTag frees the floor: the next vacuum collects v1
    ManifestTable.removeTag(spark, root, "baseline")
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    assert(!ManifestTable.versions(spark, root).contains(1),
      "an untagged version survived vacuum")
    assert(ManifestTable.read(spark, root).count() === docs.count())
  }

  test("advisor r16: CDF surfaces a restore's pure un-delete as " +
      "'insert' rows of the resurrected keys; a compaction's dropped " +
      "delete file emits no phantom inserts") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs)
    val delKeys = docs.where(col("doc_id") % 7 === 0).select("doc_id")
    val v2 = ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", delKeys)
    val v3 = ManifestTable.restore(spark, root, 1) // un-delete everything
    val cdc = ManifestTable.readChangesBetween(spark, root, v2, v3)
    // the resurrected rows surface tagged 'insert', full payload
    val ins = cdc.where(col("_change") === "insert")
    assert(ins.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === delKeys.collect().map(_.getLong(0)).sorted.toSeq,
      "restore's un-delete did not surface the resurrected keys")
    assert(ins.where(col("text").isNull).count() === 0,
      "un-delete inserts lost their payload")
    assert(cdc.where(col("_change") === "delete").count() === 0)
    // a compaction's dropped delete file still emits NO extra inserts
    // beyond the rewrite's own file-granularity re-surfacing
    val root2 = freshRoot()
    ManifestTable.overwrite(spark, root2, docs)
    ManifestTable.deleteWhereKeyIn(spark, root2, "doc_id", delKeys)
    val (v3b, _, _) = ManifestTable.optimize(spark, root2, "doc_id", 2)
    val cdc2 = ManifestTable.readChangesBetween(spark, root2, 2, v3b)
    assert(cdc2.where(col("_change") === "insert").count()
      === ManifestTable.read(spark, root2).count(),
      "compaction CDF emitted phantom un-delete inserts")
  }

  test("advisor r17: CDF un-delete anti-joins the FULL outstanding " +
      "delete set of toVersion — a restore across the LATER of two " +
      "overlapping delete commits emits no false inserts for keys the " +
      "carried earlier delete file still suppresses") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v1
    val k1 = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val k2 = docs.where(col("doc_id") % 6 === 0).select("doc_id") // ⊂ k1
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", k1) // v2: d1
    val v3 = ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", k2)
    // restore to v2: deletes/d2 dropped, deletes/d1 + data CARRIED —
    // every d2 key is still suppressed by the carried d1
    val v4 = ManifestTable.restore(spark, root, 2)
    val cdc = ManifestTable.readChangesBetween(spark, root, v3, v4)
    assert(cdc.where(col("_change") === "insert").count() === 0,
      "keys still suppressed by the CARRIED delete file surfaced as " +
        "false un-delete inserts")
    // and the table itself agrees: k1 stays suppressed
    assert(ManifestTable.read(spark, root)
      .where(col("doc_id") % 3 === 0).count() === 0)
  }

  test("advisor r17: updateWhere refuses to SET the delete-key column " +
      "to an equality-deleted value (the write-side resurrection " +
      "hazard); a non-deleted target value passes") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs) // v1
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(col("doc_id") % 5 === 0).select("doc_id")) // v2
    val deleted = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id").head().getLong(0)
    val live = docs.where(col("doc_id") % 5 =!= 0)
      .select("doc_id").head().getLong(0)
    val vBefore = ManifestTable.currentVersion(spark, root)
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, col("doc_id") === live,
        Seq("doc_id" -> lit(deleted)))
    }
    assert(ex.getMessage.contains("equality-deleted"),
      s"wrong failure: ${ex.getMessage}")
    assert(ManifestTable.currentVersion(spark, root) === vBefore,
      "the rejected update committed anyway")
    // assigning a FRESH key value is fine (guard probes, not rejects)
    val fresh = docs.agg(max(col("doc_id"))).head().getLong(0) + 1000
    val (v, _, rw) = ManifestTable.updateWhere(spark, root,
      col("doc_id") === live, Seq("doc_id" -> lit(fresh)))
    assert(rw > 0 && ManifestTable.read(spark, root)
      .where(col("doc_id") === fresh).count() === 1)
    assert(v === vBefore.get + 1)
  }

  test("advisor r17: a digit-only tag name is rejected at declaration " +
      "(VERSION AS OF would shadow it with the integer version)") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root, docs.limit(10))
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.addTag(spark, root, "2", 1)
    }
    assert(ex.getMessage.contains("digits"))
    // mixed names still pass
    ManifestTable.addTag(spark, root, "v2", 1)
    assert(ManifestTable.tags(spark, root) === Map("v2" -> 1))
  }

  test("commit-kind header: every commit records WHY it happened, " +
      "restore overrides the replicated headers' kind, history " +
      "surfaces it") {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      docs.repartitionByRange(2, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      boundsCol = Some("doc_id"))                                // v1
    ManifestTable.append(spark, root, docs.limit(5))             // v2
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      docs.where(col("doc_id") % 9 === 0).select("doc_id"))      // v3
    ManifestTable.optimize(spark, root, "doc_id", 2)             // v4
    ManifestTable.mergeCoW(spark, root, "doc_id",
      docs.where(col("doc_id") % 11 === 0).select("doc_id"),
      docs.limit(0))                                             // v5
    ManifestTable.deleteWhere(spark, root, col("doc_id") % 13 === 0) // v6
    ManifestTable.updateWhere(spark, root, col("doc_id") % 17 === 0,
      Seq("lang" -> lit("xx")))                                  // v7
    ManifestTable.addTag(spark, root, "mark", 1)                 // v8
    ManifestTable.restore(spark, root, 2)                        // v9
    val kinds = ManifestTable.history(spark, root)
      .map(c => c.version -> c.kind.getOrElse("?")).toMap
    assert(kinds === Map(1 -> "overwrite", 2 -> "append",
      3 -> "delete", 4 -> "compact", 5 -> "merge", 6 -> "rowdelete",
      7 -> "rowupdate", 8 -> "metadata", 9 -> "restore"),
      s"wrong kinds: $kinds")
    // the restore replicated v2's headers but NOT its kind
    assert(ManifestTable.commitKindOf(spark, root, 9)
      === Some("restore"))
  }

  test("verdict r17: TUPLE-KEYED merge sequences composite equality " +
      "deletes — whole-tuple resurrection only, untouched tuples stay " +
      "suppressed via one consolidated delete file, mismatched " +
      "key-sets still rejected") {
    import spark.implicits._
    val root = freshRoot()
    // keys (a, b): a is the leading (bounds) column
    val rows = for (a <- 1L to 8L; b <- 1L to 4L)
      yield (a, b, s"r-$a-$b")
    ManifestTable.overwrite(spark, root,
      rows.toDF("a", "b", "text")
        .repartitionByRange(4, col("a")).sortWithinPartitions("a"),
      boundsCol = Some("a")) // v1
    // composite delete: tuples with a even AND b odd
    ManifestTable.deleteWhereKeysIn(spark, root, Seq("a", "b"),
      rows.toDF("a", "b", "text").where(col("a") % 2 === 0 &&
        col("b") % 2 === 1).select("a", "b")) // v2
    // one tuple merge: remove live (1,1); resurrect deleted (2,1)
    // ONLY — (2,3) is deleted too and must STAY suppressed; replace
    // live (3,2)
    val (v3, carried, rewrittenN) = ManifestTable.mergeCoWKeys(spark,
      root, Seq("a", "b"),
      removeKeys = Seq((1L, 1L)).toDF("a", "b"),
      upserts = Seq((2L, 1L, "resurrected"), (3L, 2L, "replaced"))
        .toDF("a", "b", "text"))
    assert(v3 === 3 && carried > 0,
      s"tuple merge rewrote everything (carried=$carried)")
    val got = ManifestTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(!got.contains((1L, 1L)), "removed tuple survived")
    assert(got((2L, 1L)) === "resurrected",
      "whole-tuple resurrection failed")
    assert(!got.contains((2L, 3L)),
      "an untouched deleted tuple resurfaced — partial-tuple " +
        "sequencing bug")
    assert(got((3L, 2L)) === "replaced")
    assert(got((2L, 2L)) === "r-2-2", "a live even-b tuple was touched")
    // the surviving delete keys consolidated into ONE fresh file
    assert(ManifestTable.snapshot(spark, root).deleteFiles.size === 1,
      "delete files did not consolidate")
    // optimize agrees (apply-at-read == apply-at-compaction)
    ManifestTable.optimize(spark, root, "a", 2)
    val compacted = ManifestTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(compacted === got, "compaction drifted from the MoR read")
    // a differently-ordered / partial key-set is still rejected
    ManifestTable.deleteWhereKeysIn(spark, root, Seq("a", "b"),
      Seq((5L, 1L)).toDF("a", "b"))
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoWKeys(spark, root, Seq("b", "a"),
        Seq((5L, 1L)).toDF("b", "a"),
        Seq.empty[(Long, Long, String)].toDF("b", "a", "text"))
    }
    assert(ex.getMessage.contains("cannot sequence"))
    val ex2 = intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, "a",
        Seq(5L).toDF("a"), Seq.empty[(Long, Long, String)]
          .toDF("a", "b", "text"))
    }
    assert(ex2.getMessage.contains("cannot sequence"))
  }

  test("r19: writable branches (WAP) — staged commits invisible to " +
      "main, audit reads agree across surfaces, publish rebases over " +
      "appends, conflicts and vacuum floors enforced") {
    import spark.implicits._
    val b = scratchDir("graft-wap")
    val root = s"$b/t"
    def rows(n: Range, tag: String) = n.map(i => (i.toLong, s"$tag$i"))
      .toDF("doc_id", "text")
    ManifestTable.overwrite(spark, root,
      rows(1 to 40, "d").repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions("doc_id"), boundsCol = Some("doc_id"))
    ManifestTable.createBranch(spark, root, "audit")
    // a concurrent main append during the branch life
    ManifestTable.append(spark, root, rows(100 to 104, "m"),
      boundsCol = Some("doc_id"))
    // the staged merge: remove 1-5, upsert 6-8 edited
    ManifestTable.mergeCoWKeys(spark, root, Seq("doc_id"),
      removeKeys = (1L to 5L).toDF("doc_id"),
      upserts = (6 to 8).map(i => (i.toLong, s"d$i-v2"))
        .toDF("doc_id", "text"),
      branch = Some("audit"))
    // invisibility, both ways
    val mainPre = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mainPre === ((1 to 40) ++ (100 to 104)).map(_.toLong).toSet,
      "the staged merge leaked into the main read")
    val audit = ManifestTable.readBranch(spark, root, "audit")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(audit.keySet === (6 to 40).map(_.toLong).toSet,
      "branch audit wrong (concurrent append must be invisible)")
    assert(audit(6L) === "d6-v2" && audit(40L) === "d40")
    // the SQL audit surface agrees with the Scala one
    GraftCatalog.register(spark, "gwap", b.toString)
    val sqlAudit = spark.sql(
      "SELECT doc_id, text FROM gwap.t VERSION AS OF 'audit'")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sqlAudit === audit, "SQL and Scala audit reads drifted")
    // vacuum during the branch life: the base version and the branch
    // manifests' files must survive a retain=1 sweep
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    assert(ManifestTable.readBranch(spark, root, "audit").count() === 35,
      "vacuum collected files a live branch references")
    // publish: merge + concurrent append together, one commit
    val vPub = ManifestTable.publishBranch(spark, root, "audit")
    assert(ManifestTable.commitKindOf(spark, root, vPub)
      .contains("publish"))
    val post = ManifestTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(post.keySet ===
      ((6 to 40) ++ (100 to 104)).map(_.toLong).toSet,
      "publish lost the concurrent append or resurrected removes")
    assert(post(7L) === "d7-v2" && post(100L) === "m100")
    assert(ManifestTable.branchBase(spark, root, "audit").isEmpty,
      "the branch pointer must die with the publish")
    // conflict: main moved by a NON-append (rowdelete) → publish rejects
    ManifestTable.createBranch(spark, root, "audit2")
    ManifestTable.mergeCoWKeys(spark, root, Seq("doc_id"),
      removeKeys = Seq(6L).toDF("doc_id"),
      upserts = Seq.empty[(Long, String)].toDF("doc_id", "text"),
      branch = Some("audit2"))
    ManifestTable.deleteWhere(spark, root, col("doc_id") === 8L)
    val exPub = intercept[IllegalArgumentException] {
      ManifestTable.publishBranch(spark, root, "audit2") }
    assert(exPub.getMessage.contains("rewrote or removed"),
      exPub.getMessage)
    // dropBranch abandons cleanly
    ManifestTable.dropBranch(spark, root, "audit2")
    assert(ManifestTable.branchBase(spark, root, "audit2").isEmpty)
    // a publish with nothing staged rejects
    ManifestTable.createBranch(spark, root, "empty")
    val exEmpty = intercept[IllegalArgumentException] {
      ManifestTable.publishBranch(spark, root, "empty") }
    assert(exEmpty.getMessage.contains("no commits to publish"))
  }

  test("review r19: branch edges — publish keeps #deletecol when " +
      "main's post-fork delete lines survive; re-keyed bounds reject; " +
      "stale same-named manifests are cleaned at create; restore off " +
      "the pointer does not let vacuum eat staged work; tag names " +
      "collide loudly") {
    import spark.implicits._
    val b = scratchDir("graft-bredge")
    val root = s"$b/t"
    def rows(n: Range) = n.map(i => (i.toLong, s"d$i"))
      .toDF("doc_id", "text")
    ManifestTable.overwrite(spark, root,
      rows(1 to 30).repartitionByRange(3, col("doc_id"))
        .sortWithinPartitions("doc_id"), boundsCol = Some("doc_id"))
    // base deletes on doc_id (v2)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      Seq(1L, 2L).toDF("doc_id"))
    ManifestTable.createBranch(spark, root, "wap") // v3
    // main adds MORE deletes after the fork (same column — passes the
    // header-equality precondition; its delete line must survive)
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id",
      Seq(3L).toDF("doc_id")) // v4
    // the branch merge touches BOTH base-deleted keys: its
    // consolidated delete set empties and the branch head drops the
    // declaration — publish must still declare #deletecol for main's
    // surviving post-fork delete line
    ManifestTable.mergeCoWKeys(spark, root, Seq("doc_id"),
      removeKeys = Seq(10L).toDF("doc_id"),
      upserts = Seq((1L, "d1-back"), (2L, "d2-back"))
        .toDF("doc_id", "text"),
      branch = Some("wap"))
    ManifestTable.publishBranch(spark, root, "wap")
    // the published table must READ (a dropped declaration with live
    // delete files fails loudly) and serve exactly the right rows:
    // 1,2 resurrected by the branch, 3 still suppressed by main's
    // post-fork delete, 10 removed
    val got = ManifestTable.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === ((1L to 30L).toSet - 3L - 10L),
      s"published delete sequencing wrong: $got")
    // re-keyed bounds: a branch merge keyed off the bounds column
    // rewrites the bounds header — publish must reject, not splice
    val root2 = s"$b/t2"
    ManifestTable.overwrite(spark, root2,
      (1L to 20L).map(i => (i, i * 7 % 20, s"x$i"))
        .toDF("a", "b", "text"),
      boundsCol = Some("a"))
    ManifestTable.createBranch(spark, root2, "wap2")
    ManifestTable.mergeCoWKeys(spark, root2, Seq("b"),
      removeKeys = Seq(5L).toDF("b"),
      upserts = Seq.empty[(Long, Long, String)].toDF("a", "b", "text"),
      branch = Some("wap2"))
    val exB = intercept[IllegalArgumentException] {
      ManifestTable.publishBranch(spark, root2, "wap2") }
    assert(exB.getMessage.contains("bounds"), exB.getMessage)
    // stale same-named manifests from a dead branch are cleaned at
    // create — the re-created branch starts from ITS base, not the
    // abandoned head
    val root3 = s"$b/t3"
    ManifestTable.overwrite(spark, root3, rows(1 to 5))
    ManifestTable.createBranch(spark, root3, "aud")
    ManifestTable.appendToBranch(spark, root3, "aud",
      rows(100 to 101))
    ManifestTable.dropBranch(spark, root3, "aud")
    // simulate a failed best-effort cleanup: plant a stale manifest
    val fs3 = new org.apache.hadoop.fs.Path(root3).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(root3,
      "_manifests/branch-aud-v00000077.manifest")
    val out = fs3.create(stale, true)
    out.write("#commit-kind=append\n".getBytes("UTF-8")); out.close()
    ManifestTable.createBranch(spark, root3, "aud")
    assert(ManifestTable.readBranch(spark, root3, "aud").count() === 5,
      "re-created branch resumed a stale abandoned head")
    // restore off the pointer: vacuum must NOT reap the staged work
    // while a retained version still references the branch
    val root4 = s"$b/t4"
    ManifestTable.overwrite(spark, root4, rows(1 to 6))   // v1
    ManifestTable.append(spark, root4, rows(7 to 8))      // v2
    ManifestTable.createBranch(spark, root4, "keepme")    // v3
    ManifestTable.appendToBranch(spark, root4, "keepme", rows(50 to 52))
    ManifestTable.restore(spark, root4, 1)                // v4: pointer off
    // the pointer rolled off the head (the restore doctrine: headers
    // replicate verbatim, like tags) — but vacuum must NOT reap the
    // staged manifests/files while a RETAINED version still references
    // the branch, so a restore BACK recovers the staged work intact
    ManifestTable.vacuum(spark, root4, retain = 3, orphanRetentionMs = 0L)
    ManifestTable.restore(spark, root4, 3)                // pointer back
    assert(ManifestTable.readBranch(spark, root4, "keepme")
      .count() === 11,
      "vacuum reaped a branch still referenced by a retained version")
    // tag-name collision rejects at branch creation, and VERSION AS OF
    // keeps serving the TAG
    val root5 = s"$b/t5"
    ManifestTable.overwrite(spark, root5, rows(1 to 4))
    ManifestTable.addTag(spark, root5, "prod", 1)
    val exTag = intercept[IllegalArgumentException] {
      ManifestTable.createBranch(spark, root5, "prod") }
    assert(exTag.getMessage.contains("TAG"), exTag.getMessage)
    GraftCatalog.register(spark, "gbe", b.toString)
    assert(spark.sql("SELECT count(*) AS n FROM gbe.t5 " +
      "VERSION AS OF 'prod'").head().getLong(0) === 4L)
  }

  test("r19: field-id evolution — rename is a header-only commit " +
      "reading both namings by id, drop is a projection mask, a " +
      "re-added name gets a fresh id (no resurrection), time travel " +
      "serves each regime") {
    import spark.implicits._
    val base = scratchDir("graft-fid")
    val root = s"$base/t"
    // v1: creation stamps ids 1..3
    ManifestTable.overwrite(spark, root,
      Seq((1L, "al", "x"), (2L, "bl", "y")).toDF("id", "lang", "text"))
    val filesV1 = ManifestTable.fileStats(spark, root).map(_._1)
    // v2: RENAME lang -> language (header-only: same files)
    ManifestTable.renameColumn(spark, root, "lang", "language")
    assert(ManifestTable.fileStats(spark, root).map(_._1) === filesV1,
      "rename must not touch data files")
    assert(ManifestTable.read(spark, root).columns.toSeq ===
      Seq("id", "language", "text"))
    // old files' values surface under the NEW name (id resolution)
    assert(ManifestTable.read(spark, root)
      .select("id", "language").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "al"), (2L, "bl")), "renamed column lost its values")
    // v3: append written under the NEW name — both namings now coexist
    // physically; the read merges them by id
    ManifestTable.append(spark, root,
      Seq((3L, "cl", "z")).toDF("id", "language", "text"))
    assert(ManifestTable.read(spark, root)
      .select("id", "language").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "al"), (2L, "bl"), (3L, "cl")))
    // v4: DROP text (projection mask, header-only)
    val filesV3 = ManifestTable.fileStats(spark, root).map(_._1)
    ManifestTable.dropColumn(spark, root, "text")
    assert(ManifestTable.fileStats(spark, root).map(_._1) === filesV3,
      "drop must not touch data files")
    assert(ManifestTable.read(spark, root).columns.toSeq ===
      Seq("id", "language"))
    // v5: RE-ADD a column named text — fresh id, so the dropped
    // column's old values must NOT resurface
    ManifestTable.addColumns(spark, root, Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val readdClean = ManifestTable.read(spark, root)
      .where(col("text").isNotNull).count()
    assert(readdClean === 0L,
      "re-added column resurrected the dropped column's values")
    // ...and a new append fills it under the fresh id
    ManifestTable.append(spark, root,
      Seq((4L, "dl", "new")).toDF("id", "language", "text"))
    assert(ManifestTable.read(spark, root)
      .where(col("text").isNotNull).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((4L, "new")))
    // time travel: each version reads with ITS committed schema
    assert(ManifestTable.readAt(spark, root, 1).columns.toSeq ===
      Seq("id", "lang", "text"))
    assert(ManifestTable.readAt(spark, root, 1)
      .select("lang").collect().map(_.getString(0)).toSet ===
      Set("al", "bl"))
    assert(ManifestTable.readAt(spark, root, 3).columns.toSeq ===
      Seq("id", "language", "text"))
    assert(ManifestTable.readAt(spark, root, 3)
      .select("text").collect().map(_.getString(0)).toSet ===
      Set("x", "y", "z"), "pre-drop time travel must serve the column")
    // rejections: role columns, constraint references, last column,
    // collision, legacy (id-less) tables
    val exColl = intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "language", "ID") }
    assert(exColl.getMessage.contains("already exists"))
    ManifestTable.addConstraint(spark, root, "lang_ok",
      "language IS NOT NULL OR id < 0")
    val exCon = intercept[UnsupportedOperationException] {
      ManifestTable.renameColumn(spark, root, "language", "lng") }
    assert(exCon.getMessage.contains("constraint"), exCon.getMessage)
    ManifestTable.dropConstraint(spark, root, "lang_ok")
    val rootB = s"$base/bounds"
    ManifestTable.overwrite(spark, rootB,
      Seq((1L, "a")).toDF("id", "text"), boundsCol = Some("id"))
    val exRole = intercept[UnsupportedOperationException] {
      ManifestTable.dropColumn(spark, rootB, "id") }
    assert(exRole.getMessage.contains("bounds"), exRole.getMessage)
    val exLast = intercept[IllegalArgumentException] {
      ManifestTable.dropColumn(spark, rootB, "text")
      ManifestTable.dropColumn(spark, rootB, "text") }
    assert(exLast.getMessage.toLowerCase.contains("no column named") ||
      exLast.getMessage.contains("last column"), exLast.getMessage)
  }

  test("r19: type widening — int->long / float->double are " +
      "header-only commits; old files upcast, mixed-width history " +
      "reads uniformly, time travel serves the narrow type; " +
      "narrowing/cross-family/role/legacy reject; SQL ALTER COLUMN " +
      "TYPE routes") {
    import spark.implicits._
    val base = scratchDir("graft-widen")
    val root = s"$base/t"
    // v1: creation stamps ids; n is INT, f is FLOAT
    ManifestTable.overwrite(spark, root,
      Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("n", "f", "text"))
    val filesV1 = ManifestTable.fileStats(spark, root).map(_._1)
    // v2: widen n int -> bigint (header-only: same files)
    ManifestTable.widenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType)
    assert(ManifestTable.fileStats(spark, root).map(_._1) === filesV1,
      "widening must not touch data files")
    assert(ManifestTable.read(spark, root).schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ManifestTable.read(spark, root).select("n").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L),
      "narrow physical column lost values under the wide read")
    // idempotent re-widen is a no-op (no empty commit)
    val vBefore = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.widenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType) === vBefore)
    // v3: append WIDE rows — mixed-width history reads uniformly
    ManifestTable.append(spark, root,
      Seq((3L, 3.5f, "c")).toDF("n", "f", "text"))
    assert(ManifestTable.read(spark, root).select("n").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // a NARROW append after the widening rejects (exact contract)
    val exNarrow = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        Seq((4, 4.5f, "d")).toDF("n", "f", "text")) }
    assert(exNarrow.getMessage.contains("cast the frame"),
      exNarrow.getMessage)
    // v4: widen f float -> double; both physical widths agree
    ManifestTable.widenColumn(spark, root, "f",
      org.apache.spark.sql.types.DoubleType)
    assert(ManifestTable.read(spark, root).select("f").collect()
      .map(_.getDouble(0)).toSet === Set(1.5d, 2.5d, 3.5d))
    // widen THEN RENAME composes: the id carries both changes
    ManifestTable.renameColumn(spark, root, "n", "num")
    assert(ManifestTable.read(spark, root).select("num").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L),
      "widened+renamed column lost its old files' values")
    // time travel: v1 serves the NARROW type
    assert(ManifestTable.readAt(spark, root, 1).schema("n").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(ManifestTable.readAt(spark, root, 1).select("n").collect()
      .map(_.getInt(0)).toSet === Set(1, 2))
    // rejections: narrowing, cross-family, string
    val exNarrowing = intercept[UnsupportedOperationException] {
      ManifestTable.widenColumn(spark, root, "num",
        org.apache.spark.sql.types.IntegerType) }
    assert(exNarrowing.getMessage.contains("lossless"),
      exNarrowing.getMessage)
    intercept[UnsupportedOperationException] {
      ManifestTable.widenColumn(spark, root, "num",
        org.apache.spark.sql.types.DoubleType) }
    intercept[UnsupportedOperationException] {
      ManifestTable.widenColumn(spark, root, "text",
        org.apache.spark.sql.types.LongType) }
    // a pruning-role column rejects (bounds attribute physical values)
    val rootB = s"$base/bounds"
    ManifestTable.overwrite(spark, rootB,
      Seq((1, "a")).toDF("id", "text"), boundsCol = Some("id"))
    val exRole = intercept[UnsupportedOperationException] {
      ManifestTable.widenColumn(spark, rootB, "id",
        org.apache.spark.sql.types.LongType) }
    assert(exRole.getMessage.contains("bounds"), exRole.getMessage)
  }

  test("r19: every allowlisted widening pair is pinned empirically — " +
      "byte->short/int/long and short->int/long upcast old files' " +
      "values exactly (int->long, float->double pinned above)") {
    import spark.implicits._
    val base = scratchDir("graft-widenall")
    val root = s"$base/t"
    ManifestTable.overwrite(spark, root,
      Seq((1.toByte, 2.toByte, 3.toByte, 10.toShort, 20.toShort, "x"),
        (4.toByte, 5.toByte, 6.toByte, 30.toShort, 40.toShort, "y"))
        .toDF("b1", "b2", "b3", "s1", "s2", "text"))
    import org.apache.spark.sql.types._
    ManifestTable.widenColumn(spark, root, "b1", ShortType)
    ManifestTable.widenColumn(spark, root, "b2", IntegerType)
    ManifestTable.widenColumn(spark, root, "b3", LongType)
    ManifestTable.widenColumn(spark, root, "s1", IntegerType)
    ManifestTable.widenColumn(spark, root, "s2", LongType)
    val got = ManifestTable.read(spark, root).orderBy("b1").collect()
    assert(got.map(_.getShort(0)).toSeq === Seq(1.toShort, 4.toShort))
    assert(got.map(_.getInt(1)).toSeq === Seq(2, 5))
    assert(got.map(_.getLong(2)).toSeq === Seq(3L, 6L))
    assert(got.map(_.getInt(3)).toSeq === Seq(10, 30))
    assert(got.map(_.getLong(4)).toSeq === Seq(20L, 40L))
  }

  test("r19: SQL ALTER COLUMN TYPE — widening lands, narrowing and " +
      "cross-family reject through the catalog route") {
    import spark.implicits._
    val base = scratchDir("graft-widensql")
    val root = s"$base/t"
    ManifestTable.overwrite(spark, root,
      Seq((1, "a"), (2, "b")).toDF("n", "text"))
    GraftCatalog.register(spark, "gwsql", base.toString)
    spark.sql("ALTER TABLE gwsql.t ALTER COLUMN n TYPE BIGINT")
    assert(ManifestTable.read(spark, root).schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(n) AS s FROM gwsql.t")
      .head().getLong(0) === 3L)
    // narrowing and string->number die in Spark's OWN analyzer
    // (Cast.canUpCast) before the catalog sees them — loud either way
    val exDn = intercept[Exception] {
      spark.sql("ALTER TABLE gwsql.t ALTER COLUMN n TYPE INT") }
    assert(exDn.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      exDn.getMessage)
    val exCf = intercept[Exception] {
      spark.sql("ALTER TABLE gwsql.t ALTER COLUMN text TYPE BIGINT") }
    assert(exCf.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      exCf.getMessage)
    // int -> double passes Spark's upcast gate but is CROSS-FAMILY
    // here (no lossless physical story for every old file): OUR
    // allowlist rejects it with the rewrite workaround
    spark.sql("ALTER TABLE gwsql.t ADD COLUMN m INT")
    val exXf = intercept[Exception] {
      spark.sql("ALTER TABLE gwsql.t ALTER COLUMN m TYPE DOUBLE") }
    assert(exXf.getMessage.contains("lossless"), exXf.getMessage)
  }

  test("r19: pruning-degradation diagnostic fires on a table NOT " +
      "clustered on the leading merge key, stays silent when " +
      "near-disjoint file ranges legitimately all rewrite") {
    import spark.implicits._
    val base = scratchDir("graft-prdiag")
    // k2 is a scrambled bijection of k1 (NOT merely reversed — a
    // reversal keeps per-range k1 spans narrow), so k2-ranged files
    // each span ~the whole k1 domain
    val rows = (0L until 512L).map(i => (i, (i * 131L) % 512L, s"t$i"))
      .toDF("k1", "k2", "text")
    // MIS-CLUSTERED: files cut by k2, bounds stamped for k1 — every
    // file's k1 range spans ~the whole domain, so a handful of changed
    // keys keeps all files and the diagnostic must name the cause
    val bad = s"$base/bad"
    ManifestTable.overwrite(spark, bad,
      rows.repartitionByRange(8, col("k2")).sortWithinPartitions("k2"),
      boundsCol = Some("k1"))
    val heard = scala.collection.mutable.ArrayBuffer.empty[String]
    ManifestTable.mergeCoWKeys(spark, bad, Seq("k1"),
      removeKeys = Seq(5L, 100L, 200L, 300L, 400L, 500L).toDF("k1"),
      upserts = Seq.empty[(Long, Long, String)].toDF("k1", "k2", "text"),
      onDiagnostic = heard += _)
    assert(heard.exists(m => m.contains("not clustered") &&
      m.contains("k1")), s"diagnostic missing: $heard")
    // WELL-CLUSTERED, all files affected (q191's shape: changed keys
    // span the domain): pruning kept everything because the work IS
    // everywhere — no diagnostic
    val good = s"$base/good"
    ManifestTable.overwrite(spark, good,
      rows.repartitionByRange(8, col("k1")).sortWithinPartitions("k1"),
      boundsCol = Some("k1"))
    val heard2 = scala.collection.mutable.ArrayBuffer.empty[String]
    ManifestTable.mergeCoWKeys(spark, good, Seq("k1"),
      removeKeys = (0L until 512L by 8L).toDF("k1"), // every file hit
      upserts = Seq.empty[(Long, Long, String)].toDF("k1", "k2", "text"),
      onDiagnostic = heard2 += _)
    assert(heard2.isEmpty,
      s"diagnostic fired on a correctly-clustered table: $heard2")
  }

  /** A 4-file table of keys [0, 400) clustered and bounds-stamped on
    * `k`, with a string payload `s`. */
  private def keyedTable(): String = {
    val root = freshRoot()
    ManifestTable.overwrite(spark, root,
      keyRows(0, 400, "v").repartitionByRange(4, col("k"))
        .sortWithinPartitions("k"),
      boundsCol = Some("k"))
    root
  }

  private def keyRows(from: Long, until: Long, tag: String) =
    spark.range(from, until, 1, 1).select(col("id").as("k"),
      concat(lit(tag), col("id").cast("string")).as("s"))

  private def entriesUnder(root: String, dir: String): Set[String] =
    Option(new java.io.File(root, dir).list()).fold(Set.empty[String])(_.toSet)

  test("resurrection guard after staging: an append whose bounds meet " +
      "a delete file's but hold no deleted key commits; one holding a " +
      "deleted key fails unchanged and leaves nothing behind") {
    val root = keyedTable()
    ManifestTable.deleteWhereKeyIn(spark, root, "k",
      spark.range(0, 400, 10, 1).select(col("id").as("k")))
    // the delete line carries the leading key's bounds
    assert(ManifestTable.snapshot(spark, root).deleteEntries
      .map(_.bounds) === Seq(Some((0L, 390L))))
    // [381, 389] meets [0, 390] but holds no multiple of 10: commits
    val v = ManifestTable.append(spark, root, keyRows(381, 390, "new"),
      boundsCol = Some("k"))
    assert(ManifestTable.read(spark, root).where(col("s").startsWith("new"))
      .count() === 9)
    // pruned reads apply the delete file exactly where it can match
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(ManifestTable.readWhereKeyBetween(spark, root, "k", 375, 395))
      === ((375L to 395L).filter(_ % 10 != 0) ++ (381L to 389L)).sorted)
    val rows = ManifestTable.read(spark, root).collect()
      .map(_.toString).sorted.toSeq
    val dataDirs = entriesUnder(root, "data")
    // [375, 384] holds the deleted key 380
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, keyRows(375, 385, "back"),
        boundsCol = Some("k"))
    }
    assert(ex.getMessage === s"requirement failed: append to $root " +
      "would resurrect equality-deleted (k) tuples — the delete is " +
      "global until compacted; run optimize first, then append")
    assert(ManifestTable.currentVersion(spark, root) === Some(v))
    assert(ManifestTable.read(spark, root).collect().map(_.toString)
      .sorted.toSeq === rows)
    assert(entriesUnder(root, "data") === dataDirs,
      "the refused append left its staged dir behind")
  }

  test("a null delete key fails unchanged and commits nothing: a long " +
      "key, and a composite key whose null sits in a string column") {
    val root = keyedTable()
    val v = ManifestTable.currentVersion(spark, root)
    val msg = "requirement failed: null keys cannot be equality-deleted " +
      "(the anti-join would never match them)"
    val nullLong = spark.range(0, 5, 1, 1).select(
      when(col("id") =!= 3, col("id")).as("k"))
    val exL = intercept[IllegalArgumentException] {
      ManifestTable.deleteWhereKeyIn(spark, root, "k", nullLong)
    }
    assert(exL.getMessage === msg)
    val nullString = keyRows(0, 5, "v")
      .withColumn("s", when(col("k") =!= 2, col("s")))
    val exC = intercept[IllegalArgumentException] {
      ManifestTable.deleteWhereKeysIn(spark, root, Seq("k", "s"), nullString)
    }
    assert(exC.getMessage === msg)
    assert(ManifestTable.currentVersion(spark, root) === v)
    assert(ManifestTable.read(spark, root).count() === 400)
    assert(entriesUnder(root, "deletes").isEmpty,
      "a refused delete left its staged dir behind")
  }

  test("a delete input with duplicate keys surfaces each key once in " +
      "the change feed") {
    val root = keyedTable()
    val v = ManifestTable.currentVersion(spark, root).get
    val dupes = spark.range(0, 50, 10, 2)
      .union(spark.range(0, 50, 5, 3)).union(spark.range(0, 50, 10, 1))
      .select(col("id").as("k"))
    val v2 = ManifestTable.deleteWhereKeyIn(spark, root, "k", dupes)
    val deleted = ManifestTable.readChangesBetween(spark, root, v, v2)
      .where(col("_change") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(deleted === (0L until 50L by 5L))
    assert(ManifestTable.read(spark, root).count() === 390)
  }

  test("a merge keyed on a timestamp stats column replaces the row it " +
      "upserts (the stab compares epoch micros with micros bounds)") {
    val root = freshRoot()
    val base = spark.range(0, 100, 1, 1).select(
      timestamp_micros(col("id") * 1000000L + 1600000000000000L).as("ts"),
      col("id").as("v"))
    ManifestTable.overwrite(spark, root,
      base.repartitionByRange(4, col("ts")).sortWithinPartitions("ts"),
      statsCols = Seq("ts"))
    val up = base.where(col("v") === 50).withColumn("v", lit(-1L))
    ManifestTable.mergeCoW(spark, root, "ts", up.select("ts").limit(0), up)
    val t = up.select("ts").head().getTimestamp(0)
    assert(ManifestTable.read(spark, root).where(col("ts") === lit(t))
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(ManifestTable.read(spark, root).count() === 100)
  }
}
