package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.ManifestTable

/** The manifest table as a Structured Streaming SOURCE: version-number
  * offsets checkpointed by the engine, initial batch = snapshot, later
  * batches = per-commit added files, exactly-once across kills because
  * a replayed (start, end] re-reads the same immutable manifests and
  * files. */
class ManifestStreamSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sfDir)
    .select("doc_id", "lang", "text")

  private def slice(i: Int) = docs.where(pmod(col("doc_id"), lit(4)) === i)

  /** One AvailableNow run: drain everything committed so far into the
    * parquet sink, then stop — the "process" dies after every run, so
    * continuation rests on the engine's checkpointed version offsets. */
  private def drain(root: String, ck: String, out: String,
                    startingVersion: Option[Int] = None,
                    pinSchema: Option[org.apache.spark.sql.types.StructType]
                      = None): Unit = {
    val reader = spark.readStream
      .format(classOf[ManifestStreamProvider].getName)
      .option("path", root)
    val withVer = startingVersion
      .fold(reader)(v => reader.option("startingVersion", v.toString))
    val src = pinSchema.fold(withVer)(withVer.schema).load()
    val q = src.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("snapshot-then-tail, killed after every commit: each row arrives " +
      "exactly once; resume is from the checkpointed version offset") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    // v1 with two slices: the stream's FIRST batch is the whole snapshot
    ManifestTable.overwrite(spark, root, slice(0).unionByName(slice(1)))
    drain(root, ck, out)
    assert(ids(spark.read.parquet(out)) ===
      ids(slice(0).unionByName(slice(1))))
    // nothing new committed: a re-run must emit NOTHING (offset replay,
    // not snapshot replay)
    drain(root, ck, out)
    assert(spark.read.parquet(out).count() ===
      slice(0).unionByName(slice(1)).count(),
      "an idle re-run duplicated rows")
    // two more commits, each drained by a fresh "process"
    ManifestTable.append(spark, root, slice(2))
    drain(root, ck, out)
    ManifestTable.append(spark, root, slice(3))
    drain(root, ck, out)
    val got = spark.read.parquet(out)
    assert(ids(got) === ids(docs), "tail lost or duplicated rows")
  }

  test("rewrite commits: the tail fails LOUDLY by default; skip makes " +
      "them invisible (exactly-once appends); redeliver re-delivers " +
      "carried rows") {
    def drainWith(root: String, ck: String, out: String,
                  policy: Option[String]): Unit = {
      val reader = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root)
      val src = policy.fold(reader)(p =>
        reader.option("onRewriteCommits", p)).load()
      val q = src.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // DEFAULT: loud failure on the rewrite commit
    val b1 = scratchDir("graft-rw").toString
    ManifestTable.overwrite(spark, s"$b1/t", slice(0))
    drainWith(s"$b1/t", s"$b1/ck", s"$b1/out", None)
    ManifestTable.optimize(spark, s"$b1/t", "doc_id", 2)
    val ex = intercept[Exception] {
      drainWith(s"$b1/t", s"$b1/ck", s"$b1/out", None)
    }
    assert(ex.getMessage.contains("rewrite commit") ||
      Option(ex.getCause).exists(_.getMessage.contains("rewrite commit")),
      s"default did not fail loudly: ${ex.getMessage}")
    // SKIP: appends arrive exactly once across two interleaved rewrites
    val b2 = scratchDir("graft-rw").toString
    ManifestTable.overwrite(spark, s"$b2/t", slice(0))
    drainWith(s"$b2/t", s"$b2/ck", s"$b2/out", Some("skip"))
    ManifestTable.optimize(spark, s"$b2/t", "doc_id", 2)
    ManifestTable.append(spark, s"$b2/t", slice(1))
    drainWith(s"$b2/t", s"$b2/ck", s"$b2/out", Some("skip"))
    ManifestTable.append(spark, s"$b2/t", slice(2))
    ManifestTable.optimize(spark, s"$b2/t", "doc_id", 2)
    drainWith(s"$b2/t", s"$b2/ck", s"$b2/out", Some("skip"))
    assert(ids(spark.read.parquet(s"$b2/out")) ===
      ids(slice(0).unionByName(slice(1)).unionByName(slice(2))),
      "skip lost or duplicated rows")
    // REDELIVER: the rewrite's output files flow — carried rows twice
    val b3 = scratchDir("graft-rw").toString
    ManifestTable.overwrite(spark, s"$b3/t", slice(0))
    drainWith(s"$b3/t", s"$b3/ck", s"$b3/out", Some("redeliver"))
    ManifestTable.optimize(spark, s"$b3/t", "doc_id", 2)
    drainWith(s"$b3/t", s"$b3/ck", s"$b3/out", Some("redeliver"))
    assert(spark.read.parquet(s"$b3/out").count() === slice(0).count() * 2,
      "redeliver did not re-deliver the carried rows")
  }

  test("review r17: a tail resumes across a vacuum GAP when its own " +
      "checkpointed version is retained (tag floor keeps v1, middles " +
      "retired) — rows arrive exactly once via the net diff") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    ManifestTable.overwrite(spark, root, slice(0)) // v1
    drain(root, ck, out) // cursor checkpointed AT v1
    ManifestTable.addTag(spark, root, "cursor", 1) // v2 (header-only)
    ManifestTable.append(spark, root, slice(1))    // v3
    ManifestTable.append(spark, root, slice(2))    // v4
    // retire the MIDDLE manifests while the cursor still points at the
    // tagged v1: retain=1 keeps {v1 (tag floor), v4}, drops v2/v3 — the
    // resume's batch (1, 4] spans a manifest gap
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    assert(ManifestTable.versions(spark, root) === Seq(1, 4))
    drain(root, ck, out)
    assert(ids(spark.read.parquet(out)) ===
      ids(slice(0).unionByName(slice(1)).unionByName(slice(2))),
      "resume across a vacuum gap lost or duplicated rows")
  }

  test("startingVersion skips the snapshot: only commits >= v arrive") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    ManifestTable.overwrite(spark, root, slice(0))  // v1
    ManifestTable.append(spark, root, slice(1))     // v2
    ManifestTable.append(spark, root, slice(2))     // v3
    drain(root, s"$base/ck", s"$base/out", startingVersion = Some(2))
    assert(ids(spark.read.parquet(s"$base/out")) ===
      ids(slice(1).unionByName(slice(2))),
      "startingVersion=2 must deliver exactly commits 2 and 3")
  }

  test("an add-column evolution mid-stream doesn't break a consumer " +
      "that PINS its schema: new rows project onto the pinned columns") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    // a consumer that must survive table evolution across restarts pins
    // .schema(...) — an unpinned restart re-resolves the WIDENED table
    // schema and the engine rejects it against the old checkpoint/sink
    val pinned = Some(docs.schema)
    ManifestTable.overwrite(spark, root, slice(0))
    drain(root, ck, out, pinSchema = pinned)
    // the table evolves: a new column appends (ManifestTable's
    // evolution contract); this stream declared (doc_id, lang, text)
    ManifestTable.append(spark, root,
      slice(1).withColumn("extra", col("doc_id") * 2))
    drain(root, ck, out, pinSchema = pinned)
    val got = spark.read.parquet(out)
    assert(got.columns.sorted.toSeq === Seq("doc_id", "lang", "text"),
      "the consumer's schema must stay the stream-start schema")
    assert(ids(got) === ids(slice(0).unionByName(slice(1))))
  }

  test("a consumer that fell behind a vacuum fails LOUDLY — silent " +
      "skipping would be data loss") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    ManifestTable.overwrite(spark, root, slice(0)) // v1
    drain(root, ck, out) // consumer cursor now at v1
    ManifestTable.append(spark, root, slice(1))    // v2 (unread)
    // an over-eager retention drops v1's manifest while the consumer's
    // checkpoint still points at it; the next getBatch must compute
    // changedFiles(1, 2) from a manifest that no longer exists
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(root, ck, out)
    }
    // the failure surfaces the missing manifest, not a silent skip:
    // the sink still holds exactly v1's rows
    assert(ids(spark.read.parquet(out)) === ids(slice(0)),
      s"rows changed across the failed drain (${ex.getMessage.take(200)})")
  }

  test("event-time windows + watermark compose over the manifest " +
      "stream: append-mode windows close exactly once across restarts") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "event_type")
    val Seq(lo, hi) = ev.agg(min("ts"), max("ts")).head()
      .toSeq.map(_.asInstanceOf[java.sql.Timestamp].getTime).toSeq
    val mid = new java.sql.Timestamp(lo + (hi - lo) / 2)
    // q60's final-flush discipline: one far-future row pushes the
    // watermark past every real window; its own window never closes
    val flush = ev.limit(1)
      .withColumn("ts", timestamp_millis(lit(hi + 365L * 86400000L)))
      .withColumn("event_type", lit("__flush__"))
    def drainWindows(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root).load()
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ManifestTable.overwrite(spark, root, ev.where(col("ts") < mid))
    drainWindows() // some windows emit, the cut-straddling one pends
    val phaseA = spark.read.parquet(out).count()
    assert(phaseA > 0, "phase A closed no window")
    ManifestTable.append(spark, root,
      ev.where(col("ts") >= mid).unionByName(flush))
    drainWindows() // a fresh process resumes state + offset
    val got = spark.read.parquet(out)
      .orderBy("hour", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
      .orderBy("hour", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(phaseA < want.size, "phase A closed everything — the kill " +
      "wasn't mid-stream")
    assert(got === want,
      "windowed rows differ from the batch aggregate (lost or " +
        "double-emitted windows)")
  }

  test("change-feed mode: every commit's rows arrive tagged exactly " +
      "once across restarted drains; equality-delete keys stream as " +
      "'delete' rows") {
    val base = scratchDir("graft-mstream").toString
    val root = s"$base/tbl"
    def drainCdf(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", s"$base/feed")
        .option("checkpointLocation", s"$base/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def feed = spark.read.parquet(s"$base/feed")
    ManifestTable.overwrite(spark, root, slice(0)) // v1: snapshot
    drainCdf()
    assert(feed.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("insert" -> slice(0).count()))
    ManifestTable.append(spark, root, slice(1))    // v2: appends
    drainCdf()
    val victims = slice(0).limit(3).select("doc_id")
    ManifestTable.deleteWhereKeyIn(spark, root, "doc_id", victims) // v3
    drainCdf()
    val tags = feed.groupBy("_change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags === Map(
      "insert" -> (slice(0).count() + slice(1).count()),
      "delete" -> 3L), s"wrong tag multiset: $tags")
    // delete rows carry only the key (by-name schema read nulls lang)
    assert(feed.where(col("_change") === "delete")
      .where(col("lang").isNotNull).count() === 0)
    // the feed reconstructs the table exactly
    val rebuilt = feed.where(col("_change") === "insert")
      .join(feed.where(col("_change") === "delete").select("doc_id"),
        Seq("doc_id"), "left_anti")
    assert(ids(rebuilt) === ids(ManifestTable.read(spark, root)))
  }

  test("verdict r17: skip is ENFORCED sound — a merge-bearing history " +
      "under skip fails loudly naming CDF/redeliver; a headerless " +
      "(unknown-kind) rewrite fails the same way; compactions still " +
      "skip silently") {
    def drainSkip(base: String, root: String): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root).option("onRewriteCommits", "skip").load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // a MERGE commit under skip: upserts live in the skipped files —
    // the tail must fail loudly instead of silently losing them
    val b1 = scratchDir("graft-skipkind").toString
    ManifestTable.overwrite(spark, s"$b1/t", slice(0))
    drainSkip(b1, s"$b1/t")
    ManifestTable.mergeCoW(spark, s"$b1/t", "doc_id",
      removeKeys = slice(0).select("doc_id").limit(0),
      upserts = slice(0).limit(2).withColumn("text", lit("upd")))
    val ex = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { drainSkip(b1, s"$b1/t") }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("merge") && msg.contains("readChangeFeed"),
      s"merge under skip did not fail loudly naming CDF: $msg")
    // a HEADERLESS rewrite (pre-kind manifest): unknown must fail too
    val b2 = scratchDir("graft-skipkind").toString
    ManifestTable.overwrite(spark, s"$b2/t", slice(0))
    drainSkip(b2, s"$b2/t")
    val (v, _, _) = ManifestTable.optimize(spark, s"$b2/t", "doc_id", 2)
    // strip the #commit-kind= line from the compact commit's manifest
    val mPath = java.nio.file.Paths.get(
      s"$b2/t/_manifests/" + f"v$v%08d.manifest")
    val stripped = java.nio.file.Files.readAllLines(mPath)
      .asScala.filterNot(_.startsWith("#commit-kind=")).asJava
    java.nio.file.Files.write(mPath, stripped)
    // drop hadoop LocalFileSystem's checksum sidecar — the manual
    // rewrite above invalidates it
    java.nio.file.Files.deleteIfExists(mPath.resolveSibling(
      "." + mPath.getFileName.toString + ".crc"))
    val ex2 = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { drainSkip(b2, s"$b2/t") }
    val msg2 = ex2.getMessage +
      Option(ex2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("unknown"),
      s"headerless rewrite under skip did not fail as unknown: $msg2")
    // and a genuine compaction still skips silently (q177's contract)
    val b3 = scratchDir("graft-skipkind").toString
    ManifestTable.overwrite(spark, s"$b3/t", slice(0))
    drainSkip(b3, s"$b3/t")
    ManifestTable.optimize(spark, s"$b3/t", "doc_id", 2)
    ManifestTable.append(spark, s"$b3/t", slice(1))
    drainSkip(b3, s"$b3/t")
    assert(ids(spark.read.parquet(s"$b3/out")) ===
      ids(slice(0).unionByName(slice(1))))
  }

  test("advisor r17: a batch whose END version was vacuumed between " +
      "offset resolution and planning fails loudly instead of " +
      "committing an under-delivering batch") {
    val base = scratchDir("graft-endvac").toString
    val root = s"$base/tbl"
    ManifestTable.overwrite(spark, root, slice(0)) // v1
    ManifestTable.append(spark, root, slice(1))    // v2
    ManifestTable.append(spark, root, slice(2))    // v3
    ManifestTable.addTag(spark, root, "start", 1)  // v4 (floor for v1)
    // retain=1 keeps {v1 (tag floor), v4}; v2/v3 retire — a paced
    // batch (1, 3] now ends at a vacuumed version
    ManifestTable.vacuum(spark, root, retain = 1, orphanRetentionMs = 0L)
    assert(ManifestTable.versions(spark, root) === Seq(1, 4))
    val src = new ManifestStreamSource(spark, root, docs.schema,
      startingVersion = None)
    val ex = intercept[IllegalStateException] {
      src.getBatch(Some(ManifestVersionOffset(1)),
        ManifestVersionOffset(3))
    }
    assert(ex.getMessage.contains("batch end version"),
      s"wrong failure: ${ex.getMessage}")
    // the same batch ending at a RETAINED version still plans fine
    // (getBatch resolves the file walk eagerly; the streaming frame
    // itself only executes inside a query)
    val ok = src.getBatch(Some(ManifestVersionOffset(1)),
      ManifestVersionOffset(4))
    assert(ok.isStreaming && ok.columns.toSeq === docs.columns.toSeq)
  }

  test("review r18: a PACED tail (maxVersionsPerTrigger) resuming " +
      "across a vacuum gap advances to the next RETAINED version " +
      "instead of crash-looping on a vacuumed endV") {
    val base = scratchDir("graft-paced").toString
    val root = s"$base/tbl"
    val (ck, out) = (s"$base/ck", s"$base/out")
    def drainPaced(): Unit = {
      val q = spark.readStream
        .format(classOf[ManifestStreamProvider].getName)
        .option("path", root)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ManifestTable.overwrite(spark, root, slice(0)) // v1
    drainPaced() // cursor at v1
    ManifestTable.addTag(spark, root, "cur", 1)    // v2 (header-only)
    ManifestTable.append(spark, root, slice(1))    // v3
    ManifestTable.append(spark, root, slice(2))    // v4
    // retain=2 keeps {v1 (tag floor), v3, v4}; v2 retires — the
    // paced resume's naive endV (1 + 1 = 2) now sits IN the gap
    ManifestTable.vacuum(spark, root, retain = 2, orphanRetentionMs = 0L)
    assert(ManifestTable.versions(spark, root) === Seq(1, 3, 4))
    drainPaced() // must pace 1 -> 3 -> 4, never 1 -> 2
    assert(ids(spark.read.parquet(out)) ===
      ids(slice(0).unionByName(slice(1)).unionByName(slice(2))),
      "paced resume across the gap lost or duplicated rows")
  }
}
