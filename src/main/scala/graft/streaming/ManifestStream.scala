package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.ManifestTable

/** MANIFEST TABLES AS A STRUCTURED STREAMING SOURCE — the engine-level
  * version of [[graft.sources.ManifestTail]]'s application-level tail:
  * `spark.readStream.format("graft-manifest").option("path", root)`
  * turns every COMMIT of a [[ManifestTable]] into micro-batch input,
  * with the table's version number as the stream offset (the Delta
  * source's shape: reservoir version = offset, checkpointed by the
  * engine, replayed deterministically from the immutable manifests).
  *
  * Semantics — an APPEND TAIL at file granularity:
  *  - The FIRST batch is the table's full snapshot at the stream-start
  *    version (or, with `startingVersion = v`, only the files added in
  *    commits `>= v` — the catch-up-from-here shape).
  *  - Every later batch is the files ADDED in `(lastVersion, newest]`,
  *    read with the END version's committed schema (by-name parquet
  *    resolution: pre-evolution files surface later-added columns as
  *    null — schema evolution mid-stream just works).
  *  - Rewrite commits (optimize / mergeCoW / restore) list their
  *    OUTPUT files as added — re-reading them would re-deliver every
  *    carried row, so the tail FAILS LOUDLY on one by default;
  *    `.option("onRewriteCommits", "skip")` ignores rewrite commits'
  *    files (Delta's `skipChangeCommits`) — ENFORCED sound via the
  *    `#commit-kind=` header: only provably row-preserving rewrites
  *    (compact, rowdelete) skip, a merge/rowupdate/unknown-kind
  *    rewrite fails loudly instead of silently losing its new rows;
  *    `"redeliver"` opts into the file-granularity re-delivery
  *    (reconcile by key downstream), and CDF mode (below) is the
  *    row-level answer. See [[RewriteCommitPolicy]].
  *
  * Schema: resolved from the table's newest committed schema at stream
  * start; every batch PROJECTS onto it, so an add-column evolution
  * mid-run never breaks a running consumer (new columns simply don't
  * appear). A consumer restarting across an evolution pins
  * `.schema(...)` — an unpinned restart re-resolves the widened table
  * schema, which the engine correctly rejects against the old
  * checkpoint's sink.
  *
  * Exactly-once rests on the two immutabilities: the engine checkpoints
  * version offsets and a replayed `getBatch(s, e)` re-reads the SAME
  * manifest lines and the SAME immutable data files, so a killed and
  * resumed query reconstructs the identical batch (the spec kills after
  * every single commit and pins the union row-identical).
  *
  * Why it matters at 100 TB: the alternative — a directory-listing file
  * stream — must LIST the table (O(files) RPCs per trigger) and cannot
  * see commits atomically (a half-visible multi-file commit splits
  * across batches). This source plans each batch from ONE manifest read
  * (O(1) RPCs), and a commit is in a batch either whole or not at all —
  * transactional ingestion, straight off the table format.
  *
  * v1 `Source` API (public `StreamSourceProvider`): the right tier here
  * because `getBatch` can PLAN the batch on the driver from the
  * manifest alone and hand back a whole parquet-scan DataFrame; a DSv2
  * `MicroBatchStream` would re-implement the parquet reader inside
  * `PartitionReader` for no gain on any axis this engine measures.
  */
class ManifestStreamProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest source requires .option(\"path\", <table root>)"))

  /** CHANGE DATA FEED mode (`.option("readChangeFeed", "true")` — the
    * Delta CDF shape): batches are [[ManifestTable.readChangesBetween]]
    * rows instead of the append tail, so a consumer sees REMOVALS too —
    * an added equality-delete file's keys arrive tagged `'delete'`, a
    * rewrite commit's old/new files arrive as delete+insert pairs to
    * reconcile by key (the file-granularity contract). The initial
    * batch is the snapshot tagged `'insert'`. */
  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val s = schema.getOrElse(ManifestTable.snapshot(spark, root).schema)
    val out =
      if (isCdf(parameters))
        org.apache.spark.sql.types.StructType(s.fields :+
          org.apache.spark.sql.types.StructField("_change",
            org.apache.spark.sql.types.StringType, nullable = true))
      else s
    (shortName() + ": " + root, out)
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val policy = parameters.getOrElse("onRewriteCommits", "fail") match {
      case p if p.equalsIgnoreCase("fail") => RewriteFail
      case p if p.equalsIgnoreCase("skip") => RewriteSkip
      case p if p.equalsIgnoreCase("redeliver") => RewriteRedeliver
      case other => throw new IllegalArgumentException(
        s"onRewriteCommits must be fail | skip | redeliver, got '$other'")
    }
    new ManifestStreamSource(spark, root,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters.get("startingVersion").map(_.toInt),
      cdf = isCdf(parameters),
      maxVersionsPerTrigger =
        parameters.get("maxVersionsPerTrigger").map(_.toInt),
      onRewriteCommits = policy)
  }
}

/** What the APPEND TAIL does with a commit that REMOVED data files (an
  * optimize / CoW merge / restore — any rewrite): such a commit lists
  * its output files as added, so a tail that reads them re-delivers
  * every CARRIED row (file granularity). Delta's source faces the same
  * choice and ships `skipChangeCommits` / fail-on-delete; mirrored
  * here:
  *  - [[RewriteFail]] (DEFAULT): throw loudly — exactly-once ROW
  *    semantics cannot be silently broken; pick a policy explicitly.
  *  - [[RewriteSkip]]: drop the rewrite commit's added files entirely
  *    (Delta's `skipChangeCommits`) — appends flow, rewrites are
  *    invisible. ENFORCED-sound via the manifest's `#commit-kind=`
  *    header ([[ManifestTable.commitKindOf]]): a rewrite is skippable
  *    exactly when it creates NO row the tail has not already
  *    delivered — `compact` (a permutation of delivered rows) and
  *    `rowdelete` (surviving delivered rows only) skip; `merge`
  *    (upserts are NEW rows) and `rowupdate` (updated rows are new
  *    row versions) FAIL LOUDLY instead of silently losing them —
  *    those tables need CDF mode (row-level, rewrite-safe) or
  *    `redeliver` + downstream key reconciliation. `restore` also
  *    fails, DELIBERATELY (a tightening over the pre-kind behavior,
  *    which treated restore as skippable): a restore ACROSS a prior
  *    rowdelete re-lists the pre-delete files, whose deleted rows the
  *    tail NEVER delivered (the stream may even have started after
  *    the delete) — restore is an un-delete, and skipping it would
  *    silently lose exactly those resurrected rows. A rewrite whose
  *    kind is UNKNOWN (pre-kind manifest, or a vacuum gap folding
  *    several commits into one net diff) also fails — unknown must
  *    never silently drop rows.
  *  - [[RewriteRedeliver]]: the historical file-granularity behavior
  *    (every added file flows; consumers reconcile by key downstream).
  * CDF mode is unaffected — [[ManifestTable.readChangesBetween]]
  * surfaces rewrites as delete+insert pairs by design. */
sealed trait RewriteCommitPolicy
case object RewriteFail extends RewriteCommitPolicy
case object RewriteSkip extends RewriteCommitPolicy
case object RewriteRedeliver extends RewriteCommitPolicy

/** The stream offset IS the table version; `json` is just its digits,
  * so a checkpointed offset round-trips through the engine's
  * SerializedOffset verbatim. */
case class ManifestVersionOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** `maxVersionsPerTrigger`: cap each micro-batch at N table versions
  * (Delta's maxFilesPerTrigger shape, in commit units). `1` gives
  * strict PER-COMMIT batches — what a CDC applier needs for correct
  * ordering: a batch spanning a delete commit AND a later re-insert of
  * the same key would otherwise collapse both into one
  * replace-semantics apply. */
class ManifestStreamSource(spark: SparkSession, root: String,
                           override val schema: StructType,
                           startingVersion: Option[Int],
                           cdf: Boolean = false,
                           maxVersionsPerTrigger: Option[Int] = None,
                           onRewriteCommits: RewriteCommitPolicy =
                             RewriteFail)
    extends Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  private def versionOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    o match {
      case ManifestVersionOffset(v) => v.toInt
      // the engine replays checkpointed offsets as SerializedOffset(json)
      case other => other.json.trim.toInt
    }

  override def getOffset: Option[Offset] =
    ManifestTable.currentVersion(spark, root).map(v =>
      ManifestVersionOffset(v.toLong))

  /** Trigger.AvailableNow (the FileStreamSource shape): latch the end
    * version at query start; `latestOffset` then never advances past it,
    * so the run drains exactly the latched commits — including the
    * extra empty batch the engine schedules to flush state closed by the
    * final watermark move — and stops, whatever lands concurrently. */
  private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = ManifestTable.currentVersion(spark, root)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val cur = ManifestTable.currentVersion(spark, root)
    val capped = availableNowEnd match {
      case Some(a) => cur.map(math.min(_, a))
      case None => cur
    }
    // rate limit in commit units; the FIRST batch (no start offset) is
    // the whole initial snapshot and is never split. Pace in RETAINED
    // versions, not raw arithmetic: s + n can land inside a vacuum gap
    // (tag floors retain non-contiguous histories), and an endV that
    // is not a retained version makes getBatch fail loudly — a naive
    // s + n would turn a pre-existing gap into a permanent crash loop
    // (every restart recomputes the same vacuumed endV).
    val paced = (Option(start).map(versionOf), maxVersionsPerTrigger) match {
      case (Some(s), Some(n)) if n > 0 =>
        capped.map { c =>
          val nexts = ManifestTable.versions(spark, root)
            .filter(v => v > s && v <= c)
          if (nexts.isEmpty) c else nexts.take(n).last
        }
      case _ => capped
    }
    paced.map(v => ManifestVersionOffset(v.toLong)).orNull
  }

  /** The files ADDED in `(fromV, endV]`, read with the END version's
    * committed schema (by-name resolution — see the provider scaladoc
    * on mid-stream evolution). */
  private def addedRows(fromV: Int, endV: Int): DataFrame = {
    // APPEND-TAIL contract: equality-delete commits (format v6) add no
    // rows to the tail — their key-only files are not data (the same
    // caveat as rewrite commits; a row-level CDC consumer uses
    // ManifestTable.readChangesBetween, which tags them 'delete').
    // Walk the RETAINED versions in (fromV, endV] pairwise (the batch
    // is usually one commit, so usually one pair): a vacuum may have
    // retired manifests inside the span (tag floors retain
    // non-contiguous versions), and the diff across a retired gap is
    // the NET change — an interval whose diff removed data files is
    // classified a REWRITE, handled by the configured policy (see
    // [[RewriteCommitPolicy]]); fromV itself must still be retained,
    // or the consumer genuinely fell behind the vacuum and fails
    // loudly below.
    def isDel(rel: String) = rel.startsWith("deletes/")
    val retained = ManifestTable.versions(spark, root)
    if (!retained.contains(fromV))
      throw new IllegalStateException(
        s"manifest tail of $root: checkpointed version $fromV was " +
          s"vacuumed (retained: ${retained.mkString(",")}) — the " +
          "consumer fell behind the retention window; reset the " +
          "checkpoint or re-snapshot")
    // endV must itself be retained: maxVersionsPerTrigger can pace
    // endV behind the newest version, and a vacuum between
    // latestOffset and getBatch could retire it — the pairwise walk
    // below would then silently end at the last retained version
    // <= endV and the committed batch would under-deliver every row
    // in (lastRetained, endV]. Fail THIS batch loudly instead of
    // letting the next one discover the gap after the loss committed.
    if (!retained.contains(endV))
      throw new IllegalStateException(
        s"manifest tail of $root: batch end version $endV was " +
          s"vacuumed between offset resolution and batch planning " +
          s"(retained: ${retained.mkString(",")}) — rows in the gap " +
          "would be lost; re-run the trigger (the next offset " +
          "resolves from the retained history)")
    val walk = fromV +: retained.filter(v => v > fromV && v <= endV)
    val perCommit = walk.zip(walk.tail).map { case (a0, b0) =>
      val (a, r) = ManifestTable.changedFiles(spark, root, a0, b0)
      // the commit KIND is knowable only for a contiguous step — a
      // vacuum gap folds several commits into one net diff whose
      // constituent kinds are unreadable (retired manifests): unknown
      val kind = if (b0 == a0 + 1)
        ManifestTable.commitKindOf(spark, root, b0) else None
      (b0, a, r.exists(!isDel(_)), kind)
    }
    val rewrites = perCommit.filter(_._3).map(_._1)
    val kept = onRewriteCommits match {
      case RewriteFail =>
        if (rewrites.nonEmpty) throw new IllegalStateException(
          s"manifest tail of $root hit rewrite commit(s) " +
            s"${rewrites.mkString(", ")} — an append tail would " +
            "re-deliver every carried row. Set " +
            ".option(\"onRewriteCommits\", \"skip\") to ignore rewrite " +
            "commits' files, \"redeliver\" to accept file-granularity " +
            "re-delivery, or consume the change feed " +
            "(readChangeFeed=true) for row-level semantics")
        perCommit
      case RewriteSkip =>
        // PROVABLY row-preserving kinds only (see RewriteCommitPolicy):
        // compact permutes delivered rows, rowdelete keeps a subset of
        // them — skipping loses nothing an append tail could express.
        // merge/rowupdate CREATE rows the tail has not delivered,
        // restore can UN-delete rows it never delivered (re-listing
        // pre-rowdelete files), and an unknown kind (pre-kind
        // manifest, vacuum-gap net diff) might — fail loudly instead
        // of silently losing them.
        val rowPreserving = Set("compact", "rowdelete")
        val unsafe = perCommit.filter(c =>
          c._3 && !c._4.exists(rowPreserving.contains))
        if (unsafe.nonEmpty) throw new IllegalStateException(
          s"manifest tail of $root: onRewriteCommits=skip cannot " +
            "soundly drop rewrite commit(s) " +
            unsafe.map(c => s"v${c._1}(kind=${c._4.getOrElse("unknown")})")
              .mkString(", ") +
            " — only row-preserving rewrites (compact, rowdelete) are " +
            "skippable; a merge's upserts / an update's new row " +
            "versions live in the skipped files. Consume the change " +
            "feed (readChangeFeed=true) for row-level semantics, or " +
            "\"redeliver\" + key reconciliation downstream")
        perCommit.filterNot(_._3)
      case RewriteRedeliver => perCommit
    }
    val rels = kept.flatMap(_._2).distinct.filterNot(isDel)
    val committed = ManifestTable.snapshot(spark, root, Some(endV)).schema
    if (rels.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], committed)
    else spark.read.schema(committed).parquet(rels.map(r =>
      new org.apache.hadoop.fs.Path(root, r).toString): _*)
  }

  /** The CDF batch for `(fromV, endV]` or the tagged initial snapshot. */
  private def changeRows(fromV: Option[Int], endV: Int): DataFrame =
    fromV match {
      case Some(s) => ManifestTable.readChangesBetween(spark, root, s, endV)
      case None => ManifestTable.readAt(spark, root, endV)
        .withColumn("_change", lit("insert"))
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    val from = start.map(versionOf) match {
      case Some(s) if s >= endV => Some(endV) // engine no-op replay edge
      case Some(s) => Some(s)
      case None => startingVersion.filter(_ > 1).map(_ - 1)
    }
    val batch = (from, cdf) match {
      case (Some(s), _) if s >= endV =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case (f, true) => changeRows(f, endV)
      case (Some(s), false) => addedRows(s, endV)
      case (None, false) => // initial batch = the full snapshot at endV
        ManifestTable.readAt(spark, root, endV)
    }
    // select in source-schema order: evolution may have appended
    // columns after this stream's declared schema was resolved
    Bridge.streamingDataFrame(spark,
      batch.select(schema.fieldNames.map(col).toSeq: _*))
  }

  override def stop(): Unit = ()
}
