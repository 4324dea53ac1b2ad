package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table.
  *
  * The reference engine is strictly batch (SURVEY.md §2.8: fixed input
  * manifest, hard phase barriers, no watermarks or stateful operators), so
  * everything here is north-star extension surface, built the idiomatic
  * way: `readStream` file source → event-time transforms with watermarks →
  * windowed/sessionized/stateful aggregation → `writeStream`.
  *
  * Each query runs with `Trigger.AvailableNow` over the finite test
  * parquet and lands in a memory sink, so the result is deterministic and
  * the DuckDB oracle can hash-check it — the streaming plan itself is
  * unchanged for an unbounded source; only the trigger and sink would
  * differ in production (kafka/files in, a real sink out, append mode with
  * the same watermarks).
  */
object EventStreams {

  /** The events schema a file stream source declares (streaming cannot
    * infer). `ts` is TIMESTAMP(MICROS), the one encoding every shipped
    * input writes (the sf fixtures, perfbench's generator; FIXTURES.md),
    * read as a session-TZ `TimestampType` like [[graft.Tables.events]].
    * A landing file whose `ts` is anything else — a nanos long,
    * TIMESTAMP(NANOS) — fails the drain that reads it with
    * `FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH`. */
  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def streamEvents(s: SparkSession, dir: String,
                           glob: Option[String] = None,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val opts = glob.map("pathGlobFilter" -> _) ++
      maxFilesPerTrigger.map("maxFilesPerTrigger" -> _.toString)
    opts.foldLeft(s.readStream.schema(EventsSchema))((r, kv) =>
      r.option(kv._1, kv._2)).parquet(dir)
  }

  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    // pathGlobFilter narrows the directory to the events table (in
    // production this would be a landing dir new files keep arriving into)
    streamEvents(spark, sfDir, glob = Some("events.parquet"))

  /** An event time as the microsecond text the streaming outputs and
    * their DuckDB oracles compare. */
  private def microsText(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** The click/view interval join behind every join mode — q43's inner
    * join and its outer twins q137/q144/q151 — ONE definition shared by
    * the memory-sink demos and the checkpointed runner, so the recovery
    * spec exercises exactly the shipped shape and the join-mode matrix
    * cannot drift: each side's projection and 1-hour watermark, and the
    * interval condition (views within the hour preceding the click).
    * `flush`, passed by the outer joins only, is [[flushRows]]' row,
    * unioned into BOTH sides (outer emission waits on the MIN of the two
    * watermarks — one stalled side stalls every outer row) and keyed to
    * user −1, so it can never pair with a real row. */
  private def clickViewJoin(ev: DataFrame, joinType: String = "inner",
                            flush: Option[DataFrame] = None): DataFrame = {
    def side(eventType: String, userCol: String, tsCol: String,
             idCol: String) = {
      val rows = ev.where(col("event_type") === eventType)
        .select(col("user_id").as(userCol), col("ts").as(tsCol),
          col("event_id").as(idCol))
      flush.fold(rows)(f => rows.unionByName(f.select(lit(-1L).as(userCol),
          col("ts").as(tsCol), lit(-1L).as(idCol))))
        .withWatermark(tsCol, "1 hour")
    }
    side("click", "user_id", "click_ts", "click_id").join(
      side("view", "v_user_id", "view_ts", "view_id"),
      col("user_id") === col("v_user_id") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
  }

  /** A click/view join's output row: the pair's ids under `user`, both
    * event times as [[microsText]]. */
  private def joinRows(joined: DataFrame,
                       user: Column = col("user_id")): DataFrame =
    joined.select(user.as("user_id"), col("click_id"), col("view_id"),
      microsText(col("click_ts")).as("click_ts"),
      microsText(col("view_ts")).as("view_ts"))

  /** Q43: stream-stream interval join — clicks joined to the same user's
    * view events from the preceding hour. Both sides are unbounded; the
    * event-time constraint plus watermarks bound the join state (each
    * side's rows are dropped once no future match can exist — the
    * mechanism that makes stream-stream joins feasible at all). Inner
    * join, append output. */
  def q43StreamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(joinRows(clickViewJoin(eventsStream(stateSession(spark), sfDir))),
        OutputMode.Append())
      .orderBy("user_id", "click_id", "view_id")

  /** RESTARTABLE stream-stream interval join: q43's shape over a landing
    * dir, append mode to a parquet sink with a real checkpoint — the
    * SUBTLEST recovery path of the three runners, because the state
    * store buffers BOTH join sides: a click whose matching view arrives
    * only after the kill can produce its pair iff the buffered click
    * row itself came back from the checkpoint (the windowed-agg runner
    * proves counters recover; the first-seen runner proves per-group
    * state; this proves the two-sided join buffers). RecoverySpec's
    * equality against an uninterrupted run covers it: any lost buffered
    * row is a missing output pair, any re-read input a duplicate pair
    * the sink's _spark_metadata log would otherwise admit. */
  def runIntervalJoinToFiles(spark: SparkSession, landingDir: String,
                             checkpointDir: String,
                             outDir: String): Unit = {
    drainToParquet(
      joinRows(clickViewJoin(streamEvents(stateSession(spark), landingDir))),
      checkpointDir, outDir)
  }

  /** RESTARTABLE stream-static enrichment: q104's shape over a landing
    * dir — the FIFTH recoverable class and the degenerate one: NO state
    * store at all. The only exactly-once mechanisms in play are source
    * OFFSET tracking (which files were consumed) and the file sink's
    * `_spark_metadata` transaction log (which batches landed) — the
    * recovery spec proves those two alone carry a stateless query
    * through a kill/resume with byte-identical output. The static side
    * is read fresh from `staticDir` on every (re)start, which is the
    * stream-static CONTRACT (a dimension update applies at the next
    * batch); it must be a genuinely static input, not derived from the
    * landing data, or the resumed run would see a different dimension
    * than the uninterrupted one. */
  def runEnrichToFiles(spark: SparkSession, landingDir: String,
                       staticDir: String, checkpointDir: String,
                       outDir: String): Unit = {
    val s = stateSession(spark)
    drainToParquet(
      clickEnrichPlan(streamEvents(s, landingDir),
        graft.Tables.events(s, staticDir)),
      checkpointDir, outDir)
  }

  /** RESTARTABLE online dedup: q86's content-key dedup over a landing
    * dir, append mode to a parquet sink with a real checkpoint — the
    * FOURTH recoverable state class (StreamingDeduplicate's key store;
    * the other three runners prove windowed-agg counters, per-group
    * flatMapGroupsWithState state, and two-sided join buffers). A key
    * seen before the kill must still be suppressing after the resume:
    * any forgotten key re-admits its content as a duplicate row through
    * the sink's exactly-once log — so RecoverySpec's equality against
    * an uninterrupted run plus a zero-duplicate check IS the state
    * proof. */
  def runDedupToFiles(spark: SparkSession, landingDir: String,
                      checkpointDir: String, outDir: String): Unit = {
    drainToParquet(
      contentDedupPlan(docLandingStream(stateSession(spark), landingDir)),
      checkpointDir, outDir)
  }

  /** The document landing-file schema — one definition for every
    * document-ingest stream (q86, q90's variant, the checkpointed
    * runner). */
  private val DocLandingSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  /** A schema'd document landing stream, one file per micro-batch. */
  private def docLandingStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(DocLandingSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** q86's content-key dedup plan over any document stream — ONE
    * definition shared by the memory-sink demo and the checkpointed
    * runner ([[clickViewJoin]]'s discipline), so the recovery
    * spec exercises exactly the shipped dedup plan. */
  private def contentDedupPlan(docs: DataFrame): DataFrame =
    docs.select(md5(graft.functions.Text.normalized(col("text")))
        .as("content_md5"))
      .dropDuplicates("content_md5")

  /** Force a strictly increasing modification time onto the newest
    * landing file: FileStreamSource orders files by mtime, and two
    * coalesce(1) writes moments apart can TIE on filesystems with
    * coarse mtime granularity (1-2 s on some NFS/FAT mounts), which
    * would make batch order — and with it which snapshot seeds the
    * dedup state or advances the watermark first — the unspecified
    * listing order of randomly named part files. Stamped, landing
    * order IS batch order on any filesystem. */
  private[graft] def stampLanding(landing: String, seq: Int): Unit = {
    val files = Option(new java.io.File(landing).listFiles).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    // previous files carry older synthetic stamps, so max-mtime is the
    // file the write that just returned produced
    files.sortBy(f => (f.lastModified, f.getName)).lastOption
      .foreach { f =>
        // a silently non-functioning stamp degrades batch order back to
        // unspecified listing order — this is a test/demo seam, so a
        // failed stamp should fail loudly, not quietly
        require(f.setLastModified(1700000000000L + seq * 60000L),
          s"setLastModified failed for $f — landing order would be unspecified")
      }
  }

  /** FIXTURE-ONLY landing write: exactly one parquet file per call,
    * mtime-stamped so landing order IS batch order ([[stampLanding]]).
    * The `.coalesce(1)` inside is a test seam, never an ingest pattern:
    * demos and specs need one file per snapshot so maxFilesPerTrigger=1
    * maps snapshots to micro-batches deterministically. A production
    * landing dir receives its files from the upstream feed (a crawl, a
    * CDC log) and the SAME drain plan consumes them at full write
    * parallelism — nothing outside fixture construction may call this. */
  private[graft] def fixtureLandOneFile(df: DataFrame, landing: String,
      seq: Int): Unit = {
    df.coalesce(1).write.mode("append").parquet(landing)
    stampLanding(landing, seq)
  }

  private val sinkId = new AtomicInteger(0)

  /** State partition width for these streams. Stateful operators commit
    * every state store instance per partition per micro-batch (a
    * stream-stream join keeps FOUR stores per partition), so partition
    * width — fixed at first checkpoint, from spark.sql.shuffle.partitions
    * — is a state-volume knob, not a parallelism knob: it should match
    * the state size, not the batch shuffle width. 8 vs the session's 32
    * cuts q43 from 6.2 s to 2.6 s at sf0.1 (measured); narrowing further
    * to 4 measured a wash (r5: 2.2 vs 2.35 s — below 8 partitions the
    * floor is the micro-batch count, not store commits). At production
    * state volumes this rises again, set per job at stream start. */
  private val StreamStatePartitions = 8

  /** A CLONED session with the stream-state width set: the override must
    * not leak into the caller's session — mutating the shared conf for
    * the duration of a drain silently re-plans any batch query submitted
    * concurrently on the same session at the narrowed width. newSession()
    * shares the SparkContext/warehouse but has its own SQLConf, so the
    * stream plans at [[StreamStatePartitions]] and everyone else is
    * untouched; no save/restore, no serialization of drains. */
  private def stateSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    s
  }

  /** Run a finite streaming query to completion into a memory sink and
    * return the materialized result. The caller builds `df` on a
    * [[stateSession]] clone; the memory-sink view registers in that
    * clone's catalog and the returned DataFrame carries the clone, so
    * downstream reads resolve it. */
  private def runToTable(df: DataFrame, mode: OutputMode): DataFrame =
    runToTableWithProgress(df, mode)._1

  /** One `AvailableNow` drain of `df` into the parquet sink at `outDir`,
    * checkpointed at `checkpointDir` — the block every restartable
    * file-sink runner shares. The sink's `_spark_metadata` log and the
    * checkpoint make a repeat call with the same dirs a resume. */
  private def drainToParquet(df: DataFrame, checkpointDir: String,
                             outDir: String): Unit =
    df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Q104: STREAM-STATIC enrichment join — the remaining join shape in
    * the streaming surface (q43 is stream-stream): each arriving click
    * is enriched with the user's profile from a STATIC relation (here a
    * per-user view-history aggregate computed from the batch table — in
    * production, a feature store or dimension table).
    *
    * Why this shape matters operationally: a stream-static join is
    * STATELESS — no state store, no watermark, nothing to checkpoint
    * beyond source offsets (spec-pinned: zero stateful operators in the
    * executed streaming plan). The static side is re-planned per
    * micro-batch and broadcast, so the stream side never shuffles — the
    * per-batch cost is the broadcast probe, and a dimension update rolls
    * in at the next batch without touching stream state. Left join +
    * coalesce keeps never-seen users (the cold-start row) deterministic
    * for the oracle. */
  def q104StreamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateSession(spark)
    runToTable(
        clickEnrichPlan(eventsStream(s, sfDir), graft.Tables.events(s, sfDir)),
        OutputMode.Append())
      .orderBy("user_id", "event_id")
  }

  /** q104's enrichment plan — ONE definition shared by the memory-sink
    * query and the checkpointed runner ([[clickViewJoin]]'s
    * discipline): the clicks of the `ev` stream, left-joined to a
    * broadcast per-user view profile aggregated from the static
    * `staticEvents` relation. */
  private def clickEnrichPlan(ev: DataFrame,
                              staticEvents: DataFrame): DataFrame = {
    val profile = staticEvents
      .where(col("event_type") === "view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("views"),
        round(sum(col("value")), 2).as("view_value"))
    ev.where(col("event_type") === "click")
      .select("user_id", "event_id")
      .join(broadcast(profile), Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"),
        coalesce(col("views"), lit(0L)).as("views"),
        coalesce(col("view_value"), lit(0.0)).as("view_value"))
  }

  /** Q86: ONLINE exact dedup of a document INGEST stream — the streaming
    * member of the dedup family (q15's rule applied as documents arrive,
    * the shape a crawl pipeline needs: content seen before is dropped at
    * ingest, not in a nightly batch). Two corpus snapshots land as
    * separate files and drain as separate micro-batches
    * (`maxFilesPerTrigger=1`), so the dedup state must carry ACROSS
    * batches: every unchanged document arrives twice (once per
    * snapshot), and snapshot B's re-added docs carry old content under
    * new ids — both are genuine cross-batch duplicates that
    * `dropDuplicates` must suppress via the state store.
    *
    * The emitted row is the content key itself (md5 of the normalized
    * text), not the surviving document: which physical row survives a
    * within-batch tie is not deterministic in a distributed dedup, but
    * the SET of distinct content keys is — so the query output is
    * exactly oracle-checkable while the state mechanics stay the
    * production ones. (Here the content key crosses the wire once per
    * document; a 100 TB ingest would key the state on `xxhash64(norm)`
    * — 8 bytes — and verify rare collisions offline, q15's narrow-key
    * discipline. Unbounded retention is the demo's choice, matching
    * q15's corpus-wide rule; a bounded recrawl-overlap horizon is
    * `dropDuplicatesWithinWatermark` on the same plan.) */
  def q86StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // the landing files are written on the caller's session, whose
    // schema memo holds `documents` (a clone's memo is empty); only the
    // drain runs on the state-width clone
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val landing = java.nio.file.Files
      .createTempDirectory("graft-stream-dedup").toString
    // the landing copy is dead weight in (often RAM-backed) tmp once the
    // drain ends — remove it on EVERY exit, including a failed drain
    // (Bench's warmup swallows per-query exceptions, so a success-only
    // cleanup would leak one corpus copy per failed pass)
    try {
      fixtureLandOneFile(docs, landing, 0)
      fixtureLandOneFile(
        graft.operators.CurationPipeline.snapshotB(docs)
          .select("doc_id", "lang", "text"),
        landing, 1)
      runToTable(contentDedupPlan(docLandingStream(stateSession(spark), landing)),
          OutputMode.Append())
        .orderBy("content_md5")
    } finally {
      graft.GraftSession.deleteRecursively(new java.io.File(landing))
    }
  }

  /** Q90: q86's BOUNDED-HORIZON variant — online dedup whose state is
    * capped by a recrawl-overlap window instead of growing with distinct
    * content forever (round-7 verdict gap #3). `dropDuplicatesWithinWatermark`
    * keys the same content hash, but a key is only held while the
    * watermark has not passed its ingest time + [[DedupHorizon]]: content
    * re-crawled INSIDE the horizon is suppressed exactly like q86;
    * content re-crawled AFTER it is re-emitted — the trade a production
    * crawl accepts to keep state proportional to one horizon of ingest,
    * not all of history.
    *
    * Four deterministic micro-batches (one file each) make both sides
    * of the contract oracle-visible: (0) the corpus at Jan 1 — all
    * distinct contents emit; (1) a single advancer doc at Mar 1 —
    * emits, and its event time advances the watermark past every Jan
    * key's expiry; (2) a filler doc at Mar 2 PLUS a copy of the
    * advancer — the filler emits, the advancer copy is suppressed
    * (one horizon after Mar 1, its key still held), and this batch's
    * end-of-batch state cleanup is where the Jan keys are evicted
    * (watermark eviction runs after each batch, so the eviction and
    * the re-emission that proves it need separate batches); (3) the
    * corpus re-crawled at Mar 3 — re-emits in full against the
    * evicted state. The eviction itself is asserted on state metrics
    * (numRowsRemoved) in RecoverySpec via [[horizonDedupRun]]. */
  def q90StreamDedupBounded(spark: SparkSession, sfDir: String): DataFrame =
    horizonDedupRun(spark, sfDir)._1

  /** State-retention horizon of [[q90StreamDedupBounded]]. */
  val DedupHorizon = "1 day"

  /** The q90 runner, also returning the drained query's per-batch
    * progress so the spec can assert state EVICTION (numRowsRemoved),
    * which neither the output nor the final state row count shows on
    * its own (re-ingested keys re-occupy their old slots). */
  private[graft] def horizonDedupRun(spark: SparkSession, sfDir: String)
      : (DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    // landing files on the caller's session, the drain on a clone (q86)
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val advancer = Seq((-1L, "xx", "graft horizon advancer"))
      .toDF("doc_id", "lang", "text")
    val filler = Seq((-2L, "xx", "graft horizon filler"))
      .toDF("doc_id", "lang", "text")
    val landing = java.nio.file.Files
      .createTempDirectory("graft-stream-dedup-horizon").toString
    try {
      val schedule = Seq(
        (docs, "2024-01-01"),
        (advancer, "2024-03-01"),
        (filler.unionByName(advancer), "2024-03-02"),
        (docs, "2024-03-03"))
      schedule.zipWithIndex.foreach { case ((df, day), i) =>
        fixtureLandOneFile(
          df.withColumn("ingest_ts", to_timestamp(lit(s"$day 00:00:00"))),
          landing, i) // landing order IS batch order
      }
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("text", StringType),
        StructField("ingest_ts", TimestampType)))
      val deduped = stateSession(spark).readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1) // one crawl batch per trigger
        .parquet(landing)
        .select(md5(graft.functions.Text.normalized(col("text")))
          .as("content_md5"), col("ingest_ts"))
        .withWatermark("ingest_ts", DedupHorizon)
        .dropDuplicatesWithinWatermark("content_md5")
        .select(col("content_md5"),
          date_format(col("ingest_ts"), "yyyy-MM-dd").as("ingest_day"))
      val (table, progress) = runToTableWithProgress(deduped, OutputMode.Append())
      (table.orderBy("ingest_day", "content_md5"), progress)
    } finally {
      graft.GraftSession.deleteRecursively(new java.io.File(landing))
    }
  }

  /** State metrics of drained streaming runs since the last [[
    * takeStateMetrics]]: (numRowsTotal, numRowsRemoved) summed over the
    * final progress entry carrying state operators, accumulated per
    * drain (a query invoking several streams reports their sum). The
    * bench reads this per query so BENCH_r{N} carries a state-GROWTH
    * signal for the stateful family, not just shuffle MB — state rows
    * are the quantity that scales with keys/windows at 100 TB, and a
    * round-over-round jump here is a state leak (a lost watermark, an
    * unbounded key set) that wall-time alone can't distinguish from box
    * noise. */
  private val stateRowsAcc = new java.util.concurrent.atomic.AtomicReference(
    Option.empty[(Long, Long)])

  /** Read-and-clear the accumulated (numRowsTotal, numRowsRemoved);
    * None if no stateful drain happened since the last take. */
  def takeStateMetrics(): Option[(Long, Long)] =
    stateRowsAcc.getAndSet(None)

  private def recordStateMetrics(
      progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    progress.reverseIterator
      .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
      .foreach { p =>
        val total = p.stateOperators.map(_.numRowsTotal).sum
        val removed = p.stateOperators.map(_.numRowsRemoved).sum
        stateRowsAcc.updateAndGet {
          case Some((t, r)) => Some((t + total, r + removed))
          case None         => Some((total, removed))
        }
        ()
      }

  /** [[runToTable]], also surfacing the completed query's progress
    * history (state metrics per micro-batch). */
  private def runToTableWithProgress(df: DataFrame, mode: OutputMode)
      : (DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = df.sparkSession
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    recordStateMetrics(q.recentProgress)
    (spark.table(name), q.recentProgress)
  }

  /** Hourly tumbling event-time windows per event type, under a 1-hour
    * watermark — q14's buckets, ONE plan for q29 (complete mode), q60
    * (append, with the flush row) and [[runWindowedAppendToFiles]]. */
  private def hourlyWindows(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Q29: the streaming twin of batch q14 — tumbling 1-hour event-time
    * windows per event type. Watermark bounds state at 1 hour of lateness;
    * complete output mode because AvailableNow ends before a final
    * watermark advance would flush the last windows in append mode. */
  def q29StreamTimeBucket(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(hourlyWindows(eventsStream(stateSession(spark), sfDir)),
        OutputMode.Complete())
      .orderBy("hour", "event_type")

  /** The far-future FLUSH row every append-mode drain of the events
    * stream unions in (q60, q142 and the outer joins — one definition so
    * the load-bearing parts cannot drift): the `ts` of one known event,
    * shifted 36500 days (100 years) forward; callers add their columns.
    * The event id is a batch metadata lookup at plan build; min() over
    * an EMPTY events table is a null cell (getLong would NPE), and an
    * empty stream needs no flush, so a non-matching sentinel keeps the
    * plan sound. A drain whose flush never fires silently leaves its
    * last windows/rows stuck in state. */
  private def flushRows(spark: SparkSession, s: SparkSession,
      sfDir: String): DataFrame = {
    val anchorRow = graft.Tables.events(spark, sfDir)
      .agg(min(col("event_id"))).head()
    val anchorId = if (anchorRow.isNullAt(0)) -1L else anchorRow.getLong(0)
    eventsStream(s, sfDir).where(col("event_id") === anchorId)
      .select((col("ts") + expr("INTERVAL 36500 DAYS")).as("ts"))
  }

  /** Q60: the APPEND-mode twin of q29 — the production default for
    * windowed streaming output (complete mode re-emits the whole result
    * every micro-batch; append emits each window exactly once, when the
    * watermark passes its end — the only mode file/kafka sinks accept).
    *
    * A finite AvailableNow run never advances the watermark past the
    * last windows on its own (the watermark trails max-seen event time
    * by the delay), so the stream carries ONE synthetic far-future flush
    * event that pushes the watermark past every real window — the
    * standard final-watermark-flush pattern for draining a bounded
    * backfill through an append-mode plan. The flush row is NOT filtered
    * before the aggregate: a pre-aggregate filter on a non-event-time
    * column gets pushed BELOW the EventTimeWatermark node (measured: the
    * last two windows stay stuck in state because the watermark never
    * sees the flush row). Instead the flush lands in its own far-future
    * window, which append mode never emits — its end is past the final
    * watermark — and is dropped from the sink output defensively. The
    * result is exactly q29's (and the oracle is the same SQL). */
  def q60StreamAppendWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val s = stateSession(spark)
    val ev = eventsStream(s, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val flush = flushRows(spark, s, sfDir)
      .select(col("ts"), lit("__flush__").as("event_type"), lit(0.0).as("value"))
    runToTable(hourlyWindows(ev.unionByName(flush)), OutputMode.Append())
      .where(col("event_type") =!= "__flush__")
      .orderBy("hour", "event_type")
  }

  /** An outer twin of q43 — [[clickViewJoin]] with the flush row —
    * drained and keyed by `user`. Null `user_id`/`ts` rows are dropped
    * first, as the oracles drop them: the watermark discards a null-ts
    * row and the −1-sentinel sink filter would null-kill a null user_id,
    * but a bare outer join would KEEP both as unmatched rows. Flush
    * leftovers are dropped from the sink defensively. */
  private def outerJoinRows(spark: SparkSession, sfDir: String,
      joinType: String, user: Column): DataFrame = {
    val s = stateSession(spark)
    val ev = eventsStream(s, sfDir)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
    runToTable(
        joinRows(clickViewJoin(ev, joinType, Some(flushRows(spark, s, sfDir))),
          user),
        OutputMode.Append())
      .where(col("user_id") =!= -1L)
  }

  /** Q137: stream-stream LEFT OUTER interval join — the join mode q43's
    * inner join leaves uncovered, and the one with the distinctive
    * streaming semantics: an unmatched left row cannot be emitted when
    * it arrives (a match may still come), only once the GLOBAL watermark
    * proves no future view can fall inside its interval — at which point
    * the engine emits it with nulls. That makes outer results
    * WATERMARK-DRIVEN: both inputs carry q60's far-future flush row
    * (min-of-inputs watermark — one stalled side stalls every outer
    * emission), keyed to user_id −1 so it can never pair with a real
    * row; flush leftovers are dropped from the sink defensively. Same
    * interval as q43 (views within the preceding hour), so after the
    * final flush the result is exactly the batch LEFT JOIN the oracle
    * runs. */
  def q137StreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame =
    outerJoinRows(spark, sfDir, "leftOuter", col("user_id"))
      .orderBy(col("user_id"), col("click_id"),
        col("view_id").asc_nulls_first)

  /** Q144: stream-stream FULL OUTER interval join — the last cell of
    * the join-mode matrix (inner q43, left q137): unmatched CLICKS and
    * unmatched VIEWS both emit with nulls, each once the GLOBAL
    * watermark proves no future partner can fall inside its interval.
    * q137's flush/null discipline applied symmetrically: both inputs
    * carry the far-future flush row (min-of-inputs watermark), the
    * view side's unmatched rows now also wait on the click watermark
    * passing `view_ts + 1 hour`. The output key is
    * `coalesce(click.user_id, view.user_id)` (an unmatched view has no
    * click-side user), null ordering pinned on both engines (Spark asc
    * = NULLS FIRST; DuckDB defaults NULLS LAST — the oracle says it
    * explicitly). Flush leftovers can surface on EITHER side here (the
    * two flush rows even match each other — same sentinel user, equal
    * ts); the coalesced key drops both. After the final flush the
    * result is exactly the batch FULL JOIN; the matched subset is q43
    * (spec-pinned). */
  def q144StreamFullOuterJoin(spark: SparkSession, sfDir: String): DataFrame =
    outerJoinRows(spark, sfDir, "fullOuter",
        coalesce(col("user_id"), col("v_user_id")))
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("view_id").asc_nulls_first)

  /** Q151: stream-stream RIGHT OUTER interval join — the fourth and
    * last cell of the join-mode matrix (inner q43, left q137, full
    * q144), making the "every join mode" claim literal: unmatched
    * VIEWS emit with a null click side once the global watermark
    * proves no click can still fall inside `[view_ts, view_ts + 1h]`
    * — exactly q137 mirrored. Same join builder and flush/null
    * discipline (the two flush rows match each other, so the sink
    * filter on the VIEW side's sentinel removes the pair; an
    * unmatched click-side flush row is never emitted by a right
    * outer). Output key is the view side's user (always present in a
    * right outer), ordering leads with view_id so the unmatched-view
    * rows interleave deterministically, click_id NULLS FIRST pinned
    * on both engines. After the final flush the result is exactly the
    * batch RIGHT JOIN; the matched subset is q43 (spec-pinned). */
  def q151StreamRightOuterJoin(spark: SparkSession,
      sfDir: String): DataFrame =
    outerJoinRows(spark, sfDir, "rightOuter", col("v_user_id"))
      .orderBy(col("user_id"), col("view_id"),
        col("click_id").asc_nulls_first)

  /** RESTARTABLE windowed aggregation: the production layout of q29/q60
    * — a file-stream LANDING DIR in, hourly event-time windows with a
    * 1-hour watermark, append mode out to a parquet FILE SINK with a
    * real checkpoint. Unlike the demo memory sinks (which vanish with
    * the process), this surface survives a kill: offsets and window
    * state live in the checkpoint, and the sink's `_spark_metadata`
    * commit log makes file output exactly-once across restarts — a
    * restarted query neither re-emits a window it already wrote nor
    * loses the partial counts of windows that were open when the
    * process died. RecoverySpec proves it: a run killed mid-stream and
    * resumed from the same checkpoint produces byte-identical results
    * to an uninterrupted run.
    *
    * One AvailableNow drain of whatever is in `landingDir` now; call
    * again after more files land (or after a crash) with the SAME
    * checkpoint/out dirs to resume.
    *
    * `maxFilesPerTrigger` bounds each micro-batch (AvailableNow
    * respects it and drains in as many batches as needed) — the
    * production rate-limit knob, and the lever the multi-batch spec
    * uses to prove window state is correct ACROSS micro-batch
    * boundaries, not just within one big drain: a window straddling
    * two batches must accumulate, an emitted window must never
    * re-emit. */
  def runWindowedAppendToFiles(spark: SparkSession, landingDir: String,
                               checkpointDir: String,
                               outDir: String,
                               maxFilesPerTrigger: Option[Int] = None): Unit = {
    drainToParquet(
      hourlyWindows(streamEvents(stateSession(spark), landingDir,
        maxFilesPerTrigger = maxFilesPerTrigger)),
      checkpointDir, outDir)
  }

  /** RESTARTABLE first-seen dedup: q31's `flatMapGroupsWithState` over a
    * landing dir, append mode to a parquet sink with a checkpoint. This
    * is the sharper recovery surface: if the per-group state were lost
    * at a restart, every (user, event_type) pair already emitted before
    * the kill would emit AGAIN when its next event arrives — a visible
    * duplicate — so RecoverySpec's equality against the uninterrupted
    * run proves the state store itself (not just source offsets) came
    * back from the checkpoint.
    *
    * The dedup horizon here is 365 DAYS (vs q31's 24 h), and that is a
    * real operational rule this spec first caught by violating it: a
    * horizon shorter than the backfill/replay window re-admits
    * duplicates BY DESIGN — the watermark races past first_ts+24h
    * between the two phases, the timeout removes the state, and the
    * post-kill half re-emits every pair (measured: 149 rows vs 75).
    * Deterministic catch-up requires horizon ≥ replay window. */
  def runFirstSeenToFiles(spark: SparkSession, landingDir: String,
                          checkpointDir: String,
                          outDir: String): Unit = {
    drainToParquet(
      firstSeenPlan(streamEvents(stateSession(spark), landingDir),
        horizonMs = 365L * 24 * 3600 * 1000),
      checkpointDir, outDir)
  }

  /** q31's first-seen dedup plan over a streaming events frame,
    * parameterized by the dedup HORIZON — ONE definition shared by the
    * memory-sink demo (24 h) and the checkpointed runner (365 d), the
    * [[clickViewJoin]] discipline: the recovery spec must
    * exercise exactly the shipped state function (tie-break, timeout
    * clamp and all), and a fix applied to one copy can't silently skip
    * the other. */
  private def firstSeenPlan(ev: DataFrame, horizonMs: Long): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val typed: Dataset[Ev] = ev
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Ev]
    typed
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[FirstSeen, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((uid, etype), events, state: GroupState[FirstSeen]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty
          else if (events.isEmpty) Iterator.empty
          else {
            // within one micro-batch the iterator is not time-ordered;
            // getTime is millis only, so order by (millis, nanos, id)
            val first = events.minBy(e =>
              (e.ts.getTime, e.ts.getNanos.toLong, e.event_id))
            val fs = FirstSeen(uid, etype, first.event_id, first.ts)
            state.update(fs)
            state.setTimeoutTimestamp(expiryMs(state,
              first.ts.getTime + horizonMs))
            Iterator.single(fs)
          }
      }
      .toDF()
      .select(col("user_id"), col("event_type"), col("first_event_id"),
        microsText(col("first_ts")).as("first_ts"))
  }

  /** Clamp a desired event-time timeout above the current watermark:
    * Spark rejects a timeout ≤ watermark (IllegalArgumentException,
    * crashing the whole stream), and a group whose first event arrives
    * more than the horizon behind the watermark — a deep backfill landing
    * after fresher data — hits exactly that. Clamped, the entry expires
    * at the next micro-batch instead: the correct semantics, since its
    * horizon has already passed. (Spark 4.1.2 filters late rows before
    * the state function under EventTimeTimeout, so such a row normally
    * never reaches this code — spec-pinned in RecoverySpec; the clamp
    * is defense-in-depth for the exact-boundary case and for Spark
    * versions that deliver late rows to the function.) */
  private def expiryMs(state: GroupState[_], desiredMs: Long): Long =
    state.getCurrentWatermarkMs() match {
      case wm if wm >= desiredMs => wm + 1
      case _ => desiredMs
    }

  /** Q30: event-time sessionization — the built-in `session_window` with a
    * 30-minute gap (windows merge while events keep arriving within the
    * gap). Start/end reported from the events themselves (min/max ts), not
    * the window bounds, whose end includes the gap padding. */
  def q30StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(stateSession(spark), sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        microsText(min(col("ts"))).as("session_start"),
        microsText(max(col("ts"))).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    runToTable(agg, OutputMode.Complete())
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .orderBy("user_id", "session_start")
  }

  /** The session funnel's one plan (q117, and q142 with the flush
    * row): 30-minute session windows per user under a 1-hour watermark,
    * whose SAME aggregate pass carries the funnel columns (earliest view
    * ts, latest click ts) — no second stateful stage, no reprocessing;
    * converted = non-strict `min(view) <= max(click)` (q112's rule;
    * null-safe: a session without views or clicks compares NULL and
    * reads 0). */
  private def sessionFunnel(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(
        microsText(min(col("ts"))).as("session_start"),
        count(lit(1)).as("n_events"),
        min(when(col("event_type") === "view", col("ts"))).as("fv"),
        max(when(col("event_type") === "click", col("ts"))).as("lc"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        when(col("fv").isNotNull && col("fv") <= col("lc"), 1L)
          .otherwise(0L).as("converted"))

  /** Q117: streaming session FUNNEL — q112's conversion semantics
    * computed INSIDE the streaming sessionizer ([[sessionFunnel]]).
    * Batch q112 additionally rolls up per user — streaming stops at
    * per-session rows because chaining a second streaming aggregate
    * needs complete-mode output of the first; the per-user rollup
    * belongs downstream, on the session table this emits. */
  def q117StreamSessionFunnel(spark: SparkSession, sfDir: String): DataFrame =
    runToTable(sessionFunnel(eventsStream(stateSession(spark), sfDir)),
        OutputMode.Complete())
      .orderBy("user_id", "session_start")

  /** Q142: the APPEND-mode twin of q117 — the session funnel with STATE
    * EVICTION, the variant a true unbounded stream must run: q30/q117
    * use Complete mode, whose session state only ever grows (measured in
    * the bench state export: 95k state rows, 0 removed — fine for a
    * bounded fixture drain, unbounded at a streaming 100 TB). Here the
    * watermark EVICTS each session once no future event can extend it
    * (window end + gap below the watermark), emitting it exactly once —
    * the only mode file/kafka sinks accept, and the shape whose state
    * is bounded by the lateness horizon instead of the stream's length.
    *
    * Drained by q60's far-future flush-row discipline (an AvailableNow
    * run never advances the watermark past the last sessions on its
    * own): the flush row belongs to sentinel user −1, so it forms its
    * own never-finalized session (dropped from state only at stream
    * end) and can never merge into a real user's session; it is
    * filtered from the sink defensively. After the final flush the
    * result is EXACTLY q117's — same oracle text — and the spec pins
    * `numRowsRemoved > 0` plus row-for-row equality with the Complete
    * twin. */
  def q142AppendSessionFunnel(spark: SparkSession, sfDir: String): DataFrame =
    q142Run(spark, sfDir)._1

  /** The q142 drain with its progress events — the spec reads
    * numRowsRemoved off these (the eviction proof). */
  private[graft] def q142Run(spark: SparkSession, sfDir: String)
      : (DataFrame, Array[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val s = stateSession(spark)
    val ev = eventsStream(s, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val flush = flushRows(spark, s, sfDir)
      .select(lit(-1L).as("user_id"), col("ts"),
        lit("__flush__").as("event_type"))
    val (table, progress) = runToTableWithProgress(
      sessionFunnel(ev.unionByName(flush)), OutputMode.Append())
    (table.where(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start"), progress)
  }

  /** The per-user funnel rollup DOWNSTREAM of the streamed session
    * table — the table-to-table pattern that closes the q112/q117
    * asymmetry: streaming stops at per-session rows (chaining a second
    * stateful aggregate would force complete-mode re-emission of the
    * whole first stage every batch), so the rollup runs as a BATCH
    * aggregate over the table the stream maintains. In production this
    * is the downstream job reading the streaming sink's table (or the
    * same aggregate inside `foreachBatch` when it must ride the same
    * trigger); either way the session table is the contract between the
    * two. Output schema == q112's exactly, and the rollup is
    * spec-pinned EQUAL to q112 row-for-row — two engines, one rule
    * set, end to end including the rollup. */
  def q117UserRollup(spark: SparkSession, sfDir: String): DataFrame =
    q117StreamSessionFunnel(spark, sfDir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("converted")).as("conv_sessions"))
      .orderBy("user_id")

  /** Q133: STREAMING SCD2 MAINTENANCE — q126's dimension history kept
    * current by a foreachBatch CDC apply: the update stream lands in
    * event-time-ordered files (the CDC batch contract: each micro-batch
    * is strictly later than everything applied before — here a quartile
    * time split, exactly the shape a CDC feed delivers), and every
    * micro-batch runs [[graft.operators.RelationalQueries.scd2Merge]]
    * against the maintained table: delta users' current rows close out,
    * the delta windows alone, untouched users pass through byte-
    * identical. The maintained table is re-materialized per batch
    * (versioned dirs; in production this is a MERGE INTO on an ACID
    * table — the merge PLAN is the same, storage swap aside).
    *
    * The deliverable: after draining the stream, the maintained table
    * IS q126's full rebuild — same oracle text, hash-gated, plus a
    * row-for-row spec against q126. Two engines, one Kimball rule set:
    * the q112/q117 twin discipline applied to CDC. */
  def q133StreamScd2(spark: SparkSession, sfDir: String): DataFrame = {
    // the landing files are written on the caller's session, whose
    // schema memo holds `events`; runScd2ToFiles drains on a clone
    val updates = graft.operators.RelationalQueries
      .scd2Updates(graft.Tables.events(spark, sfDir))
    // quartile cut points: four landing files, strictly ascending in
    // event time (rows tying a boundary stay in one file). Order
    // statistics via the house bisection engine (groupedQuantiles) —
    // NOT percentile(), whose buffer-every-value-in-one-task shape is
    // exactly what q105's scaladoc bans at scale; any ascending cut
    // points give a valid CDC split, so the exact rank-ceil statistic
    // serves as well as the interpolated percentile did
    val qs = graft.operators.RelationalQueries
      .groupedQuantiles(
        updates.select(lit("all").as("g"),
          expr("unix_micros(ts)").as("v")),
        Seq(25, 50, 75))
      .sortBy(_._2).map(_._3)
    // a local path: the landing stamps and the recovery pointer below
    // read mtimes and listings through java.io.File
    val root = new org.apache.hadoop.fs.Path(
      graft.Artifacts.freshRoot(spark, sfDir, "stream_scd2_")).toUri.getPath
    val landing = s"$root/landing"
    val stateDir = s"$root/state"
    val bounds = (Long.MinValue +: qs) :+ Long.MaxValue
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      fixtureLandOneFile(
        updates.where(expr("unix_micros(ts)") > lo &&
          expr("unix_micros(ts)") <= hi),
        landing, i)
    }
    runScd2ToFiles(spark, landing, stateDir + "/ckpt", stateDir)
    val cur = latestScd2Table(stateDir)
    require(cur.nonEmpty, "stream produced no batches")
    graft.operators.RelationalQueries
      .scd2Formatted(spark.read.parquet(cur.get))
  }

  /** The CDC-update landing schema (= scd2Updates' columns) — streaming
    * sources must declare their schema. */
  private val Scd2LandingSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_id", LongType), StructField("value", DoubleType)))

  /** The newest committed maintained-table version under `stateDir`
    * (highest v<batchId> dir carrying a _SUCCESS marker) — the recovery
    * pointer a restarted runner resumes from. */
  private[graft] def latestScd2Table(stateDir: String): Option[String] =
    latestScd2Version(stateDir, Long.MaxValue).map(_._2)

  private def latestScd2Version(stateDir: String, below: Long)
      : Option[(Long, String)] =
    Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        new java.io.File(f, "_SUCCESS").exists())
      .flatMap(f => f.getName.drop(1).toLongOption.map((_, f.getPath)))
      .filter(_._1 < below)
      .sortBy(_._1).lastOption

  /** RESTARTABLE SCD2 CDC runner — q133's foreachBatch apply as a
    * kill+resume-safe job: recovery needs only the checkpoint's source
    * offsets plus the versioned maintained table. Idempotence argument,
    * pinned by RecoverySpec: a replayed batch re-reads the SAME landing
    * file (offset log), merges against the SAME immutable base (the
    * newest v-dir strictly BELOW its own batch id — never its own
    * half-written output), and overwrites its own v-dir — a
    * deterministic function of committed inputs. Batches must land in
    * event-time order (the CDC contract; [[stampLanding]] pins file
    * order to landing order). */
  private[graft] def runScd2ToFiles(spark: SparkSession, landingDir: String,
      checkpointDir: String, stateDir: String): Unit = {
    val s = stateSession(spark)
    val noUpdates = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], Scd2LandingSchema)
    val emptyHistory = graft.operators.RelationalQueries.scd2Of(noUpdates)
    // every v-dir is scd2Merge's output, so a base reads back under this
    // schema with no footer inference
    val historySchema = emptyHistory.schema
    require(graft.operators.RelationalQueries
      .scd2Merge(emptyHistory, noUpdates).schema == historySchema,
      "scd2Merge's output schema differs from scd2Of's")
    val q = s.readStream.schema(Scd2LandingSchema)
      .option("maxFilesPerTrigger", 1).parquet(landingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val base = latestScd2Version(stateDir, below = id)
          .map(v => s.read.schema(historySchema).parquet(v._2))
          .getOrElse(emptyHistory)
        graft.operators.RelationalQueries.scd2Merge(base, batch)
          .write.mode("overwrite").parquet(s"$stateDir/v$id")
        ()
      }
      .start()
    q.awaitTermination()
  }

  // public: encoder codegen (SafeProjection) cannot access private classes
  case class Ev(event_id: Long, ts: java.sql.Timestamp,
                user_id: Long, event_type: String)
  case class FirstSeen(user_id: Long, event_type: String,
                       first_event_id: Long, first_ts: java.sql.Timestamp)

  /** Q31: custom streaming state via `flatMapGroupsWithState` — first-seen
    * dedup per (user, event_type): the first event of each pair is emitted,
    * every later one is dropped by the per-group state. This is the
    * KeyValueGroupedDataset stateful-operator surface; at scale state lives
    * in the state store, keyed and incremental — and is BOUNDED by an
    * event-time timeout: once the watermark passes first_ts + 24 h the
    * entry expires (dedup horizon = 24 h). Unbounded `NoTimeout` state is
    * how streaming dedup jobs die at 100 TB. */
  def q31StreamFirstSeen(spark: SparkSession, sfDir: String): DataFrame = {
    val plan = firstSeenPlan(eventsStream(stateSession(spark), sfDir),
      horizonMs = 24L * 3600 * 1000)
    runToTable(plan, OutputMode.Append())
      .orderBy("user_id", "event_type")
  }
}
