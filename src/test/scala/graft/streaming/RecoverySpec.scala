package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Restart/recovery semantics of the checkpointed streaming surface —
  * the property a real deployment depends on and the AvailableNow demo
  * queries never exercise: a streaming job KILLED mid-stream and resumed
  * from its checkpoint must produce exactly the result of an
  * uninterrupted run. Offsets + window state come back from the
  * checkpoint; the parquet sink's `_spark_metadata` log keeps emitted
  * files exactly-once. */
class RecoverySpec extends SparkSpec {

  /** events.parquet as shipped: `ts` is TIMESTAMP(MICROS), the one
    * encoding EventStreams reads, so landing files written from this
    * frame drain as they are. The slicing below is in [[tsMicros]]; the
    * flush and backfill rows shift `ts` by intervals. */
  private def rawEvents = spark.read.parquet(s"$sfDir/events.parquet")

  private def tsMicros = unix_micros(col("ts"))

  test("killed+resumed checkpointed stream equals the uninterrupted run") {
    val base = scratchDir("graft-recovery").toString
    val raw = rawEvents
    val Seq(lo, hi) = raw.agg(min(tsMicros), max(tsMicros)).head()
      .toSeq.map(_.asInstanceOf[Long]).toSeq
    val mid = lo + (hi - lo) / 2
    val half1 = raw.where(tsMicros < mid)
    val half2 = raw.where(tsMicros >= mid)
    // final-watermark flush (q60's pattern): one far-future row pushes
    // the watermark past every real window; its own window never closes,
    // so it appears in no output
    val flush = raw.limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 36500 DAYS"))
      .withColumn("event_type", lit("__flush__"))

    // uninterrupted twin: everything lands before the single run
    half1.write.mode("append").parquet(s"$base/landingU")
    half2.write.mode("append").parquet(s"$base/landingU")
    flush.write.mode("append").parquet(s"$base/landingU")
    EventStreams.runWindowedAppendToFiles(spark,
      s"$base/landingU", s"$base/ckU", s"$base/outU")
    val uninterrupted = spark.read.parquet(s"$base/outU")
      .orderBy("hour", "event_type").collect().toSeq
    assert(uninterrupted.nonEmpty)

    // interrupted run, phase A: only the first half has landed when the
    // process "dies" (the query object is discarded — recovery must come
    // from the checkpoint alone)
    half1.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runWindowedAppendToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val phaseA = spark.read.parquet(s"$base/outI").count()
    // the kill is genuinely mid-stream: some windows already emitted,
    // some still pending in state (incl. the window straddling the cut)
    assert(phaseA > 0, "phase A emitted nothing - kill wasn't mid-stream")
    assert(phaseA < uninterrupted.size,
      "phase A emitted everything - nothing was pending at the kill")

    // phase B: the rest of the data (and the flush) lands; a NEW query
    // resumes from the same checkpoint and drains
    half2.write.mode("append").parquet(s"$base/landingI")
    flush.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runWindowedAppendToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")

    val resumed = spark.read.parquet(s"$base/outI")
      .orderBy("hour", "event_type").collect().toSeq
    assert(resumed === uninterrupted)
    // exactly-once across the restart: no window emitted twice
    val dups = spark.read.parquet(s"$base/outI")
      .groupBy("hour", "event_type").count().where(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("one-file-per-batch drain equals the single big drain") {
    // window/state correctness ACROSS micro-batch boundaries: with
    // maxFilesPerTrigger=1 every landing file is its own batch, so hour
    // windows straddle batches, watermarks advance incrementally, and
    // emitted windows must never re-emit. Kill+resume proved checkpoint
    // recovery; this proves the ordinary many-batch path.
    val base = scratchDir("graft-multibatch").toString
    val raw = rawEvents
    val Seq(lo, hi) = raw.agg(min(tsMicros), max(tsMicros)).head()
      .toSeq.map(_.asInstanceOf[Long]).toSeq
    val flush = raw.limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 36500 DAYS"))
      .withColumn("event_type", lit("__flush__"))
    // 6 time slices + flush, one parquet file each: 7 micro-batches
    val slices = (0 until 6).map { i =>
      val a = lo + (hi - lo + 1) * i / 6
      val b = lo + (hi - lo + 1) * (i + 1) / 6
      raw.where(tsMicros >= a && tsMicros < b)
    } :+ flush
    for (dir <- Seq("landing1", "landingN"); s <- slices)
      s.coalesce(1).write.mode("append").parquet(s"$base/$dir")

    EventStreams.runWindowedAppendToFiles(spark,
      s"$base/landing1", s"$base/ck1", s"$base/out1")
    EventStreams.runWindowedAppendToFiles(spark,
      s"$base/landingN", s"$base/ckN", s"$base/outN",
      maxFilesPerTrigger = Some(1))

    // the rate limit really did split the drain into many batches
    val batches = new java.io.File(s"$base/ckN/offsets").list().length
    assert(batches >= 5, s"expected a multi-batch drain, got $batches")
    val single = new java.io.File(s"$base/ck1/offsets").list().length
    assert(single < batches, s"single drain used $single batches")

    val one = spark.read.parquet(s"$base/out1")
      .orderBy("hour", "event_type").collect().toSeq
    val many = spark.read.parquet(s"$base/outN")
      .orderBy("hour", "event_type").collect().toSeq
    assert(one.nonEmpty)
    assert(many === one)
    // no window emitted twice across batch boundaries
    val dups = spark.read.parquet(s"$base/outN")
      .groupBy("hour", "event_type").count().where(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("interval-join buffers on BOTH sides survive the restart") {
    // the two-sided state store: a click buffered before the kill must
    // pair with a view that only arrives after the resume (and vice
    // versa). If either side's buffer were lost, the cross-cut pairs
    // would be missing from the resumed output; if inputs were re-read,
    // _spark_metadata-deduped file output would still catch re-emits as
    // duplicate (click_id, view_id) rows.
    val base = scratchDir("graft-recovery-join").toString
    val raw = rawEvents
    // an arbitrary midpoint may straddle no matched pair at the smallest
    // SF; instead CUT INSIDE THE WIDEST MATCHED PAIR (batch twin of the
    // join condition), so at least that pair's click is buffered at the
    // kill and can only complete from recovered state
    val clicks = raw.where(col("event_type") === "click")
      .select(col("user_id"), tsMicros.as("cts"))
    val views = raw.where(col("event_type") === "view")
      .select(col("user_id").as("vu"), tsMicros.as("vts"))
    val mid = clicks.join(views,
      col("user_id") === col("vu") &&
        col("vts") < col("cts") &&
        col("vts") >= col("cts") - lit(3600L * 1000000L))
      .select(expr("vts + (cts - vts) DIV 2").as("cut"),
        (col("cts") - col("vts")).as("gap"))
      .orderBy(desc("gap")).head().getLong(0)
    val half1 = raw.where(tsMicros < mid)
    val half2 = raw.where(tsMicros >= mid)

    // uninterrupted twin
    half1.write.mode("append").parquet(s"$base/landingU")
    half2.write.mode("append").parquet(s"$base/landingU")
    EventStreams.runIntervalJoinToFiles(spark,
      s"$base/landingU", s"$base/ckU", s"$base/outU")
    val uninterrupted = spark.read.parquet(s"$base/outU")
      .orderBy("user_id", "click_id", "view_id").collect().toSeq
    assert(uninterrupted.nonEmpty)
    // the recovery property must actually be exercised: some pair's two
    // sides must straddle the cut (one event before mid, one after) —
    // those pairs can only form from recovered join buffers
    // format the cut through the same date_format/UTC path the output
    // columns use, so the string comparison is apples-to-apples
    val midStr = spark.range(1).select(
      date_format(timestamp_micros(lit(mid)),
        "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    val crossCut = spark.read.parquet(s"$base/outU")
      .where((col("click_ts") < lit(midStr)) =!=
        (col("view_ts") < lit(midStr))).count()
    assert(crossCut > 0,
      "no pair straddles the kill point; the test would prove nothing")

    // interrupted: phase A drains half, the query object is discarded
    half1.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runIntervalJoinToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val phaseA = spark.read.parquet(s"$base/outI").count()
    assert(phaseA > 0, "phase A emitted nothing - kill wasn't mid-stream")
    assert(phaseA < uninterrupted.size,
      "phase A emitted everything - nothing was buffered at the kill")

    // phase B: rest lands, a NEW query resumes from the same checkpoint
    half2.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runIntervalJoinToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val resumed = spark.read.parquet(s"$base/outI")
      .orderBy("user_id", "click_id", "view_id").collect().toSeq
    assert(resumed === uninterrupted)
    val dups = spark.read.parquet(s"$base/outI")
      .groupBy("user_id", "click_id", "view_id").count()
      .where(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("stateless enrichment recovers on offsets + sink log alone") {
    // the fifth (degenerate) recovery class: q104's stream-static join
    // holds NO state store, so a kill/resume exercises exactly two
    // mechanisms — source offset tracking and the parquet sink's
    // _spark_metadata transaction log. The static side comes from the
    // FIXED sfDir (the contract: genuinely static input), so both runs
    // see the same dimension and outputs must be identical.
    val base = scratchDir("graft-recovery-enrich").toString
    val raw = rawEvents
    val ids = raw.where(col("event_type") === "click")
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    assert(ids.length >= 4, "fixture too small to split")
    val mid = ids(ids.length / 2)
    val half1 = raw.where(col("event_type") =!= "click" ||
      col("event_id") < mid)
    val half2 = raw.where(col("event_type") === "click" &&
      col("event_id") >= mid)

    half1.write.mode("append").parquet(s"$base/landingU")
    half2.write.mode("append").parquet(s"$base/landingU")
    EventStreams.runEnrichToFiles(spark,
      s"$base/landingU", sfDir, s"$base/ckU", s"$base/outU")
    val uninterrupted = spark.read.parquet(s"$base/outU")
      .orderBy("user_id", "event_id").collect().toSeq
    assert(uninterrupted.nonEmpty)

    half1.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runEnrichToFiles(spark,
      s"$base/landingI", sfDir, s"$base/ckI", s"$base/outI")
    val phaseA = spark.read.parquet(s"$base/outI").count()
    assert(phaseA > 0 && phaseA < uninterrupted.size,
      s"kill point not mid-stream: $phaseA of ${uninterrupted.size}")
    half2.write.mode("append").parquet(s"$base/landingI")
    EventStreams.runEnrichToFiles(spark,
      s"$base/landingI", sfDir, s"$base/ckI", s"$base/outI")
    val resumed = spark.read.parquet(s"$base/outI")
      .orderBy("user_id", "event_id").collect().toSeq
    assert(resumed === uninterrupted)
    // a re-read input would duplicate (user_id, event_id) rows that the
    // sink log should have suppressed
    val dups = spark.read.parquet(s"$base/outI")
      .groupBy("user_id", "event_id").count()
      .where(col("count") > 1).count()
    assert(dups === 0L)
    graft.GraftSession.deleteRecursively(new java.io.File(base))
  }

  test("a deep backfill behind the watermark is dropped, never a crash") {
    // the advisory crash mode: a group's first event arriving more than
    // the dedup horizon behind the watermark would put its desired
    // timeout (first_ts + horizon) BELOW the watermark, which
    // setTimeoutTimestamp rejects — killing the whole stream. Pinned
    // here: Spark 4.1.2 filters late rows before the state function
    // under EventTimeTimeout, so the deep-backfill row is DROPPED by
    // the watermark (the standard late-data rule), the drain completes,
    // and no existing pair duplicates; the expiryMs clamp in
    // EventStreams is defense-in-depth for the exact-boundary case and
    // for Spark versions that deliver late rows to the function.
    val base = scratchDir("graft-backfill").toString
    val raw = rawEvents
    // phase 1: current data advances the watermark to max(ts) - 1h
    raw.write.mode("append").parquet(s"$base/landing")
    EventStreams.runFirstSeenToFiles(spark,
      s"$base/landing", s"$base/ck", s"$base/out")
    val phase1 = spark.read.parquet(s"$base/out").count()
    // phase 2: one NEW pair lands 400 days (> the 365-day horizon)
    // in the past — deeper than the horizon behind the watermark
    raw.limit(1)
      .withColumn("ts", col("ts") - expr("INTERVAL 400 DAYS"))
      .withColumn("event_type", lit("__backfill__"))
      .write.mode("append").parquet(s"$base/landing")
    EventStreams.runFirstSeenToFiles(spark, // must not throw
      s"$base/landing", s"$base/ck", s"$base/out")
    val out = spark.read.parquet(s"$base/out")
    assert(out.where(col("event_type") === "__backfill__").count() === 0L,
      "a row behind the watermark is late data: dropped, not admitted")
    assert(out.count() === phase1, "no pair may duplicate or vanish")
    val dups = out.groupBy("user_id", "event_type").count()
      .where(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("flatMapGroupsWithState state survives the restart (no re-emits)") {
    // the sharper proof: first-seen dedup state. If the state store did
    // NOT come back from the checkpoint, every (user, event_type) pair
    // first seen before the kill would emit AGAIN on its next event
    // after the resume — a duplicate row the equality below would catch.
    // The cut is by TIME, so a pair's true first event is always in the
    // phase that first contains the pair.
    val base = scratchDir("graft-recovery-state").toString
    val raw = rawEvents
    val Seq(lo, hi) = raw.agg(min(tsMicros), max(tsMicros)).head()
      .toSeq.map(_.asInstanceOf[Long]).toSeq
    val mid = lo + (hi - lo) / 2
    raw.where(tsMicros < mid).write.mode("append")
      .parquet(s"$base/landingU")
    raw.where(tsMicros >= mid).write.mode("append")
      .parquet(s"$base/landingU")
    EventStreams.runFirstSeenToFiles(spark,
      s"$base/landingU", s"$base/ckU", s"$base/outU")
    val uninterrupted = spark.read.parquet(s"$base/outU")
      .orderBy("user_id", "event_type").collect().toSeq
    assert(uninterrupted.nonEmpty)

    raw.where(tsMicros < mid).write.mode("append")
      .parquet(s"$base/landingI")
    EventStreams.runFirstSeenToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val phaseA = spark.read.parquet(s"$base/outI")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(phaseA.nonEmpty, "phase A emitted nothing")
    // the no-re-emit property must actually be exercised: the second
    // half has to contain events for pairs ALREADY emitted in phase A —
    // without recovered state, each would emit a duplicate in phase B
    val half2Pairs = raw.where(tsMicros >= mid)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert((phaseA & half2Pairs).nonEmpty,
      "no already-seen pair has post-kill events; test exercises nothing")

    raw.where(tsMicros >= mid).write.mode("append")
      .parquet(s"$base/landingI")
    EventStreams.runFirstSeenToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val resumed = spark.read.parquet(s"$base/outI")
      .orderBy("user_id", "event_type").collect().toSeq
    assert(resumed === uninterrupted)
    // the duplicate-free property IS the state proof, stated directly
    val dups = spark.read.parquet(s"$base/outI")
      .groupBy("user_id", "event_type").count()
      .where(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("dedup key state survives the restart: no key forgotten, none re-emitted") {
    // the fourth state class: StreamingDeduplicate's key store. Phase A
    // drains snapshot A and stops (the kill point — offsets + key state
    // committed); snapshot B (q79's recrawl: unchanged docs re-sent,
    // edits, re-adds under new ids) lands only after, and the resumed
    // runner must suppress every already-seen content purely from the
    // RECOVERED state. Equality with an uninterrupted run over the same
    // landing sequence + a zero-duplicate check is the whole contract.
    val base = scratchDir("graft-dedup-recovery").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val b = graft.operators.CurationPipeline.snapshotB(docs)
      .select("doc_id", "lang", "text")

    docs.coalesce(1).write.mode("append").parquet(s"$base/landingU")
    b.coalesce(1).write.mode("append").parquet(s"$base/landingU")
    EventStreams.runDedupToFiles(spark,
      s"$base/landingU", s"$base/ckU", s"$base/outU")
    val uninterrupted = spark.read.parquet(s"$base/outU")
      .orderBy("content_md5").collect().map(_.getString(0)).toSeq
    assert(uninterrupted.nonEmpty)

    docs.coalesce(1).write.mode("append").parquet(s"$base/landingI")
    EventStreams.runDedupToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val phaseA = spark.read.parquet(s"$base/outI").count()
    // the resume must do real suppression work: B re-sends phase-A
    // contents (unchanged docs) — if that overlap were empty the test
    // would pass even with amnesiac state
    b.coalesce(1).write.mode("append").parquet(s"$base/landingI")
    EventStreams.runDedupToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/outI")
    val resumed = spark.read.parquet(s"$base/outI")
      .orderBy("content_md5").collect().map(_.getString(0)).toSeq
    assert(resumed === uninterrupted)
    assert(resumed.distinct.size === resumed.size,
      "a forgotten key re-admitted duplicate content after the resume")
    // phase B added only genuinely-new contents (the edited docs)
    val newInB = resumed.size - phaseA
    assert(newInB > 0 && newInB < b.count(),
      s"phase B emitted $newInB of ${b.count()} rows — overlap not exercised")
  }

  test("SCD2 CDC runner: maintained table survives the restart") {
    // the sixth recovered runner class: state lives OUTSIDE the
    // checkpoint (the versioned maintained table) and recovery is
    // offsets + the newest committed v-dir. Phase A applies the first
    // two CDC batches and stops (the kill point); the restarted runner
    // must resume from the recovered pointer and close out phase-A
    // current rows it has never seen in memory.
    import org.apache.spark.sql.functions._
    val base = scratchDir("graft-scd2-recovery").toString
    val updates = graft.operators.RelationalQueries
      .scd2Updates(graft.Tables.events(spark, sfDir))
    val qs = updates
      .selectExpr("percentile(unix_micros(ts), array(0.25, 0.5, 0.75))")
      .head().getSeq[Double](0).map(_.toLong)
    val bounds = (Long.MinValue +: qs) :+ Long.MaxValue
    val slabs = bounds.sliding(2).toSeq
    def land(dir: String, range: Seq[Seq[Long]], seq0: Int): Unit =
      range.zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        updates.where(expr("unix_micros(ts)") > lo &&
            expr("unix_micros(ts)") <= hi)
          .coalesce(1).write.mode("append").parquet(dir)
        EventStreams.stampLanding(dir, seq0 + i)
      }
    // uninterrupted twin over the same landing sequence
    land(s"$base/landingU", slabs, 0)
    // four batches, each base read under the history schema the runner
    // writes: no batch infers its base's schema, which would cost a
    // job apiece
    val m = graft.metrics.MetricsReport.install(spark)
    val straightJobs = try m.window(EventStreams.runScd2ToFiles(spark,
      s"$base/landingU", s"$base/ckU", s"$base/stU")).jobs
    finally spark.sparkContext.removeSparkListener(m)
    assert(straightJobs <= 21,
      s"four SCD2 batches ran $straightJobs jobs")
    val want = spark.read
      .parquet(EventStreams.latestScd2Table(s"$base/stU").get)
      .orderBy("user_id", "version").collect().map(_.toSeq).toSeq
    // interrupted: two batches, kill, two more, resume
    land(s"$base/landingI", slabs.take(2), 0)
    EventStreams.runScd2ToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/stI")
    val phaseA = spark.read
      .parquet(EventStreams.latestScd2Table(s"$base/stI").get)
    val phaseACurrent = phaseA.where(col("is_current"))
      .select("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(phaseACurrent.nonEmpty, "phase A maintained nothing")
    land(s"$base/landingI", slabs.drop(2), 10)
    EventStreams.runScd2ToFiles(spark,
      s"$base/landingI", s"$base/ckI", s"$base/stI")
    val got = spark.read
      .parquet(EventStreams.latestScd2Table(s"$base/stI").get)
      .orderBy("user_id", "version").collect().map(_.toSeq).toSeq
    assert(got === want, "resumed maintenance != uninterrupted run")
    // the resume did real close-out work on recovered state: some row
    // current at the kill is no longer current in the final table
    val finalCurrent = spark.read
      .parquet(EventStreams.latestScd2Table(s"$base/stI").get)
      .where(col("is_current")).select("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((phaseACurrent -- finalCurrent).nonEmpty,
      "no phase-A current row was closed out after the resume")
  }

  test("q90 bounded dedup horizon: state is EVICTED, then re-emits past it") {
    // q86's state grows with distinct content forever; q90's contract is
    // that a key is held only one DedupHorizon past its ingest time.
    // Neither the output nor the final state row count proves the
    // eviction on its own (a re-ingested key re-occupies its slot), so
    // assert the state-store metric directly: the Jan keys must be
    // REMOVED once the Mar advancer pushes the watermark past their
    // expiry. The output side of the contract (re-crawl re-emits,
    // within-horizon copy suppressed) is the driver's DuckDB gate.
    val (table, progress) = EventStreams.horizonDedupRun(spark, sfDir)
    val rows = table.collect()
    val distinctContents = graft.Tables.documents(spark, sfDir)
      .select(graft.functions.Text.normalized(col("text")).as("n"))
      .distinct().count()
    // all four batches emitted: first crawl + advancer + filler + full
    // re-crawl (the advancer COPY in batch 2 is the one suppressed row)
    assert(rows.length === 2 * distinctContents + 2,
      s"expected ${2 * distinctContents + 2} rows, got ${rows.length}")
    val removed = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsRemoved).sum
    assert(removed >= distinctContents,
      s"watermark eviction removed only $removed of $distinctContents keys")
    // and the final state holds one horizon of keys, not all of history
    val finalState = progress.flatMap(_.stateOperators.toSeq)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(finalState <= distinctContents + 2,
      s"state holds $finalState keys — more than one horizon of ingest")
  }
}
