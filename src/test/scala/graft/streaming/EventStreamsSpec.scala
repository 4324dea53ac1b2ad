package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EventStreamsSpec extends SparkSpec {

  test("streaming time-bucket agrees with the batch q14 pipeline") {
    val streamed = EventStreams.q29StreamTimeBucket(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.operators.RelationalQueries.q14TimeBucket(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("append-mode windows flush completely and agree with batch q14") {
    // the far-future flush event must push the watermark past every real
    // window (no rows stuck in state) and stay out of the aggregates
    val streamed = EventStreams.q60StreamAppendWindows(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.operators.RelationalQueries.q14TimeBucket(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("sessions: events in one session are within gap; totals preserved") {
    val sessions = EventStreams.q30StreamSessions(spark, sfDir).collect()
    val totalEvents = Tables.events(spark, sfDir).count()
    assert(sessions.map(_.getLong(3)).sum === totalEvents)
    // session_start <= session_end always
    sessions.foreach { r =>
      assert(r.getString(1) <= r.getString(2))
    }
  }

  test("q117 streaming session funnel rolls up to batch q112 exactly") {
    // the two formulations share ONE rule set (30-min gap, non-strict
    // view<=click conversion) through different engines: session_window
    // state merging in the micro-batch engine vs lag/cumsum windows in
    // batch. The SHIPPED table-to-table rollup over the streamed
    // session table (EventStreams.q117UserRollup — the downstream-job
    // pattern) must equal q112's output row-for-row, schema included.
    val rolledDf = EventStreams.q117UserRollup(spark, sfDir)
    val batchDf = graft.operators.RelationalQueries
      .q112SessionFunnel(spark, sfDir)
    assert(rolledDf.columns.toSeq === batchDf.columns.toSeq,
      "rollup schema drifted from q112")
    val rolled = rolledDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rolled.toSeq === batch.toSeq, "rollup != q112 row-for-row")
    // non-vacuous: the fixture has both converting and non-converting
    // sessions, or the conversion column proves nothing
    val sessions = EventStreams.q117StreamSessionFunnel(spark, sfDir)
      .collect()
    assert(sessions.exists(_.getLong(3) == 1L), "no converted session")
    assert(sessions.exists(_.getLong(3) == 0L), "every session converted")
    assert(rolled.exists(r => r._2 > r._4 && r._4 > 0),
      "no user with a mixed conversion record")
  }

  test("q142 append session funnel: state EVICTED (numRowsRemoved > 0) " +
      "and output == the Complete twin q117") {
    val (df, progress) = EventStreams.q142Run(spark, sfDir)
    val append = df.collect().map(_.toSeq)
    // eviction proof: the watermark really removed finalized sessions
    // from the state store — the property Complete mode (q30/q117,
    // 0 removed in the bench state export) cannot have
    val removed = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "append-mode sessionizer evicted nothing")
    // the state left at stream end is (at most) the never-finalized
    // flush session — bounded, not corpus-sized
    val finalState = progress.flatMap(_.stateOperators.toSeq)
      .lastOption.map(_.numRowsTotal).getOrElse(-1L)
    assert(finalState >= 0 && finalState <= 2,
      s"final session state not drained: $finalState rows")
    // equality with the Complete twin: same sessions, same funnel bits
    val complete = EventStreams.q117StreamSessionFunnel(spark, sfDir)
      .collect().map(_.toSeq)
    assert(append.toSeq === complete.toSeq)
  }

  test("q104 stream-static join is stateless and batch-equivalent") {
    import org.apache.spark.sql.functions._
    EventStreams.takeStateMetrics() // clear anything a prior suite left
    val streamed = EventStreams.q104StreamStaticJoin(spark, sfDir)
    val got = streamed.collect()
    // stateless by construction: the drain must record NO state rows —
    // a stream-static join keeps nothing in the state store (contrast
    // q43's two-sided buffers); that absence is the operational point
    assert(EventStreams.takeStateMetrics().isEmpty,
      "stream-static join unexpectedly created stream state")
    // batch equivalence (the stream-static contract: per-batch results
    // equal the batch join over the same data)
    val ev = Tables.events(spark, sfDir)
    val profile = ev.where(col("event_type") === "view")
      .groupBy("user_id")
      .agg(count(lit(1)).as("views"),
        round(sum(col("value")), 2).as("view_value"))
    val batch = ev.where(col("event_type") === "click")
      .select("user_id", "event_id")
      .join(profile, Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"),
        coalesce(col("views"), lit(0L)).as("views"),
        coalesce(col("view_value"), lit(0.0)).as("view_value"))
      .orderBy("user_id", "event_id").collect()
    assert(got.toSeq === batch.toSeq)
    // cold-start rows (clicker with no view history) must survive the
    // left join, or the enrichment silently drops new users
    assert(got.nonEmpty)
  }

  test("first-seen dedup emits exactly one row per (user, event_type)") {
    val firsts = EventStreams.q31StreamFirstSeen(spark, sfDir)
    val pairs = Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"), col("event_type")))
      .collect().head.getLong(0)
    assert(firsts.count() === pairs)
    assert(firsts.groupBy("user_id", "event_type").count()
      .where(col("count") > 1).count() === 0)
  }

  test("q86 stream dedup suppresses cross-batch duplicates exactly") {
    val got = EventStreams.q86StreamDedup(spark, sfDir)
      .collect().map(_.getString(0)).toSeq
    // batch twin over the same recrawl union
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val union = docs.unionByName(
      graft.operators.CurationPipeline.snapshotB(docs))
    val want = union
      .select(md5(graft.functions.Text.normalized(col("text")))
        .as("content_md5"))
      .distinct().orderBy("content_md5")
      .collect().map(_.getString(0)).toSeq
    assert(got === want)
    // the dedup actually dropped something: the union carries every
    // unchanged doc twice plus re-added old content under new ids
    val total = union.count()
    assert(got.length < total,
      s"no duplicates suppressed (${got.length} of $total)")
    // and no content key emitted twice (append mode + state store)
    assert(got.distinct.length === got.length)
  }

  /** Land `events` as the single FILE `dir/events.parquet` — the
    * fixture layout the events glob expects: the Spark write stages to
    * a scratch dir and the part file moves into place. */
  private def landEvents(events: org.apache.spark.sql.DataFrame,
                         dir: String): Unit = {
    val staging = scratchDir("graft-events-stage-").toString
    events.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    graft.GraftSession.deleteRecursively(new java.io.File(staging))
  }

  test("a `ts` that is not TIMESTAMP(MICROS) fails loudly") {
    // events whose ts is a nanos-since-epoch long, the encoding a batch
    // read would otherwise return silently as LongType
    val nanos = Tables.events(spark, sfDir)
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    val base = scratchDir("graft-nanos-").toString
    try {
      // a runner whose landing dir receives a nanos-long file fails its
      // drain
      nanos.coalesce(1).write.parquet(s"$base/landing")
      val drain = intercept[Exception](EventStreams.runWindowedAppendToFiles(
        spark, s"$base/landing", s"$base/ck", s"$base/out"))
      val chain = Iterator.iterate[Throwable](drain)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(chain.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"), chain)
      // the batch table over the same encoding throws at build
      landEvents(nanos, base)
      val load = intercept[IllegalArgumentException](
        Tables.events(spark, base))
      assert(load.getMessage.contains(s"$base/events.parquet") &&
        load.getMessage.contains("LongType"), load.getMessage)
    } finally graft.GraftSession.deleteRecursively(new java.io.File(base))
  }

  test("q86, q90 and q133 load their inputs on the caller's session: " +
      "a warm build infers no input schema") {
    // each build clones a session for its drain; a table loaded on the
    // clone misses the caller's schema memo and pays one footer-inference
    // job (5, 10 and 31 jobs apiece when q86 and q90 loaded `documents`
    // and q133 `events` there; the counts repeat run to run)
    val budget = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, Long)](
      ("q86", EventStreams.q86StreamDedup, 4L),
      ("q90", EventStreams.q90StreamDedupBounded, 9L),
      ("q133", EventStreams.q133StreamScd2, 30L))
    budget.foreach { case (_, fn, _) => fn(spark, sfDir).count() }
    val m = graft.metrics.MetricsReport.install(spark)
    val jobs =
      try budget.map { case (q, fn, _) => q -> m.window(fn(spark, sfDir)).jobs }
      finally spark.sparkContext.removeSparkListener(m)
    val over = budget.zip(jobs).collect {
      case ((q, _, max), (_, n)) if n > max => s"$q: $n > $max" }
    assert(over.isEmpty, s"builds over budget: $over (all: $jobs)")
  }

  test("a runner started on an empty landing dir reads the " +
      "TIMESTAMP(MICROS) files that land later") {
    // the documented start order: the plan is built while the dir is
    // empty, under the one declared events schema, and every file that
    // lands later is read under it
    val dir = scratchDir("graft-empty-start-").toString
    val q = EventStreams.eventsStream(spark, dir).writeStream
      .format("memory").queryName("events_from_empty_dir")
      .outputMode("append").start()
    try {
      // the shipped fixture file itself (TIMESTAMP(MICROS), not
      // UTC-adjusted), copied beside the dir and renamed in, so the
      // running query never lists a half-written file
      val staged = java.nio.file.Paths.get(
        scratchDir("graft-empty-stage-").toString, "events.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/events.parquet"), staged)
      java.nio.file.Files.move(staged,
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      def byId(df: org.apache.spark.sql.DataFrame) = df.select("event_id", "ts")
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1)).sortBy(_._1).toSeq
      val got = byId(spark.table("events_from_empty_dir"))
      assert(got.nonEmpty, "no events read after the file landed")
      assert(got === byId(Tables.events(spark, sfDir)))
    } finally {
      q.stop()
      graft.GraftSession.deleteRecursively(new java.io.File(dir))
    }
  }

  test("q137 outer stream join: inner subset == q43; unmatched clicks emit nulls") {
    import org.apache.spark.sql.functions._
    val outer = EventStreams.q137StreamOuterJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else (r.getLong(2): java.lang.Long)))
    // watermark-driven null emission actually happened
    val unmatched = outer.filter(_._3 == null)
    assert(unmatched.nonEmpty, "no unmatched click was ever emitted")
    // matched subset must be EXACTLY the inner join (q43)
    val inner = EventStreams.q43StreamIntervalJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2): java.lang.Long))
    assert(outer.filter(_._3 != null).sortBy(t => (t._1, t._2,
        t._3.longValue)).toSeq ===
      inner.sortBy(t => (t._1, t._2, t._3.longValue)).toSeq)
    // every click appears at least once; unmatched ones exactly once
    val ev = graft.Tables.events(spark, sfDir)
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(outer.map(_._2).toSet === clicks)
    val perClick = outer.groupBy(_._2)
    unmatched.foreach { u =>
      assert(perClick(u._2).length === 1, s"unmatched click ${u._2}")
    }
  }

  test("q144 full outer stream join: matched subset == q43; both sides' " +
      "unmatched rows emit nulls") {
    val full = EventStreams.q144StreamFullOuterJoin(spark, sfDir).collect()
    // matched subset (both ids present) == the inner join q43
    val matched = full.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inner = EventStreams.q43StreamIntervalJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched === inner)
    // non-vacuity on BOTH outer sides: clicks without a view in the
    // hour AND views no click ever reached back to
    assert(full.exists(r => r.isNullAt(2) && !r.isNullAt(1)),
      "no unmatched click emitted")
    assert(full.exists(r => r.isNullAt(1) && !r.isNullAt(2)),
      "no unmatched view emitted — the right-outer half is vacuous")
    // left-rows subset (click present) == q137 exactly
    val left = full.filter(r => !r.isNullAt(1)).map(_.toSeq).toSet
    val q137 = EventStreams.q137StreamOuterJoin(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(left === q137)
  }

  test("q151 right outer stream join: matched subset == q43; unmatched " +
      "views emit null clicks; == the view-rows half of q144") {
    import org.apache.spark.sql.functions._
    val right = EventStreams.q151StreamRightOuterJoin(spark, sfDir).collect()
    // matched subset (click present) == the inner join q43
    val matched = right.filter(r => !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inner = EventStreams.q43StreamIntervalJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched === inner)
    // watermark-driven null emission actually happened
    assert(right.exists(_.isNullAt(1)), "no unmatched view emitted")
    // every view appears at least once; unmatched ones exactly once
    val views = graft.Tables.events(spark, sfDir)
      .where(col("event_type") === "view" &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(right.map(_.getLong(2)).toSet === views)
    val perView = right.groupBy(_.getLong(2))
    right.filter(_.isNullAt(1)).foreach { u =>
      assert(perView(u.getLong(2)).length === 1,
        s"unmatched view ${u.getLong(2)}")
    }
    // the view-rows half of the FULL outer (view present) == q151,
    // row for row — the matrix cells compose
    val fullViewRows = EventStreams.q144StreamFullOuterJoin(spark, sfDir)
      .collect().filter(r => !r.isNullAt(2)).map(_.toSeq).toSet
    assert(right.map(_.toSeq).toSet === fullViewRows)
  }

  test("q133 streamed SCD2 maintenance equals the q126 batch rebuild") {
    // the CDC apply must produce the SAME history as rebuilding from
    // scratch — row-for-row, schema included, after four quartile
    // micro-batches each of which closes out the previous batch's
    // current rows for every user it touches
    val streamedDf = EventStreams.q133StreamScd2(spark, sfDir)
    val batchDf = graft.operators.RelationalQueries.q126Scd2(spark, sfDir)
    assert(streamedDf.columns.toSeq === batchDf.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getString(4), r.getBoolean(5))
    }.toSeq
    val streamed = rows(streamedDf)
    assert(streamed === rows(batchDf), "streamed history != batch rebuild")
    // non-vacuous CDC: multi-version users exist, so later batches
    // actually closed out earlier current rows
    assert(streamed.count(_._6) < streamed.size,
      "every row current: no close-out ever happened")
    assert(streamed.exists(r => r._2 > 1L), "no user has version > 1")
  }
}
