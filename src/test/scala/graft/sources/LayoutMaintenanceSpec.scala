package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Layout compaction (OPTIMIZE) — the rewrite must change the FILE
  * arrangement and nothing else: full-table row equality pre/post, the
  * consumer-plan properties the layouts exist for (q130's rectangle
  * pruning, q75's exchange-free bucketed join) re-asserted POST-compact,
  * and the file count actually dropping. */
class LayoutMaintenanceSpec extends SparkSpec {

  /** rows the scans actually produced (file skipping shows up here). */
  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      Seq(p) ++ below.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec =>
        s.metrics("numOutputRows").value }.sum
  }

  test("clustered OPTIMIZE: delta appends rot the z-layout's pruning; " +
      "compaction restores it without changing a row") {
    // sf0.01 so file stats have granularity (the q130 pin's scale)
    val dir10 = "/root/testdata/sf0.01"
    val z = ZOrderLayout.zEvents(spark, dir10)
    val lay = scratchDir("graft-optimize").toString + "/zlay"
    // spec-owned copy of the layout: clustered base (75% of rows) ...
    z.where(col("event_id") % 4 =!= 0)
      .repartitionByRange(64, col("zv")).sortWithinPartitions("zv")
      .write.parquet(lay)
    // ... plus twelve refresh-style delta appends (the remaining 25%,
    // an accumulated backlog), each ONE small file spanning the whole
    // key domain — exactly what rots min-max skipping
    for (i <- 0 until 12)
      z.where(col("event_id") % 48 === i * 4)
        .repartition(1).write.mode("append").parquet(lay)
    val (uHi, tLo, tHi) = ZOrderLayout.rectangleOf(spark, dir10)
    def rect() = spark.read.parquet(lay).where(
      col("user_id") >= 0L && col("user_id") <= uHi &&
        col("ts") >= lit(ZOrderLayout.tsOfMicros(tLo)) &&
        col("ts") <= lit(ZOrderLayout.tsOfMicros(tHi)))
    def content() = spark.read.parquet(lay)
      .select("event_id", "user_id", "event_type", "zv").collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val rowsBefore = content()
    val rectBefore = rect().select("event_id").collect()
      .map(_.getLong(0)).toSet
    val scanBefore = scanRows(rect())
    val stats = LayoutMaintenance
      .compactClustered(spark, lay, "zv", targetFiles = 64)
    // (b) file count drops: 64 base + 12 deltas -> 64
    assert(stats.filesBefore === 76 && stats.filesAfter === 64, stats)
    // (c) full-table content identical, row for row
    assert(content() === rowsBefore)
    assert(rect().select("event_id").collect().map(_.getLong(0)).toSet
      === rectBefore)
    // (a) the consumer pin, post-compact: pushed filters still reach
    // the scan, and the rectangle scan reads a FRACTION of the rows the
    // rotten layout read (each delta file matched every rectangle)
    val plan = rect().queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(3000))
    val scanAfter = scanRows(rect())
    assert(scanAfter * 2 <= scanBefore,
      s"compaction did not restore pruning: before=$scanBefore after=$scanAfter")
    val nAll = spark.read.parquet(lay).count()
    assert(scanAfter <= nAll / 4,
      s"compacted layout read $scanAfter of $nAll rows")
  }

  test("partitioned OPTIMIZE: one file per day partition after appends; " +
      "partition pruning pin re-run post-compact; rows identical") {
    val name = "graft_compact_spec_partitioned"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val daily = graft.Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .select("event_id", "user_id", "event_type", "value", "day")
    // base write + two appends: each append adds >= 1 file to every
    // partition directory it touches
    daily.where(col("event_id") % 3 === 0)
      .repartition(1).write.partitionBy("day").saveAsTable(name)
    for (r <- Seq(1, 2))
      daily.where(col("event_id") % 3 === r)
        .repartition(1).write.mode("append").partitionBy("day")
        .saveAsTable(name)
    val nDays = spark.table(name).select("day").distinct().count().toInt
    def rows() = spark.table(name).collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long])
    def firstDayScan() = {
      val d = spark.sql(s"SHOW PARTITIONS $name")
        .collect().map(_.getString(0).stripPrefix("day=")).min
      spark.table(name)
        .where(col("day") === lit(java.sql.Date.valueOf(d)))
    }
    val rowsBefore = rows()
    val firstBefore = firstDayScan()
    val idsBefore = firstBefore.select("event_id").collect()
      .map(_.getLong(0)).toSet
    // pruning already lists ONE directory — but it holds 3 files
    assert(firstBefore.inputFiles.length === 3,
      firstBefore.inputFiles.mkString(", "))
    try {
      val stats = LayoutMaintenance.compactPartitioned(spark, name, "day")
      assert(stats.filesBefore === 3 * nDays && stats.filesAfter === nDays,
        s"$stats (days=$nDays)")
      assert(rows() === rowsBefore)
      // q82's pin, post-compact: the pruned scan reads exactly ONE
      // file of one directory, same answer
      val firstAfter = firstDayScan()
      assert(firstAfter.inputFiles.length === 1,
        firstAfter.inputFiles.mkString(", "))
      assert(firstAfter.select("event_id").collect()
        .map(_.getLong(0)).toSet === idsBefore)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("bucketed OPTIMIZE: appends multiply files per bucket; compaction " +
      "bin-packs to one per bucket with the join still exchange-free") {
    val name = "graft_compact_spec_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val feats = graft.operators.TextQueries.docFeatures(spark, sfDir)
      .select("doc_id", "token_cnt", "quality")
    // base write + two refresh-style appends, all on the SAME bucket
    // spec (the legal append path for a bucketed table — each lands a
    // new file per bucket per write)
    feats.where(col("doc_id") % 3 === 0).write
      .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(name)
    for (r <- Seq(1, 2))
      feats.where(col("doc_id") % 3 === r).write.mode("append")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(name)
    def consumer() = spark.table(name)
      .join(feats.select(col("doc_id"), col("quality").as("q2")),
        Seq("doc_id"))
      .select("doc_id", "token_cnt", "q2")
    def rows() = spark.table(name).collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long])
    val rowsBefore = rows()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the exchange-free property holds pre-compact (bucket spec is
      // what consumers key on) ...
      val pre = consumer()
      pre.collect()
      assert(!pre.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
      val stats = LayoutMaintenance.compactBucketed(spark, name, "doc_id", 8)
      // files: >= 3 per populated bucket before, exactly 8 after
      assert(stats.filesBefore > 8 && stats.filesAfter === 8, stats)
      // ... and STILL holds post-compact, on identical rows
      assert(rows() === rowsBefore)
      val post = consumer()
      post.collect()
      val plan = post.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"compaction broke the bucket co-location:\n${plan.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("catalog-dir OPTIMIZE and manifest OPTIMIZE are equivalent: same " +
      "rows, same file count — the manifest variant adds the commit") {
    // the same rotted layout (clustered base + key-domain-spanning
    // delta appends) compacted both ways must converge to the same
    // table; only the swap mechanics differ (staging-dir swap vs one
    // manifest rename with history)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val base = docs.where(col("doc_id") % 4 =!= 0)
      .repartitionByRange(6, col("doc_id")).sortWithinPartitions("doc_id")
    val dir = scratchDir("graft-eqopt").toString + "/lay"
    base.write.parquet(dir)
    val mroot = scratchDir("graft-eqopt").toString + "/tbl"
    ManifestTable.overwrite(spark, mroot, base, boundsCol = Some("doc_id"))
    for (i <- 0 until 3) {
      val delta = docs.where(col("doc_id") % 12 === i * 4).repartition(1)
      delta.write.mode("append").parquet(dir)
      ManifestTable.append(spark, mroot, delta, boundsCol = Some("doc_id"))
    }
    val dirStats = LayoutMaintenance
      .compactClustered(spark, dir, "doc_id", targetFiles = 6)
    val (_, mBefore, mAfter) =
      ManifestTable.optimize(spark, mroot, "doc_id", targetFiles = 6)
    assert(dirStats.filesBefore === mBefore &&
      dirStats.filesAfter === mAfter && mAfter === 6,
      s"$dirStats vs ($mBefore, $mAfter)")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "text").collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(sorted(spark.read.parquet(dir)) ===
      sorted(ManifestTable.read(spark, mroot)))
  }
}
