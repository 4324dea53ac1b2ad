package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Layout compaction (OPTIMIZE) — the rewrite must change the FILE
  * arrangement and nothing else: full-table row equality pre/post, the
  * consumer-plan properties the layouts exist for (q82's one-directory
  * pruned scan, q75's exchange-free bucketed join) re-asserted
  * POST-compact, and the file count actually dropping. The clustered
  * layout's compaction is `ManifestTable.optimize`, pinned in
  * ManifestTableSpec. */
class LayoutMaintenanceSpec extends SparkSpec {

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
}
