package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}

/** Date-PARTITIONED table layout for the events pipeline — the other
  * half of the storage-layout story next to q75's bucketed handoff:
  * bucketing buys exchange-free joins; directory partitioning buys
  * predicate-pruned scans. A daily events table at 100 TB is read
  * almost exclusively with a date predicate, and the partition layout
  * turns that predicate into "list one directory" instead of "scan a
  * year of parquet" — the scan never even LISTS the other partitions.
  *
  * The reference engine's closest notion is its fixed input-file
  * manifest (reference job.c:76-130, one flat list); partition pruning
  * is the extension that makes the manifest a function of the query.
  */
object PartitionedSink {

  private val DailyPrefix = "graft_events_daily_"

  def eventsDailyName(spark: SparkSession, sfDir: String): String =
    Artifacts.nameOf(spark, sfDir, DailyPrefix)

  /** The events table written PARTITIONED BY day — materialized once
    * per (session, scale dir) like every artifact, so consumers (q82,
    * ad-hoc date-range queries) read the layout, never rebuild it. */
  def eventsDaily(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.materializePartitioned(spark, sfDir, DailyPrefix, "day") {
      Tables.events(spark, sfDir).withColumn("day", to_date(col("ts")))
    }

  /** Q82: PARTITION-PRUNED scan over the daily events table — per-type
    * counts and value sums for the FIRST day. The day is chosen from
    * `SHOW PARTITIONS` — a catalog-metadata listing, no data read — and
    * lands in the plan as a literal, so pruning is static: the scan's
    * PartitionFilters keeps exactly one directory (spec-pinned via
    * inputFiles). At 100 TB this is the difference between reading one
    * day and reading the table; the same literal-predicate shape serves
    * any dashboard/backfill window. */
  def q82PartitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val t = eventsDaily(spark, sfDir) // ensure the table exists
    val firstDay = spark.sql(s"SHOW PARTITIONS ${eventsDailyName(spark, sfDir)}")
      .collect().map(_.getString(0).stripPrefix("day=")).min
    t.where(col("day") === lit(java.sql.Date.valueOf(firstDay)))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }
}
