package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Artifacts, GraftSession, Tables}

/** CSV / JSON / ORC / gzip-CSV source support (S7 breadth — the
  * reference reads only
  * newline-delimited text, reference job.c:103-156; a Spark user's first
  * act is `spark.read.csv`).
  *
  * Both readers take an EXPLICIT schema: schema inference is a full extra
  * pass over the data plus a type guess — at 100 TB neither is acceptable,
  * so production reads always declare. The q58/q59 queries prove the
  * round-trip: parquet table → formatted files → schema'd read →
  * aggregate, hash-checked by the DuckDB oracle against the original
  * parquet (any write- or parse-side loss breaks the hash).
  */
object DelimitedSources {

  /** Schema'd CSV read. `multiLine` (default OFF) is the embedded-newline
    * knob, and it is a genuine scale tradeoff, so the caller must choose:
    * OFF, Spark splits files at line boundaries and a 100 TB input
    * parallelizes per-block — but a quoted field containing a newline is
    * CORRUPTED (split mid-record); ON, quoted newlines parse correctly
    * but each file becomes one task (the parser must see the whole file),
    * so inputs must arrive as many files. Quote and escape are set
    * EXPLICITLY to the values Spark's CSV writer uses (`"` quote, `\`
    * escape), so the q58 round-trip is parse-exact and a writer/reader
    * dialect drift can't corrupt quoted fields silently. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("quote", "\"").option("escape", "\\")
      .option("multiLine", multiLine)
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Staged paths already rendered this session — the Artifacts
    * discipline applied to the text renders: before this, every
    * q58/q59 call re-ran the coalesce(1) write, and the FIXED shared
    * tmp path meant two concurrent JVMs could interleave one's
    * overwrite-delete with the other's read. Each render lands in its
    * own fresh temp dir, so cross-JVM (and cross-session) runs never
    * collide and a lost race never tears a read. */
  private val staged = new Artifacts.Memo[String]

  /** Render a test table as csv/json ONCE per (session, table, dir) —
    * small dims, one file. */
  private def stage(spark: SparkSession, sfDir: String,
                    table: String, fmt: String): String =
    staged(spark, sfDir, s"${fmt}_$table") {
      // staged renders are JVM-lifetime temp state, so they get the
      // same shutdown discipline as the warehouse dir — an
      // unregistered temp dir would accumulate under /tmp (often
      // tmpfs) across repeated JVM runs; a lost race's render is swept
      // by its own hook, so the winner's files are never deleted early
      val tmpDir = java.nio.file.Files.createTempDirectory("graft-sources-")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        GraftSession.deleteRecursively(tmpDir.toFile)))
      val out = tmpDir.toString + "/" +
        Artifacts.nameOf(spark, sfDir, s"${fmt}_${table}_")
      val w = Tables.load(spark, sfDir, table).coalesce(1)
        .write.mode("overwrite")
      fmt match {
        case "csv"   => w.option("header", "true").csv(out)
        case "csvgz" => w.option("header", "true")
          .option("compression", "gzip").csv(out)
        case "json"  => w.json(out)
        case "orc"   => w.orc(out)
      }
      out
    }

  /** Q58: CSV round-trip — nation rendered to CSV, read back with the
    * parquet schema, aggregated per region. */
  def q58CsvSource(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = Tables.nation(spark, sfDir).schema
    readCsv(spark, stage(spark, sfDir, "nation", "csv"), schema)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("nations"), min(col("n_name")).as("first_name"))
      .orderBy("n_regionkey")
  }

  /** Q103: ORC round-trip — customer rendered to ORC (the OTHER columnar
    * container a lakehouse inherits; Spark's native vectorized ORC
    * reader, not the Hive SerDe path), read back and aggregated per
    * market segment. Unlike the text formats there is no dialect to pin
    * — the value under test is that column pruning and predicate
    * pushdown survive the container switch (the q103 plan spec asserts
    * the ORC scan reads only the two referenced columns), and that the
    * double-typed c_acctbal round-trips bit-exactly through ORC's
    * binary encoding. */
  def q103OrcSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.orc(stage(spark, sfDir, "customer", "orc"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy("c_mktsegment")

  /** Test hook: the staged render path for a (table, fmt) — lets the
    * q108 spec open the raw staged file to pin partition planning. */
  private[graft] def stagedPathForTest(spark: SparkSession, sfDir: String,
      table: String, fmt: String): String = stage(spark, sfDir, table, fmt)

  /** Q108: gzip-compressed CSV round-trip — the compressed-ingest path
    * every real landing zone has. The reader detects the codec from the
    * `.gz` extension; the schema'd parse and the q58 dialect pinning
    * apply unchanged. The 100 TB caveat is SPLITTABILITY, not parsing:
    * gzip streams cannot be split, so each file is ONE task end-to-end
    * — a compressed corpus must arrive as many files (or a splittable
    * codec) or the cluster idles behind single readers. This fixture
    * stages one file; the q108 plan spec pins that Spark still planned
    * it (single non-split partition) and that values survived the
    * compress/decompress round-trip bit-exactly (oracle reads the
    * original parquet). */
  def q108GzipSource(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = Tables.orders(spark, sfDir).schema
    readCsv(spark, stage(spark, sfDir, "orders", "csvgz"), schema)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** Q59: JSON round-trip — supplier rendered to JSON lines, read back
    * with the parquet schema, aggregated per nation (the double-typed
    * s_acctbal survives the text round-trip because Spark writes the
    * shortest exact decimal repr). */
  def q59JsonSource(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = Tables.supplier(spark, sfDir).schema
    readJson(spark, stage(spark, sfDir, "supplier", "json"), schema)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("suppliers"),
        round(sum(col("s_acctbal")), 2).as("total_bal"))
      .orderBy("s_nationkey")
  }
}
