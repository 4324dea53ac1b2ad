package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Table registry over the driver-provided parquet test data (TESTDATA.md).
  *
  * At 100 TB these would be bucketed/partitioned catalog tables; reads stay
  * declarative (`spark.read.parquet`) so Catalyst gets predicate pushdown,
  * column pruning and partition pruning for free on every query built on top.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Each table's schema, inferred once per (session, [[dirKey]] of its
    * dir): inference reads a parquet footer in a one-task Spark job
    * (~42 ms a load on a 4-core box), a read under a declared schema
    * only lists the files (~4 ms). A rewritten file re-keys the dir, so
    * the next load infers again; with `spark.graft.dirFingerprint=false`
    * the key is the path alone and a rewritten table keeps its memoised
    * schema — the immutable-snapshot contract that flag declares. */
  private val schemas = new Artifacts.Memo[StructType]

  /** `<sfDir>/<name>.parquet` under its memoised schema. A missing table
    * fails here, at build, with the inference's `AnalysisException`. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemas(spark, sfDir, name)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** A scale dir rendered as a safe identifier fragment for artifact
    * names (signature tables, staged source dirs). Sanitization alone can
    * alias two dirs that differ only in punctuation (sf0.1 vs sf0_1), so
    * a hash of the RAW path is appended — distinct dirs can never share
    * an artifact — and a CONTENT FINGERPRINT of the dir listing (every
    * file's path + length + mtime, hashed) is folded in, so a dir whose
    * files are rewritten mid-session gets a NEW key and every artifact /
    * staged render keyed on it rebuilds instead of silently serving
    * stale rows (ArtifactsSpec pins it; per-file metadata, not
    * aggregates, so even a same-size same-mtime file SWAP re-keys as
    * long as any path differs — parquet part names are write-unique).
    * The fingerprint is one recursive listing — metadata only, no data
    * read — per artifact-name derivation, i.e. per plan build: 0.26 ms
    * on a 23-file input dir on a 4-core box. It walks `listStatus`, not
    * `listFiles`: a `LocatedFileStatus` copies each file's permission,
    * and Hadoop's local FS without libhadoop forks a `stat` per file to
    * read one — 35 ms a call on the same dir. On an object store holding
    * millions of files, set `spark.graft.dirFingerprint=false` and use
    * immutable versioned snapshot paths instead (the production layout:
    * a new crawl lands under a NEW path, so the path hash alone is the
    * content key and the listing buys nothing). A listing failure (dir
    * not yet present) degrades to the path-only key rather than failing
    * the read that will surface the real error. */
  def dirKey(spark: SparkSession, sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sfDir)) +
      dirFingerprint(spark, sfDir).fold("")("_" + _)

  /** Hash of the dir's recursive (path, length, mtime) listing; None if
    * the dir can't be listed or fingerprinting is disabled
    * (`spark.graft.dirFingerprint=false` for immutable snapshot dirs).
    * The walk visits exactly the files `fs.listFiles(p, true)` yields —
    * `.crc` side files are filtered by the local FS either way — so the
    * hashed entries, and every key derived from them, are the ones
    * that form produced (TablesSpec restates it). */
  private def dirFingerprint(spark: SparkSession,
                             sfDir: String): Option[String] =
    if (spark.conf.get("spark.graft.dirFingerprint", "true") == "false") None
    else scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(sfDir)
      // the SESSION's Hadoop conf, not a bare new Configuration():
      // object-store credentials/endpoints arrive via spark.hadoop.*,
      // and without them the listing throws and the fingerprint would
      // silently degrade to the path-only key on exactly the fs that
      // needs it
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(dir: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(dir).foreach { st =>
          if (st.isFile) entries +=
            s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
          else walk(st.getPath)
        }
      walk(p)
      Integer.toHexString(scala.util.hashing.MurmurHash3
        .orderedHash(entries.sortInPlace()))
    }.toOption

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events`, whose `ts` must be TIMESTAMP(MICROS) — the one encoding
    * every shipped input writes (FIXTURES.md) — read as a session-TZ
    * `TimestampType` (GraftSession pins LTZ inference). Any other
    * encoding fails here, at build: TIMESTAMP(NANOS) in the schema
    * inference, a nanos-since-epoch long — which a batch read returns
    * silently as `LongType` — in the `require`. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    val ts = df.schema("ts").dataType
    require(ts == TimestampType,
      s"$d/events.parquet: ts reads as $ts, not TimestampType " +
        "(events.ts must be parquet TIMESTAMP(MICROS))")
    df
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
