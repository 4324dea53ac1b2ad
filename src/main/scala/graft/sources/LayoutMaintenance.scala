package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** LAYOUT MAINTENANCE (OPTIMIZE) — the missing lifecycle half of the
  * storage-layout story: the engine ships three write layouts (q75
  * bucketed, q82 day-partitioned, q130 z-ordered) and a refresh family
  * that lands delta APPENDS next to them; without compaction the
  * layouts rot — every appended file spans the whole key domain, so
  * min-max file skipping stops engaging (z-order), and every append
  * multiplies files per bucket (bucketed tables), inflating listing and
  * task counts. Delta/Iceberg ship `OPTIMIZE` for exactly this; these
  * two operators are that rewrite on the engine's own layouts, with the
  * invariant that matters spec-pinned: compaction changes NO row, only
  * the file arrangement (full-table equality + consumer-plan pins
  * re-run post-compact).
  *
  * Swap discipline, stated honestly: on a plain filesystem directory
  * the delete-then-move window is NON-transactional (a concurrent
  * reader can see a partial table); production storage puts the same
  * rewrite behind a transactional commit. The engine ships that commit
  * for the clustered layout: [[ManifestTable.optimize]] runs the
  * range-and-sort rewrite behind a manifest-pointer commit (one atomic
  * rename per version, old version readable until vacuum). The two
  * compactors below cover the layouts no manifest operation does, in
  * place, for catalog tables the caller owns exclusively; for those the
  * window is benign and this scaladoc is the contract.
  */
object LayoutMaintenance {

  /** files before → after, for the caller's accounting. */
  case class CompactStats(filesBefore: Int, filesAfter: Int)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(spark: SparkSession, dir: Path) =
    fsOf(spark, dir).listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))

  /** OPTIMIZE for a directory-PARTITIONED catalog table (the q82
    * shape): every append lands at least one new file inside each
    * touched partition directory; compaction bin-packs each
    * partition's files back to one, WITHOUT moving any row across
    * partitions — `repartition(|partitions|, partitionCol)` gives each
    * write task (at most a hash-collision handful of) whole
    * partitions, and the dynamic partition write emits one file per
    * (task, partition value), so the result is one file per partition.
    * The staged files then replace each partition directory's old ones
    * — partition VALUES never change, so the catalog's partition list
    * is untouched (pruning metadata stays valid; the spec re-runs
    * q82's one-directory inputFiles pin post-compact). */
  def compactPartitioned(spark: SparkSession, table: String,
                         partitionCol: String): CompactStats = {
    val warehouse = new Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = fsOf(spark, warehouse)
    def partDirs(root: Path) = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory &&
        d.getPath.getName.startsWith(partitionCol + "="))
    def fileCount(root: Path) =
      partDirs(root).map(d => dataFiles(spark, d.getPath).size).sum
    val before = fileCount(warehouse)
    val nParts = partDirs(warehouse).size
    val staging = new Path(warehouse.toString + "__optimize_staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    spark.table(table)
      .repartition(nParts, col(partitionCol))
      .write.partitionBy(partitionCol).parquet(staging.toString)
    // swap per partition directory (see object scaladoc for the
    // transactionality contract)
    partDirs(staging).foreach { sd =>
      val target = new Path(warehouse, sd.getPath.getName)
      dataFiles(spark, target).foreach(f => fs.delete(f.getPath, false))
      dataFiles(spark, sd.getPath).foreach(f =>
        fs.rename(f.getPath, new Path(target, f.getPath.getName)))
    }
    fs.delete(staging, true)
    spark.catalog.refreshTable(table)
    CompactStats(before, fileCount(warehouse))
  }

  /** OPTIMIZE for a BUCKETED catalog table (the q75 shape): rewrite
    * with the SAME bucket spec, `repartition(buckets, bucketCol)` first
    * so each write task holds exactly one bucket (Spark's bucket id and
    * `repartition`'s hash partitioning are the same
    * murmur3-pmod-buckets function) — one file per bucket afterwards,
    * however many appends came before. The bucket spec is what
    * downstream joins key their exchange-freeness on, so preserving it
    * IS the contract (spec re-runs the q75 no-exchange pin
    * post-compact). `localCheckpoint` pins the rows before the
    * overwrite drops the files they came from — the plain-filesystem
    * stand-in for the staging-table-plus-catalog-swap a production
    * catalog does. */
  def compactBucketed(spark: SparkSession, table: String, bucketCol: String,
                      buckets: Int): CompactStats = {
    val warehouse = new Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val before = dataFiles(spark, warehouse).size
    val pinned = spark.table(table).localCheckpoint()
    pinned.repartition(buckets, col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
    CompactStats(before, dataFiles(spark, warehouse).size)
  }
}
