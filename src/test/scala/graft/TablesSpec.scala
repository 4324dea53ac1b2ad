package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, SparkSession}

import graft.metrics.MetricsReport

/** The input-table registry's metadata contracts: the dir fingerprint
  * every artifact name and memo key folds in, and the per-session
  * schema memo under which [[Tables.load]] reads a table. */
class TablesSpec extends SparkSpec {

  private def jobs(body: => Any): Long = {
    val m = MetricsReport.install(spark)
    try m.window(body).jobs
    finally spark.sparkContext.removeSparkListener(m)
  }

  /** [[Tables.dirKey]] in the form the `listStatus` walk replaced,
    * restated so the parity stays executable: the dir's fingerprint
    * from one recursive `listFiles` iterator over the same (path,
    * length, mtime) entries. */
  private def listFilesDirKey(s: SparkSession, dir: String): String = {
    val fingerprint = scala.util.Try {
      val p = new Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        entries +=
          s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
      }
      Integer.toHexString(scala.util.hashing.MurmurHash3
        .orderedHash(entries.sortInPlace()))
    }.toOption
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir)) +
      fingerprint.fold("")("_" + _)
  }

  test("dirKey's listStatus walk keys exactly as the listFiles form did") {
    import spark.implicits._
    val dir = scratchDir("graft-tables-fp-").toString
    try {
      // a flat table and a partitioned one nested two levels deep: the
      // writes leave `_SUCCESS` markers and `.crc` side files
      (0 until 20).map(i => (i.toLong, s"t$i")).toDF("id", "text")
        .repartition(3).write.parquet(s"$dir/documents.parquet")
      (0 until 20).map(i => (i.toLong, i % 2, i % 3)).toDF("id", "a", "b")
        .write.partitionBy("a", "b").parquet(s"$dir/nested/events.parquet")
      def names(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(names)
        else Seq(f.getName)
      val onDisk = names(new java.io.File(dir))
      assert(onDisk.exists(_.endsWith(".crc")) &&
        onDisk.contains("_SUCCESS"), s"fixture lacks .crc/_SUCCESS: $onDisk")
      assert(Tables.dirKey(spark, dir) === listFilesDirKey(spark, dir))
      // a single file is its own one-entry listing either way
      val file = new java.io.File(s"$dir/documents.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
      assert(Tables.dirKey(spark, file) === listFilesDirKey(spark, file))
      // a dir that does not exist keys by its path alone either way
      val absent = s"$dir/absent"
      assert(Tables.dirKey(spark, absent) === listFilesDirKey(spark, absent))
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("a second load of one table runs no Spark job") {
    import spark.implicits._
    val dir = scratchDir("graft-tables-memo-").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "text")
        .write.parquet(s"$dir/documents.parquet")
      // the first load infers the schema from a footer in a Spark job
      assert(jobs(Tables.load(spark, dir, "documents")) >= 1)
      assert(jobs(Tables.load(spark, dir, "documents")) === 0)
      assert(Tables.documents(spark, dir).as[(Long, String)].collect()
        .sorted.toSeq === Seq((1L, "a"), (2L, "b")))
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("a rewritten table reads with its new columns") {
    import spark.implicits._
    val dir = scratchDir("graft-tables-evolve-").toString
    try {
      Seq((1L, "a")).toDF("id", "text").coalesce(1)
        .write.parquet(s"$dir/documents.parquet")
      assert(Tables.load(spark, dir, "documents").columns.toSeq ===
        Seq("id", "text"))
      Seq((1L, "a", 3L)).toDF("id", "text", "n_chars").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val df = Tables.load(spark, dir, "documents")
      assert(df.columns.toSeq === Seq("id", "text", "n_chars"))
      assert(df.select("n_chars").as[Long].collect().toSeq === Seq(3L))
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }

  test("a missing table fails at build; once written, it loads") {
    import spark.implicits._
    val dir = scratchDir("graft-tables-missing-").toString
    try {
      val e = intercept[AnalysisException](Tables.load(spark, dir, "orders"))
      assert(e.getMessage.contains("orders.parquet"))
      Seq(7L).toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
      assert(Tables.orders(spark, dir).as[Long].collect().toSeq === Seq(7L))
    } finally GraftSession.deleteRecursively(new java.io.File(dir))
  }
}
