package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-19 optimization pin: commit-time per-file stats now come from
  * the parquet FOOTERS of the just-written files (zero Spark jobs)
  * instead of a re-read aggregate pass. The footer values must be
  * BIT-IDENTICAL to the old `min(cast(k as long)) / max(...) /
  * count(*)` aggregates for every admitted stat shape — this spec
  * recomputes the aggregates per staged file and compares them to the
  * committed manifest lines, across: negative longs, ints, all-null
  * and partly-null columns, and TIMESTAMP(MICROS) (whose footer
  * min/max must equal `unix_micros` aggregates). The loud rejection
  * of non-integral stat columns must also survive. */
class ManifestFooterStatsSpec extends SparkSpec {

  private def freshRoot(): String =
    scratchDir("graft-fstats").toString +
      "/tbl"

  private def manifestEntries(root: String, v: Int): Seq[Array[String]] = {
    val p = new Path(root, f"_manifests/v$v%08d.manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in).mkString
      finally in.close()
    text.split("\n").toSeq.filterNot(_.startsWith("#"))
      .filter(_.nonEmpty).map(_.split('\t'))
  }

  test("footer-derived manifest stats equal the aggregate truth per " +
      "file: bounds, extra stats, timestamp micros, null columns, " +
      "row counts") {
    val root = freshRoot()
    import spark.implicits._
    val df = (-500L to 499L).map { k =>
      (k,
        (k % 97).toInt,
        if (k % 3 == 0) None else Some(k * 7),
        Option.empty[Long],
        new java.sql.Timestamp(1700000000000L + k * 1000L),
        (k % 5).toByte)
    }.toDF("k", "i", "pn", "alln", "t", "b")
    val v = ManifestTable.overwrite(spark, root, df.repartition(3),
      boundsCol = Some("k"), statsCols = Seq("i", "pn", "alln", "t", "b"))
    val entries = manifestEntries(root, v)
    assert(entries.nonEmpty)
    entries.foreach { f =>
      // line: rel lo hi rows bytes [loI hiI loPn hiPn loAn hiAn loT hiT loB hiB]
      assert(f.length === 5 + 2 * 5, f.mkString("|"))
      val rel = f(0)
      val one = spark.read.parquet(new Path(root, rel).toString)
      val r = one.agg(
        min(col("k").cast("long")), max(col("k").cast("long")),
        count(lit(1)),
        min(col("i").cast("long")), max(col("i").cast("long")),
        min(col("pn").cast("long")), max(col("pn").cast("long")),
        min(col("alln").cast("long")), max(col("alln").cast("long")),
        min(unix_micros(col("t"))), max(unix_micros(col("t"))),
        min(col("b").cast("long")), max(col("b").cast("long")))
        .collect()(0)
      assert(f(1).toLong === r.getLong(0), s"$rel lo(k)")
      assert(f(2).toLong === r.getLong(1), s"$rel hi(k)")
      assert(f(3).toLong === r.getLong(2), s"$rel rows")
      assert(f(5).toLong === r.getLong(3), s"$rel lo(i)")
      assert(f(6).toLong === r.getLong(4), s"$rel hi(i)")
      assert(f(7).toLong === r.getLong(5), s"$rel lo(pn)")
      assert(f(8).toLong === r.getLong(6), s"$rel hi(pn)")
      // all-null column: no bounds, exactly like the old aggregates
      assert(f(9) === "-" && f(10) === "-", s"$rel alln bounds")
      assert(f(11).toLong === r.getLong(9), s"$rel lo(t micros)")
      assert(f(12).toLong === r.getLong(10), s"$rel hi(t micros)")
      assert(f(13).toLong === r.getLong(11), s"$rel lo(b)")
      assert(f(14).toLong === r.getLong(12), s"$rel hi(b)")
    }
    // and the stats actually PRUNE: a bounded read over a sub-range
    // returns exactly the aggregate-truth rows
    val got = ManifestTable.readWhereKeyBetween(spark, root, "k", -10, 10)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (-10L to 10L).toSeq)
  }

  test("non-integral stats columns still reject loudly") {
    val root = freshRoot()
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.overwrite(spark, root, df, statsCols = Seq("s"))
    }
    assert(e.getMessage.contains("must be integral or timestamp"))
  }
}
