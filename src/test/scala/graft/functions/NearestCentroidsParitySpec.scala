package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.SimilarityQueries

/** Differential spec for [[NearestCentroids]]: the ranked cell ids must
  * be BIT-IDENTICAL to the per-centroid column formulation it replaced
  * (one `csim_<cell>` cosine column per centroid, a `greatest` plus a
  * first-`===`-match `when` fold for the argmax, and for probe i > 1 the
  * already-chosen cells masked to the -2.0 sentinel) — on the real
  * corpus under the init and k-means codebooks, and on adversarial
  * literals (duplicate centroids, NaN cosines, ±0.0, null and
  * mismatched vectors). The old shape is restated here verbatim so it
  * stays executable evidence, not a memory. */
class NearestCentroidsParitySpec extends SparkSpec {
  import spark.implicits._

  /** The old formulation's single projection: `csim_<cell>` per centroid. */
  private def withSims(df: DataFrame, cents: Seq[(Long, Seq[Double])],
                       vcol: String): DataFrame =
    df.select(col("*") +: cents.map { case (c, cv) =>
      Vectors.cosine(col(vcol), typedlit(cv)).as(s"csim_$c") }: _*)

  /** The old argmax fold in ascending cell order (ties → smallest id). */
  private def argmaxCell(cellIds: Seq[Long], best: Column,
                         ok: Long => Column = _ => lit(true)): Column =
    cellIds.foldRight(lit(-1L): Column) { (c, rest) =>
      when(col(s"csim_$c") === best && ok(c), lit(c)).otherwise(rest) }

  /** The old `assignCells` cell column, as `old`. */
  private def oldAssign(df: DataFrame,
                        cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val cellIds = cents.map(_._1).sorted
    withSims(df, cents, "v").withColumn("old",
      argmaxCell(cellIds, greatest(cellIds.map(c => col(s"csim_$c")): _*)))
  }

  /** The old `probeCells` probe columns, before the explode, as the
    * ranked array `old`. */
  private def oldProbes(df: DataFrame, cents: Seq[(Long, Seq[Double])],
                        nProbe: Int): DataFrame = {
    val cellIds = cents.map(_._1).sorted
    val probeCols = (1 to nProbe).map(i => s"probe_$i")
    val withChosen = (1 to nProbe).foldLeft(withSims(df, cents, "v")) {
      (d, i) =>
        val chosen = (1 until i).map(j => col(s"probe_$j"))
        val masked = (c: Long) => chosen.foldLeft(col(s"csim_$c")) {
          (s, prev) => when(lit(c) === prev, lit(-2.0)).otherwise(s) }
        val notChosen = (c: Long) => chosen.foldLeft(lit(true): Column) {
          (b, prev) => b && lit(c) =!= prev }
        d.withColumn(s"probe_$i",
          argmaxCell(cellIds, greatest(cellIds.map(masked): _*), notChosen))
    }
    withChosen.withColumn("old", array(probeCols.map(col): _*))
  }

  /** The old formulation outgrows the JVM's 64 KB method limit inside a
    * whole-stage codegen span (k=64, or several masked probes) — the
    * defect the native expression removes. Its twin here therefore runs
    * with whole-stage codegen off; the shared session's
    * fallback-is-an-error setting stays untouched. */
  private def outsideWholeStage[T](body: => T): T = {
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  private def corpus: DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))

  private def byId(df: DataFrame, c: String): Map[Long, Seq[Long]] =
    df.select(col("vec_id"), col(c)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Ranked ids per vector, old fold vs native, for nProbe 1..maxProbe;
    * nProbe 1 also checks the shipped `assignCells` column. */
  private def assertParity(df: DataFrame, cents: Seq[(Long, Seq[Double])],
                           maxProbe: Int): Unit = {
    val oldCells = outsideWholeStage(
      oldAssign(df, cents).select(col("vec_id"), col("old")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val newCells = SimilarityQueries.assignCells(df, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(newCells === oldCells, s"assignCells drifted at k=${cents.size}")
    (1 to maxProbe).foreach { n =>
      val old = outsideWholeStage(byId(oldProbes(df, cents, n), "old"))
      val got = byId(df.withColumn("nc",
        Vectors.nearestCentroids(col("v"), cents, n)), "nc")
      assert(got === old, s"probes drifted at k=${cents.size}, nProbe=$n")
    }
  }

  test("k=16: init and k-means codebooks, nProbe 1-3, identical to the fold") {
    assertParity(corpus, SimilarityQueries.codebook(spark, sfDir), 3)
    assertParity(corpus, SimilarityQueries.kmeansCodebook(spark, sfDir), 3)
  }

  test("k=64: init and k-means codebooks, nProbe 1, identical to the fold") {
    assertParity(corpus, SimilarityQueries.codebookAt(spark, sfDir, 64), 1)
    assertParity(corpus,
      SimilarityQueries.kmeansCodebookAt(spark, sfDir, 64), 1)
  }

  private val a = Seq(0.6, -0.8, 0.0)
  private val b = Seq(0.0, 1.0, 0.5)
  private val c = Seq(-1.0, 0.25, 2.0)

  /** Literal vectors vs literal centroids, all ranks: native vs fold. */
  private def ranked(vs: Seq[Seq[Double]],
                     cents: Seq[(Long, Seq[Double])]): Seq[Seq[Long]] = {
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")
    val got = byId(df.withColumn("nc",
      Vectors.nearestCentroids(col("v"), cents, cents.size)), "nc")
    assert(got === outsideWholeStage(
      byId(oldProbes(df, cents, cents.size), "old")))
    vs.indices.map(i => got(i.toLong))
  }

  test("duplicate centroids: the tie goes to the smallest id") {
    // cells 3 and 9 hold the same vector; ids arrive unsorted
    val cents = Seq(9L -> a, 5L -> b, 3L -> a, 7L -> c)
    assert(ranked(Seq(a), cents).head.take(2) === Seq(3L, 9L))
  }

  test("all-zero vectors and centroids: NaN cosines rank largest") {
    val zero = Seq(0.0, 0.0, 0.0)
    // every cosine of a zero vector is NaN: all tie, ids ascend
    assert(ranked(Seq(zero), Seq(4L -> c, 1L -> a, 2L -> b)).head ===
      Seq(1L, 2L, 4L))
    // a zero centroid's NaN outranks even the exact match, as greatest did
    assert(ranked(Seq(a), Seq(4L -> c, 1L -> a, 2L -> b, 7L -> zero)).head ===
      Seq(7L, 1L, 4L, 2L))
  }

  test("±0.0 components: zero similarities tie to the smallest id") {
    // the dot sum starts at +0.0, so no similarity comes out as -0.0;
    // signed-zero components must still leave every zero cosine tied
    val v = Seq(-0.0, 0.0, 1.0)
    val cents = Seq(6L -> Seq(1.0, -0.0, 0.0), 2L -> Seq(-0.0, 1.0, -0.0),
      8L -> Seq(0.0, 0.0, -1.0))
    assert(ranked(Seq(v), cents).head === Seq(2L, 6L, 8L))
  }

  test("a null vector: null cell, no probe, joins no cell") {
    val cents = Seq(0L -> a, 1L -> b)
    val df = Seq((0L, Some(a)), (1L, None)).toDF("vec_id", "v")
    val cells = SimilarityQueries.assignCells(df, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(cells === Map(0L -> Some(0L), 1L -> None))
    val probed = SimilarityQueries.probeCells(df, cents, "v", 2)
      .select("vec_id").collect().map(_.getLong(0))
    assert(probed.sorted.toSeq === Seq(0L, 0L))
    // the old fold gave -1, which joins no cell either
    assert(outsideWholeStage(oldAssign(df, cents)
      .where(col("vec_id") === 1).select("old").head().getLong(0)) === -1L)
  }

  test("a vector or codebook row of another length fails loudly") {
    val rows: Array[ArrayData] =
      Array(a, b).map(r => UnsafeArrayData.fromPrimitiveArray(r.toArray))
    intercept[IllegalArgumentException] {
      VectorExpressions.nearest(
        ArrayData.toArrayData(Array(1.0, 2.0)), Array(0L, 1L), rows, 1)
    }
    val e = intercept[Exception] {
      Seq(Seq(1.0, 2.0)).toDF("v")
        .select(Vectors.nearestCentroids(col("v"), Seq(0L -> a), 1))
        .collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    intercept[IllegalArgumentException] {
      Vectors.nearestCentroids(col("v"), Seq(0L -> a, 1L -> Seq(1.0)), 1)
    }
  }
}
