package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Vector primitives for the similarity-search surface (embeddings table,
  * `array<float>` columns), backed by the native codegen expressions in
  * [[VectorExpressions]] — a zip_with/aggregate HOF formulation is ~100×
  * slower because higher-order functions evaluate interpreted, outside
  * whole-stage codegen (measured: 1.4 ms vs ~µs per 64-dim pair).
  *
  * Determinism note: all reductions run in ascending index order, so
  * results are bit-identical with engines that also sum sequentially
  * (DuckDB's list_* functions do) — which is what lets the DuckDB oracle
  * hash-match rounded similarity values.
  */
object Vectors {

  private def expr(c: Column) = Bridge.expression(c)

  /** Cast a float vector to double before any arithmetic: float→double is
    * exact, and both engines then do identical double math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product in index order (native codegen loop). */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(expr(a), expr(b)))

  /** Cosine similarity of two double vectors:
    * dot(a,b) / (sqrt(|a|²) * sqrt(|b|²)), single native pass. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(expr(a), expr(b)))

  /** Ids of the `n` centroids of `cents` nearest `v` by cosine, ranked
    * (cosine DESC, id ASC): one native [[NearestCentroids]]. */
  def nearestCentroids(v: Column, cents: Seq[(Long, Seq[Double])],
                       n: Int): Column = {
    val (ids, rows) = cents.sortBy(_._1).unzip
    Bridge.column(NearestCentroids(expr(v), ids, rows, n))
  }

  /** Cosine rounded for hash-stable oracle comparison. */
  def cosineRounded(a: Column, b: Column, scale: Int = 4): Column =
    round(cosine(a, b), scale)
}
