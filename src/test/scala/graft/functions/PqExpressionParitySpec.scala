package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** Differential spec for the native PQ expressions: [[PqDistTable]] /
  * [[PqArgmin]] must be BIT-IDENTICAL to the higher-order-function
  * formulation they replaced (`transform(typedlit(codebook))` +
  * `array_min`/`array_position`) — on the real trained model over real
  * corpus vectors, and on adversarial literals (ties, negatives, nulls).
  * The HOF twin is re-stated here verbatim so the old shape stays
  * executable evidence, not a memory. */
class PqExpressionParitySpec extends SparkSpec {

  /** The exact pre-r20 formulation of the per-subspace distance table. */
  private def hofDistTable(r: Column, cb: Seq[Seq[Long]], offset: Int,
                           sd: Int): Column =
    transform(typedlit(cb), cv =>
      (0 until sd).map { j =>
        val t = element_at(r, offset + j + 1) - element_at(cv, j + 1)
        t * t
      }.reduce(_ + _))

  private def nativeDistTable(r: Column, cb: Seq[Seq[Long]],
                              offset: Int): Column =
    Bridge.column(PqDistTable(Bridge.expression(r), cb, offset))

  private def nativeArgmin(r: Column, cb: Seq[Seq[Long]],
                           offset: Int): Column =
    Bridge.column(PqArgmin(Bridge.expression(r), cb, offset))

  /** Corpus vectors floored to micros — the same long arrays the coding
    * path feeds the expressions (the coarse-residual subtraction only
    * shifts values; parity must hold for ANY long array). */
  private def microRows = {
    import graft.Tables
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(Vectors.asDouble(col("embedding")),
          x => floor(x * lit(1e6))).as("r"))
  }

  /** The rows the interpreted HOF twin runs over at the production
    * K=256: a fixed 1-in-16 sample, picked by a seeded hash of vec_id.
    * The twin costs O(rows x M x K x SubDim) interpreted evaluations
    * (~100 s per test over the full corpus at K=256); parity is per
    * row, so a fixed sample pins it as hard as the whole corpus does.
    * The full corpus still runs the twin at M=K=16, and the native
    * side at K=256. */
  private def k256Sample(df: DataFrame): DataFrame =
    df.where(pmod(hash(col("vec_id"), lit(20261019)), lit(16)) === 0)

  /** Per row of `rows` and subspace `mi` of the trained (m, k) model:
    * the native dist table `n_mi`, the native argmin `a_mi` and
    * `table`'s distance table `h_mi`. Checkpointed, so each interpreted
    * HOF table is evaluated once per row: the argmin check reads it
    * three times, and Catalyst would inline it into every read. */
  private def tables(rows: DataFrame, m: Int, k: Int,
                     table: (Column, Seq[Seq[Long]], Int, Int) => Column =
                       hofDistTable): DataFrame = {
    val pq = graft.operators.ProductQuantization
    val (_, cents) = pq.pqModelAt(spark, sfDir, m, k)
    val sd = graft.operators.SimilarityQueries.Dims / m
    rows.select(
      (0 until m).flatMap { mi =>
        Seq(nativeDistTable(col("r"), cents(mi), mi * sd).as(s"n_$mi"),
          nativeArgmin(col("r"), cents(mi), mi * sd).as(s"a_$mi"),
          table(col("r"), cents(mi), mi * sd, sd).as(s"h_$mi"))
      }: _*).localCheckpoint()
  }

  /** Rows where the native dist table and `h` differ. */
  private def distDrift(t: DataFrame, m: Int): Long =
    t.where((0 until m)
      .map(mi => not(col(s"n_$mi") <=> col(s"h_$mi"))).reduce(_ || _))
      .count()

  /** Rows where the native argmin differs from array_position /
    * array_min over `h`. */
  private def argminDrift(t: DataFrame, m: Int): Long =
    t.where((0 until m).map { mi =>
      val h = col(s"h_$mi")
      not(col(s"a_$mi").getField("code") <=>
        (array_position(h, array_min(h)) - 1).cast("int")) ||
        not(col(s"a_$mi").getField("dist") <=> array_min(h))
    }.reduce(_ || _)).count()

  test("dist table matches the HOF formulation on the trained K=256 model") {
    val pq = graft.operators.ProductQuantization
    assert(k256Sample(microRows).count() > 0L, "empty K=256 sample")
    val drift = distDrift(tables(microRows, pq.M, pq.K), pq.M) +
      distDrift(tables(k256Sample(microRows), pq.M256, pq.K256), pq.M256)
    assert(drift === 0L, "native dist table drifted from the HOF form")
  }

  test("argmin matches array_min/array_position over the HOF table") {
    val pq = graft.operators.ProductQuantization
    val drift = argminDrift(tables(microRows, pq.M, pq.K), pq.M) +
      argminDrift(tables(k256Sample(microRows), pq.M256, pq.K256),
        pq.M256) +
      argminDrift(tables(microRows, pq.M256, pq.K256,
        (r, cb, offset, _) => nativeDistTable(r, cb, offset)), pq.M256)
    assert(drift === 0L, "native argmin drifted from the HOF form")
  }

  test("micro residual matches the zip_with/transform formulation") {
    import graft.Tables
    // centroid in micros: a real-shaped literal (offset the corpus
    // vectors by a constant per-dim pattern)
    val dims = graft.operators.SimilarityQueries.Dims
    val cm = (0 until dims).map(d => (d * 137L) - 4096L)
    val native = Bridge.column(PqMicroResidual(
      Bridge.expression(Vectors.asDouble(col("embedding"))),
      Bridge.expression(typedlit(cm))))
    val hof = zip_with(
      transform(Vectors.asDouble(col("embedding")),
        x => floor(x * lit(1e6))),
      typedlit(cm), (a, b) => a - b)
    val drift = Tables.embeddings(spark, sfDir)
      .select(native.as("n"), hof.as("h"))
      .where(not(col("n") <=> col("h"))).count()
    assert(drift === 0L, "native residual drifted from the zip_with form")
  }

  test("ties go to the smallest code (array_position first-match rule)") {
    import spark.implicits._
    // codebook rows 0 and 2 are identical → both at distance 0 from r;
    // the code must be 0, exactly as array_position's first match
    val cb = Seq(Seq(1L, 2L), Seq(500L, -500L), Seq(1L, 2L))
    val df = Seq(Seq(1L, 2L), Seq(-3L, 7L)).toDF("r")
    val got = df.select(nativeArgmin(col("r"), cb, 0).as("am"),
      hofDistTable(col("r"), cb, 0, 2).as("h")).collect()
    got.foreach { row =>
      val am = row.getStruct(0)
      val h = row.getSeq[Long](1)
      assert(am.getLong(1) === h.min)
      assert(am.getInt(0) === h.indexOf(h.min))
    }
    assert(got.head.getStruct(0).getInt(0) === 0, "tie must keep code 0")
  }

  test("null residual propagates to null, both expressions") {
    import spark.implicits._
    val cb = Seq(Seq(0L), Seq(10L))
    val df = Seq(Some(Seq(3L)), None).toDF("r")
    val rows = df.select(nativeDistTable(col("r"), cb, 0).as("t"),
      nativeArgmin(col("r"), cb, 0).as("am")).collect()
    assert(rows(0).getSeq[Long](0) === Seq(9L, 49L))
    assert(rows(0).getStruct(1).getInt(0) === 0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("short residual arrays fail loudly instead of reading garbage") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val r = ArrayData.toArrayData(Array(1L, 2L))
    val cb = Array(Array(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      PqExpressions.argmin(r, cb, 0)
    }
    intercept[IllegalArgumentException] {
      PqExpressions.distances(r, cb, 4)
    }
    // an empty codebook has no cb(0) to size the subspace from
    intercept[IllegalArgumentException] {
      PqExpressions.argmin(r, Array.empty[Array[Long]], 0)
    }
  }

  test("the coding projection stays codegen: no CodegenFallback in the plan") {
    val pq = graft.operators.ProductQuantization
    val df = pq.computePqCodesAt(spark, sfDir, pq.M256, pq.K256)
    val plan = df.queryExecution.executedPlan.toString
    // the HOF formulation planned as ArrayTransform (CodegenFallback);
    // the native expressions must not re-introduce either
    assert(!plan.contains("transform("),
      s"coding plan re-grew an interpreted HOF:\n${plan.take(3000)}")
    assert(plan.contains("pq_argmin"),
      s"coding plan must use the native argmin:\n${plan.take(3000)}")
  }
}
