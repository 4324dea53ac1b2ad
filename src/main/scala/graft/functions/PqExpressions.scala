package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native codegen expressions for the PQ hot path — the per-row
  * distance-to-sub-codebook work of training, coding and ADC lookup
  * tables (Jégou §III/§IV).
  *
  * The `transform(typedlit(codebook), cv => Σ_j (r[o+j] − cv[j])²)`
  * higher-order-function formulation is correct but HOFs are
  * CodegenFallback: at the production operating point (K=256, sd=8)
  * every row paid K·sd interpreted expression evaluations per subspace
  * — measured 5.8 s executor time for one M256/K256 training pass at
  * sf0.1 (`git show f7c7d6f:src/main/scala/graft/tools/PqTrainProbe.scala`),
  * all of it in the interpreted lambda.
  * These expressions run the same integer loops inside whole-stage
  * codegen via a static helper, like [[Tokenize]] and
  * [[VectorExpressions]].
  *
  * Determinism contract: all arithmetic is exact 64-bit integer math in
  * ascending (code, dim) order — bit-identical to the HOF formulation
  * (PqExpressionParitySpec pins this differentially; the DuckDB oracle
  * hashes pin it corpus-wide on q76–q78/q84–q85/q91).
  *
  * The codebook ships as a constructor value (driver-held, M·K·sd
  * longs), exactly the "model as literals" discipline the coding-plan
  * spec pins — a plain reference object in generated code instead of a
  * literal array the interpreter walks per row.
  */
object PqExpressions {

  /** Shared bounds guard: `getLong` on UnsafeArrayData does NOT bounds
    * check, so a short residual array must fail loudly here rather than
    * read garbage (the HOF formulation silently produced nulls — a
    * shape no engine path can reach, since residuals are zip_with over
    * fixed-Dims vectors; a reachable short array is a bug upstream). */
  @inline private def check(r: ArrayData, offset: Int, sd: Int): Unit =
    if (r.numElements() < offset + sd)
      throw new IllegalArgumentException(
        s"PQ residual array has ${r.numElements()} elements; " +
          s"subspace needs [$offset, ${offset + sd})")

  /** K exact squared distances from the subvector at `offset` to each
    * codebook row, ascending code order. */
  def distances(r: ArrayData, cb: Array[Array[Long]], offset: Int): ArrayData = {
    val k = cb.length
    if (k > 0) check(r, offset, cb(0).length)
    val out = new Array[Long](k)
    var ki = 0
    while (ki < k) {
      val c = cb(ki)
      var s = 0L
      var j = 0
      while (j < c.length) {
        val t = r.getLong(offset + j) - c(j)
        s += t * t
        j += 1
      }
      out(ki) = s
      ki += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Single-pass argmin over the codebook: (code, dist) with the
    * first-minimum tie rule — strictly-less keeps the earlier code, so
    * ties go to the smallest code, identical to
    * `array_position(dists, array_min(dists)) - 1`. */
  def argmin(r: ArrayData, cb: Array[Array[Long]], offset: Int): GenericInternalRow = {
    if (cb.isEmpty)
      throw new IllegalArgumentException(
        "PQ argmin needs a non-empty codebook (K >= 1); got K = 0")
    check(r, offset, cb(0).length)
    var bestCode = 0
    var bestDist = Long.MaxValue
    var ki = 0
    while (ki < cb.length) {
      val c = cb(ki)
      var s = 0L
      var j = 0
      while (j < c.length) {
        val t = r.getLong(offset + j) - c(j)
        s += t * t
        j += 1
      }
      if (s < bestDist) { bestDist = s; bestCode = ki }
      ki += 1
    }
    new GenericInternalRow(Array[Any](bestCode, bestDist))
  }

  /** Exact micro residual: floor(v_d·1e6) − cm_d, ascending d — the
    * `zip_with(transform(v, x => floor(x·1e6)), cm, (a,b) => a−b)`
    * twin. Lengths must match (zip_with padded a mismatch with nulls —
    * a shape no engine path can reach, since both sides are Dims by
    * construction; a reachable mismatch is a bug upstream). Null
    * elements are ruled out by the same upstream contract as short
    * arrays: both sides are dense, non-null Dims-long arrays, so a null
    * element is never checked for and would read as 0. */
  def microResidual(v: ArrayData, cm: ArrayData): ArrayData = {
    val n = v.numElements()
    if (cm.numElements() != n)
      throw new IllegalArgumentException(
        s"residual inputs differ in length: vector $n, centroid " +
          s"${cm.numElements()}")
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(v.getDouble(i) * 1e6).toLong - cm.getLong(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Micro-unit residual against the (literal) assigned coarse centroid —
  * the third interpreted HOF on the coding path, nativized so the whole
  * coding projection is codegen. `containsNull = true` mirrors the
  * zip_with formulation's declared type (elements are never null). */
case class PqMicroResidual(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // no type annotation: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(v: Any, cm: Any): Any =
    PqExpressions.microResidual(
      v.asInstanceOf[ArrayData], cm.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cm) =>
      s"${ev.value} = graft.functions.PqExpressions$$.MODULE$$" +
        s".microResidual($v, $cm);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqMicroResidual =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_micro_residual"
}

/** Base: both expressions take the residual array (exact micros longs)
  * plus the driver-held sub-codebook and the subspace's offset into the
  * residual. `codebook` is a Seq for case-class value equality
  * (canonicalization/subexpression elimination); the eval path uses the
  * transient primitive mirror. */
abstract class PqCodebookExpression extends UnaryExpression with ExpectsInputTypes {
  def codebook: Seq[Seq[Long]]
  def offset: Int

  // no type annotation: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(LongType))

  @transient protected lazy val cb: Array[Array[Long]] =
    codebook.map(_.toArray).toArray

  /** Reference to the primitive codebook inside generated code. */
  protected def cbRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("pqCodebook", cb, "long[][]")
}

/** The K-entry distance TABLE for one subspace — the ADC lookup-table
  * shape (one array per (query, probed cell, subspace)). Declared
  * `containsNull = true` to keep downstream nullability identical to
  * the HOF formulation it replaces (elements are never actually null). */
case class PqDistTable(child: Expression, codebook: Seq[Seq[Long]], offset: Int)
    extends PqCodebookExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    PqExpressions.distances(input.asInstanceOf[ArrayData], cb, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = cbRef(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqExpressions$$.MODULE$$" +
        s".distances($c, $ref, $offset);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqDistTable =
    copy(child = newChild)

  override def prettyName: String = "pq_dist_table"
}

/** Fused argmin-over-codebook for one subspace: struct(code, dist) in a
  * single integer pass — the coding/training hot path, with no K-array
  * materialization and no re-scan for the min and its position. Fields
  * declared nullable to mirror the `array_min`/`array_position` columns
  * it replaces (values are never actually null). */
case class PqArgmin(child: Expression, codebook: Seq[Seq[Long]], offset: Int)
    extends PqCodebookExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("code", IntegerType, nullable = true),
    StructField("dist", LongType, nullable = true)))

  override def nullSafeEval(input: Any): Any =
    PqExpressions.argmin(input.asInstanceOf[ArrayData], cb, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = cbRef(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqExpressions$$.MODULE$$" +
        s".argmin($c, $ref, $offset);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgmin =
    copy(child = newChild)

  override def prettyName: String = "pq_argmin"
}
