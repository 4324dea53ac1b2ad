package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The `zip_with`/`aggregate` higher-order-function formulation is correct
  * but evaluates interpreted (HOFs are excluded from whole-stage codegen),
  * which is ~100× too slow once similarity joins materialize millions of
  * candidate pairs (2M pairs × 64 dims at sf0.1; ~10¹¹ at 100 TB). These
  * expressions generate a tight scalar loop inside whole-stage codegen.
  *
  * Determinism contract (what lets the DuckDB oracle hash-match): all sums
  * accumulate in ascending index order — the same order as DuckDB's
  * `list_cosine_similarity` / the previous fold-left formulation — and the
  * final combination is `dot / (sqrt(na) * sqrt(nb))`, identical IEEE ops
  * in identical order on both engines.
  *
  * Inputs must be non-null-element double arrays (the embeddings table
  * guarantees this; `Vectors.asDouble` casts float→double exactly).
  * Mismatched lengths use the common prefix ([[NearestCentroids]] fails).
  */
object VectorExpressions {

  /** The one cosine loop, shared by [[CosineSimilarity]] (eval and
    * codegen) and [[nearest]] so their similarities are bit-identical. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Ids of the `n` rows of `cb` nearest `v`, by (cosine DESC, id ASC)
    * under Spark's double ordering (NaN largest, 0.0 = -0.0). `ids`
    * ascend and a row displaces only a strictly smaller similarity, so
    * ties keep the smaller id. */
  def nearest(v: ArrayData, ids: Array[Long], cb: Array[ArrayData],
              n: Int): ArrayData = {
    if (v.numElements() != cb(0).numElements())
      throw new IllegalArgumentException(s"vector has ${v.numElements()} " +
        s"elements; the codebook's rows have ${cb(0).numElements()}")
    val sims = new Array[Double](n)
    val out = new Array[Long](n)
    var filled = 0
    var ci = 0
    while (ci < cb.length) {
      val s = cosine(v, cb(ci))
      var p = filled
      while (p > 0 && SQLOrderingUtil.compareDoubles(s, sims(p - 1)) > 0)
        p -= 1
      if (p < n) {
        filled = math.min(filled + 1, n)
        var j = filled - 1
        while (j > p) { sims(j) = sims(j - 1); out(j) = out(j - 1); j -= 1 }
        sims(p) = s; out(p) = ids(ci)
      }
      ci += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

abstract class VectorFoldExpression extends BinaryExpression with ExpectsInputTypes {
  // no type annotation: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
}

/** dot(a, b) = Σ aᵢ·bᵢ, ascending i. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorFoldExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

/** cosine(a, b) = dot / (sqrt(Σaᵢ²) · sqrt(Σbᵢ²)), one pass. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorFoldExpression {

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorExpressions.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorExpressions$$.MODULE$$.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

/** Ids of the `n` centroids nearest the input vector by cosine, as
  * `array<bigint>` in [[VectorExpressions.nearest]]'s order; null for a
  * null vector. The codebook is a constructor value (ids ascending, the
  * [[PqArgmin]] precedent): k centroids are one call in generated code,
  * not k similarity columns plus a fold over them. */
case class NearestCentroids(child: Expression, ids: Seq[Long],
                            codebook: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(ids.nonEmpty && ids.length == codebook.length && n >= 1 &&
    n <= ids.length && ids.zip(ids.drop(1)).forall(p => p._1 < p._2),
    s"nearest_centroids needs ascending ids, one row each, n in [1, k]")
  require(codebook.forall(_.length == codebook.head.length),
    "nearest_centroids codebook rows differ in length")

  // no type annotation: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val idArr = ids.toArray
  @transient private lazy val rows: Array[ArrayData] =
    codebook.map(r => UnsafeArrayData.fromPrimitiveArray(r.toArray)).toArray

  override def nullSafeEval(input: Any): Any =
    VectorExpressions.nearest(input.asInstanceOf[ArrayData], idArr, rows, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idRef = ctx.addReferenceObj("ncIds", idArr, "long[]")
    val cbRef = ctx.addReferenceObj("ncCodebook", rows,
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorExpressions$$.MODULE$$" +
        s".nearest($v, $idRef, $cbRef, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroids"
}
