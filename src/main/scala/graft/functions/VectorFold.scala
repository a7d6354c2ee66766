package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused dot-product fold over two embedding arrays — a native Catalyst
  * expression with whole-stage codegen: dot product and both squared
  * norms (dot, ‖x‖², ‖y‖²) in ONE loop with no allocation, inside the
  * generated code of the enclosing stage, then one finisher —
  * [[CosineSimilarity]] (`cosine_similarity`) or [[L2SqMicro]]
  * (`l2sq_micro`).
  *
  * The composable forms (`aggregate(zip_with(...))` passes in
  * [[VectorFunctions]]) walk each array once per accumulator and
  * allocate a zipped intermediate. Numerics are identical: each
  * accumulator is an independent left-to-right double fold, exactly like
  * the composed form (and DuckDB's list_dot_product on DOUBLE[]), so
  * oracle-checked results do not change.
  *
  * This is preference (b) of the build rules: a custom `Expression` where
  * the built-in combination is hot — the 100 TB path is a brute-force or
  * LSH-bucketed similarity scan (and the PQ corpus×codebook scan) where
  * this sits in the innermost loop.
  *
  * Malformed input contract (matches the composed form exactly):
  * mismatched-length vectors and vectors containing null elements yield
  * NULL — `zip_with` null-pads the shorter side and `aggregate` folds the
  * null through, so the composed form returns NULL for both cases; a
  * truncated loop would silently score garbage instead.
  */
case class VectorFold(left: Expression, right: Expression, l2Micro: Boolean)
    extends BinaryExpression {

  override def prettyName: String =
    if (l2Micro) "l2sq_micro" else "cosine_similarity"

  override def dataType: DataType = if (l2Micro) LongType else DoubleType

  override protected def flatArguments: Iterator[Any] = Iterator(left, right)

  // can produce NULL (length mismatch / null element) even from
  // non-nullable inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemIsFloat(left); val yf = elemIsFloat(right)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (l2Micro) VectorFold.l2SqMicro(dot, nx, ny) else VectorFold.cosine(dot, nx, ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    val finisher = if (l2Micro) "l2SqMicro" else "cosine"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $x.$xGet($i);
         |    double $yv = (double) $y.$yGet($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = graft.functions.VectorFold.$finisher($dot, $nx, $ny);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFold {
  /** Cosine of the angle between x and y. */
  def cosine(dot: Double, nx: Double, ny: Double): Double =
    dot / (math.sqrt(nx) * math.sqrt(ny))

  /** `round(1e6 · ‖x−y‖²)`. The `BigDecimal.valueOf(...).setScale(0,
    * HALF_UP)` is Spark `Round`'s exact double path (and DuckDB's
    * half-away-from-zero agrees for the non-negative distances this
    * produces).
    */
  def l2SqMicro(dot: Double, nx: Double, ny: Double): Long =
    java.math.BigDecimal.valueOf((nx - 2.0 * dot + ny) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue().toLong
}

object CosineSimilarity {
  /** Column form: `cosine_sim($"a", $"b")`. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(VectorFold(
      ColumnBridge.expression(a), ColumnBridge.expression(b), l2Micro = false))
}

/** Micro-unit squared L2 distance `round(1e6 · ||a−b||²)` — the PQ hot
  * kernel (`SimilaritySearch.pqTopK` evaluates it corpus×codebook and
  * query×codebook). Bit-identical to the composed form
  * `round((dot(a,a) − 2·dot(a,b) + dot(b,b)) · 1e6).cast("long")` with
  * [[VectorFunctions.dot]]'s left-to-right double folds: the same three
  * sequential folds, the same double combine, and the same `BigDecimal`
  * HALF_UP rounding as Spark's `round`.
  */
object L2SqMicro {
  /** Column form: `L2SqMicro(a, b)`. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(VectorFold(
      ColumnBridge.expression(a), ColumnBridge.expression(b), l2Micro = true))
}
