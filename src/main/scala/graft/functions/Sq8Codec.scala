package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** FUSED SQ8 quantizer kernels — the codegen replacement for the
  * interpreted `transform(vec, (x, i) => …element_at(lo, i+1)…)` chains
  * the SQ8 tier originally rode (Catalyst higher-order functions are
  * CodegenFallback: every row paid interpreted expression dispatch per
  * DIMENSION, 64 closures + 128 `element_at` probes per vector, and the
  * projection fell out of whole-stage codegen). Each kernel here is one
  * tight primitive loop over the model's (lo, hi) double arrays held as
  * plain JVM references, riding inside whole-stage codegen.
  *
  * ARITHMETIC IS BIT-IDENTICAL to the transform forms FOR FINITE
  * INPUTS (pinned by SimilaritySpec's reconstruction-equals-direct-
  * dequant test and the shared p218/p225/p228 oracles): the same
  * IEEE-754 double ops in the same order —
  * `lo + floor((x−lo)·255/(hi−lo)+0.5)·(hi−lo)/255`, the degenerate
  * hi=lo dimension serving its constant, encode clamping to the
  * boundary code only when asked (appends), never silently wrapping.
  * NaN components are handled EXPLICITLY (Java comparisons are all
  * false on NaN, so without this the clamp would pass NaN through and
  * `Math.floor(NaN).toInt` would mint code 0 without tripping the
  * byte-wrap guard): clamped encodes map NaN to the hi boundary — the
  * replaced least/greatest Column form's behavior, since Spark orders
  * NaN as the largest double — unclamped encodes refuse it loudly, and
  * [[Sq8CodecUtil.outOfRange]] counts it as out of range (matching the
  * replaced `x < lo OR x > hi` predicate under Spark's NaN ordering).
  *
  * The model rides the EXPRESSION, not child literals: (lo, hi) are
  * dim-sized driver arrays (the bounded-model rule), referenced once
  * per task instead of re-probed per element.
  */
object Sq8CodecUtil {

  private def elemAt(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** quantize-then-reconstruct of a raw vector (the symmetric query
    * protocol): bit-equal to dequant(encode(x)) by construction.
    */
  def roundTrip(vec: ArrayData, et: DataType,
                lo: Array[Double], hi: Array[Double]): ArrayData = {
    val n = vec.numElements()
    require(n == lo.length,
      s"sq8_round_trip: vector has $n dims, model has ${lo.length}")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo(i); val h = hi(i)
      out(i) =
        if (h == l) l
        else {
          val x = elemAt(vec, et, i)
          l + Math.floor((x - l) * 255.0 / (h - l) + 0.5) * (h - l) / 255.0
        }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** packed codes → reconstructed doubles: `lo + code·(hi−lo)/255`. */
  def decode(codes: Array[Byte],
             lo: Array[Double], hi: Array[Double]): ArrayData = {
    val n = codes.length
    require(n == lo.length,
      s"sq8_decode: cell has $n bytes, model has ${lo.length} dims")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo(i); val h = hi(i)
      out(i) =
        if (h == l) l
        else l + (codes(i) & 0xff) * (h - l) / 255.0
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** raw vector → packed u8 codes (fused quantize + pack): degenerate
    * dims mint code 0; `clamp` bounds out-of-range components to the
    * boundary code (the append convention); a code outside [0, 255]
    * without clamp is a quantizer bug and refuses loudly, never a
    * silent byte wrap.
    */
  def encode(vec: ArrayData, et: DataType,
             lo: Array[Double], hi: Array[Double],
             clamp: Boolean): Array[Byte] = {
    val n = vec.numElements()
    require(n == lo.length,
      s"sq8_encode: vector has $n dims, model has ${lo.length}")
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val l = lo(i); val h = hi(i)
      // read before the degenerate-dim branch: a NaN refuses at every
      // dim, not only where the model has a range
      val xd = elemAt(vec, et, i)
      if (xd.isNaN && !clamp) throw new IllegalArgumentException(
        s"sq8_encode: NaN component at dim $i — refusing a silent code " +
          "(clamped appends map NaN to the hi boundary)")
      val code =
        if (h == l) 0
        else {
          // NaN clamps to hi: Spark's least/greatest (the replaced
          // Column form) order NaN as the largest double
          val xc = if (clamp) {
            if (xd.isNaN || xd > h) h else if (xd < l) l else xd
          } else xd
          Math.floor((xc - l) * 255.0 / (h - l) + 0.5).toInt
        }
      if (code < 0 || code > 255) throw new IllegalArgumentException(
        s"sq8_encode: code $code at dim $i outside [0, 255] — refusing a " +
          "silent byte wrap")
      out(i) = code.toByte
      i += 1
    }
    out
  }

  /** count of components OUTSIDE the model's [lo, hi] — the clamp
    * accounting an append returns (one long per row, summed by the
    * caller's observe aggregate on the write pass itself).
    */
  def outOfRange(vec: ArrayData, et: DataType,
                 lo: Array[Double], hi: Array[Double]): Long = {
    val n = vec.numElements()
    require(n == lo.length,
      s"sq8_out_of_range: vector has $n dims, model has ${lo.length}")
    var c = 0L
    var i = 0
    while (i < n) {
      val x = elemAt(vec, et, i)
      // NaN is out of range: Spark's `x < lo OR x > hi` (the replaced
      // predicate) is TRUE for NaN under its NaN-largest ordering,
      // while Java's comparisons are all false — count it explicitly
      if (x.isNaN || x < lo(i) || x > hi(i)) c += 1L
      i += 1
    }
    c
  }
}

private[functions] trait Sq8VecInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${prettyName} expects array<float|double>, got ${t.simpleString}")
  }
  protected lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
}

/** raw vector → quantize-then-reconstruct doubles against (lo, hi). */
case class Sq8RoundTrip(child: Expression, lo: IndexedSeq[Double],
                        hi: IndexedSeq[Double])
    extends UnaryExpression with Sq8VecInput {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq8_round_trip"

  // IndexedSeq params give the case class structural equality (plan
  // canonicalization / subexpression elimination / exchange reuse all
  // compare expressions; Array params made every instance unique);
  // the kernels run over these one-time Array views
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val hiArr: Array[Double] = hi.toArray

  protected override def nullSafeEval(input: Any): Any =
    Sq8CodecUtil.roundTrip(input.asInstanceOf[ArrayData], elemType, loArr, hiArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    val etRef = ctx.addReferenceObj("et", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sq8CodecUtil.roundTrip($c, $etRef, $loRef, $hiRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** packed binary codes → reconstructed doubles against (lo, hi). */
case class Sq8Decode(child: Expression, lo: IndexedSeq[Double],
                     hi: IndexedSeq[Double])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq8_decode"

  // IndexedSeq params give the case class structural equality (plan
  // canonicalization / subexpression elimination / exchange reuse all
  // compare expressions; Array params made every instance unique);
  // the kernels run over these one-time Array views
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val hiArr: Array[Double] = hi.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq8_decode expects binary, got ${t.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    Sq8CodecUtil.decode(input.asInstanceOf[Array[Byte]], loArr, hiArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sq8CodecUtil.decode($c, $loRef, $hiRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** raw vector → packed u8 codes (fused quantize + pack). */
case class Sq8Encode(child: Expression, lo: IndexedSeq[Double],
                     hi: IndexedSeq[Double], clamp: Boolean)
    extends UnaryExpression with Sq8VecInput {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_encode"

  // IndexedSeq params give the case class structural equality (plan
  // canonicalization / subexpression elimination / exchange reuse all
  // compare expressions; Array params made every instance unique);
  // the kernels run over these one-time Array views
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val hiArr: Array[Double] = hi.toArray

  protected override def nullSafeEval(input: Any): Any =
    Sq8CodecUtil.encode(input.asInstanceOf[ArrayData], elemType, loArr, hiArr, clamp)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    val etRef = ctx.addReferenceObj("et", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sq8CodecUtil.encode($c, $etRef, $loRef, $hiRef, $clamp)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** raw vector → count of out-of-model-range components (clamp
  * accounting for appends).
  */
case class Sq8OutOfRange(child: Expression, lo: IndexedSeq[Double],
                         hi: IndexedSeq[Double])
    extends UnaryExpression with Sq8VecInput {
  override def dataType: DataType = LongType
  override def prettyName: String = "sq8_out_of_range"

  // IndexedSeq params give the case class structural equality (plan
  // canonicalization / subexpression elimination / exchange reuse all
  // compare expressions; Array params made every instance unique);
  // the kernels run over these one-time Array views
  private lazy val loArr: Array[Double] = lo.toArray
  private lazy val hiArr: Array[Double] = hi.toArray

  protected override def nullSafeEval(input: Any): Any =
    Sq8CodecUtil.outOfRange(input.asInstanceOf[ArrayData], elemType, loArr, hiArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    val etRef = ctx.addReferenceObj("et", elemType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Sq8CodecUtil.outOfRange($c, $etRef, $loRef, $hiRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Sq8Codec {
  // A NaN that reaches the MODEL (one NaN component in the build
  // corpus makes that dim's max NaN under Spark's NaN-largest
  // ordering) would make every per-element guard useless: h == l is
  // false for NaN, every comparison against NaN is false, and
  // Math.floor(NaN).toInt mints code 0 for EVERY vector at that dim.
  // An infinite bound does the same: (hi - lo) is infinite, so
  // (x - lo) * 255 / Inf is 0 (or NaN for lo = -Inf).
  // Refuse the model once at expression construction — zero hot-path
  // cost — so a poisoned train fails loudly at build time.
  private def requireFinite(name: String, a: Array[Double]): Unit = {
    var i = 0
    while (i < a.length) {
      if (!java.lang.Double.isFinite(a(i))) throw new IllegalArgumentException(
        s"Sq8Codec: model $name has ${a(i)} at dim $i — a non-finite " +
          "component in the build corpus poisoned the min/max train; " +
          "refusing a model that would silently mint code 0 at that dim")
      i += 1
    }
  }
  private def checked(lo: Array[Double],
                      hi: Array[Double]): (IndexedSeq[Double], IndexedSeq[Double]) = {
    requireFinite("lo", lo); requireFinite("hi", hi)
    (lo.toIndexedSeq, hi.toIndexedSeq)
  }

  def roundTrip(vec: Column, lo: Array[Double], hi: Array[Double]): Column =
    { val (l, h) = checked(lo, hi)
      ColumnBridge.column(Sq8RoundTrip(ColumnBridge.expression(vec), l, h)) }
  def decode(codes: Column, lo: Array[Double], hi: Array[Double]): Column =
    { val (l, h) = checked(lo, hi)
      ColumnBridge.column(Sq8Decode(ColumnBridge.expression(codes), l, h)) }
  def encode(vec: Column, lo: Array[Double], hi: Array[Double],
             clamp: Boolean): Column =
    { val (l, h) = checked(lo, hi)
      ColumnBridge.column(Sq8Encode(ColumnBridge.expression(vec), l, h, clamp)) }
  def outOfRange(vec: Column, lo: Array[Double], hi: Array[Double]): Column =
    { val (l, h) = checked(lo, hi)
      ColumnBridge.column(Sq8OutOfRange(ColumnBridge.expression(vec), l, h)) }
}
