package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `sq8_pack(qv)` — pack an SQ8-quantized coordinate array
  * (`array<long>`, every value in [-127, 127]) into a `binary` payload of
  * one byte per dimension, stored offset-128-free as the signed byte
  * itself (two's complement: -127..127 fits a Java byte exactly).
  *
  * This is the rest format of a quantized vector: 8 bytes/dim as
  * `array<long>` becomes 1 byte/dim plus a single offset — the 4-8× IO
  * cut the SQ8 family claims at 100 TB.
  * [[Sq8Dot]] scores the packed form directly, so payloads stay bytes at
  * rest AND in flight; unpacking back to `array<long>` never happens on
  * the query path.
  *
  * Contract: a value outside [-127, 127] throws (saturation is the
  * QUANTIZER's job — [[graft.ops.Similarity.sq8Quantize]] clamps; a
  * wild value here means the caller packed unquantized data, which must
  * fail loudly, not wrap silently). Null array → null; null elements
  * throw (a quantized vector has no holes).
  */
case class Sq8Pack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_pack requires array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_pack"

  override def nullSafeEval(input: Any): Any =
    Sq8Pack.pack(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Pack.pack($c)")

  override protected def withNewChildInternal(newChild: Expression): Sq8Pack =
    copy(child = newChild)
}

object Sq8Pack {
  /** Static so generated code calls it via the class's static forwarder. */
  def pack(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        "sq8_pack: null element — a quantized vector has no holes")
      val v = arr.getLong(i)
      if (v < -127L || v > 127L) throw new IllegalArgumentException(
        s"sq8_pack: value $v outside [-127, 127] — input is not SQ8-quantized")
      out(i) = v.toByte
      i += 1
    }
    out
  }
}

/** `sq8_dot(a, b)` — exact integer dot product over two [[Sq8Pack]]ed
  * `binary` payloads: Σ aᵢ·bᵢ with each byte read back as its signed
  * value. The scoring kernel of the banked quantized index: one tight
  * primitive byte loop inside whole-stage codegen, no array
  * materialization, no widening — d·127² ≤ 64·16129 is far inside int64.
  * Equality contract (Sq8Spec pins it): for in-range arrays,
  * `sq8_dot(sq8_pack(a), sq8_pack(b)) == long_vec_dot(a, b)`.
  * Mismatched lengths yield NULL, matching [[LongVecDot]].
  */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_dot requires binary inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "sq8_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    var acc = 0L
    var i = 0
    while (i < x.length) {
      acc += x(i).toLong * y(i).toLong
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    $acc += (long) $a[$i] * (long) $b[$i];
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8Dot =
    copy(left = newLeft, right = newRight)
}
