package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for two per-row loops that Spark would
  * otherwise run through its `CodegenFallback` higher-order functions:
  * the word tokenizer (`filter(split(text, "[^a-z0-9]+"), t -> t != "")`)
  * and the integer squared L2 distance
  * (`aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)`).
  * Those evaluate row by row through `eval()` and break the surrounding
  * whole-stage-codegen span; these keep the loop in one static kernel that
  * generated code calls directly, in the [[HashFunctions]] shape: the
  * `doGenCode` and the `nullSafeEval` call the same kernel.
  *
  * Each returns exactly what the expression it replaces returns, nulls
  * and overflow errors included (pinned against it in RowKernelsSpec).
  */
object RowFunctions {

  /** Maximal runs of `[a-z0-9]` bytes of a string column, in order: equal
    * to `filter(split(text, "[^a-z0-9]+"), t -> t != "")`. Case mapping is
    * the caller's (the tokenizer passes Spark's own `lower(text)`). */
  def tokens(text: Column): Column =
    GraftExpressionBridge.column(Tokens(GraftExpressionBridge.expression(text)))

  /** Σ (q[i] − c[i])² of two `array<bigint>` columns, folded in array
    * order; null when either array is null, their lengths differ or an
    * element is null. Overflow raises under ANSI mode and wraps without. */
  def sqL2(q: Column, c: Column): Column =
    GraftExpressionBridge.column(SquaredL2(
      GraftExpressionBridge.expression(q), GraftExpressionBridge.expression(c)))

  /** A non-null `array<bigint>` literal built straight from the values
    * (`typedLit` derives an encoder by reflection on every call). */
  def longArray(values: Seq[Long]): Column =
    GraftExpressionBridge.column(Literal(
      new GenericArrayData(values.toArray), ArrayType(LongType, containsNull = false)))
}

/** Static kernels (objects get Java static forwarders, so generated code
  * can call them directly). */
object TokenKernel {

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Every byte of a multi-byte UTF-8 sequence is ≥ 0x80, so a byte scan
    * for `[a-z0-9]` runs finds exactly the runs a regex over the decoded
    * characters finds. Each token owns its bytes, as `split`'s do, so
    * consumers such as [[ShingleKernel]] read them without a copy. */
  def compute(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val t = isTokenByte(Platform.getByte(base, off + i))
      if (t && !inToken) count += 1
      inToken = t
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (!isTokenByte(Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && isTokenByte(Platform.getByte(base, off + i))) i += 1
      val bytes = new Array[Byte](i - start)
      Platform.copyMemory(base, off + start, bytes, Platform.BYTE_ARRAY_OFFSET, i - start)
      out(k) = UTF8String.fromBytes(bytes)
      k += 1
    }
    new GenericArrayData(out)
  }
}

object SqL2Kernel {

  /** The fold `aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), 0L,
    * (acc, x) -> acc + x)` over non-null arrays, as its errors and value
    * come out: `zip_with` computes every paired square first (so a
    * subtract or multiply overflow anywhere raises), then `aggregate`
    * adds them in order until the first null element, after which the
    * accumulator is null and nothing more is added. The value is
    * meaningful only when [[isNull]] is false. */
  def compute(q: ArrayData, c: ArrayData, failOnOverflow: Boolean): Long = {
    val n = math.min(q.numElements(), c.numElements())
    var acc = 0L
    var summing = true
    var overflowAcc, overflowSq = 0L
    var addOverflow = false
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || c.isNullAt(i)) summing = false
      else {
        val a = q.getLong(i)
        val b = c.getLong(i)
        if (failOnOverflow) {
          val d = MathUtils.subtractExact(a, b)
          val sq = MathUtils.multiplyExact(d, d)
          if (summing) {
            val s = acc + sq
            // the fold's add overflows only after every square is made
            if (((acc ^ s) & (sq ^ s)) < 0) {
              addOverflow = true; overflowAcc = acc; overflowSq = sq; summing = false
            } else acc = s
          }
        } else if (summing) {
          val d = a - b
          acc += d * d
        }
      }
      i += 1
    }
    if (addOverflow) MathUtils.addExact(overflowAcc, overflowSq)
    acc
  }

  /** True when the fold's result is null: the lengths differ (`zip_with`
    * pads the shorter array with nulls) or an element is null. */
  def isNull(q: ArrayData, c: ArrayData): Boolean = {
    val n = q.numElements()
    if (n != c.numElements()) return true
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || c.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

case class Tokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullSafeEval(s: Any): Any = TokenKernel.compute(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenKernel.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_tokens"
}

case class SquaredL2(left: Expression, right: Expression) extends BinaryExpression {
  /** Overflow follows the ANSI mode of the session that runs the query,
    * as for the `Subtract`/`Multiply`/`Add` it replaces (those bind it at
    * analysis, this at planning; the two differ only if the conf changes
    * in between). Read lazily, where the query is planned or a task runs:
    * both see that session's SQL conf, while the thread that builds the
    * column may have another session active. */
  @transient private lazy val failOnOverflow: Boolean = SQLConf.get.ansiEnabled

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = KernelTypeCheck.arrayOf(left, LongType, prettyName)
    if (l.isFailure) l else KernelTypeCheck.arrayOf(right, LongType, prettyName)
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(q: Any, c: Any): Any = {
    val (a, b) = (q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    val v = SqL2Kernel.compute(a, b, failOnOverflow)
    if (SqL2Kernel.isNull(a, b)) null else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"""${ev.value} = graft.functions.SqL2Kernel.compute($q, $c, $failOnOverflow);
         |${ev.isNull} = graft.functions.SqL2Kernel.isNull($q, $c);""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_sq_l2"
}
