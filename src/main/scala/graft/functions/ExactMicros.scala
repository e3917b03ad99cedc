package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, EvalMode, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}

/** Per tick: the HALF_UP micro-units of a double, as a long — exactly
  * the unscaled value of Spark's `cast(v as decimal(18,6))` (which
  * parses `Double.toString(v)` and rounds HALF_UP at 6 dp), without the
  * string round trip. NULL when `v` is NULL, NaN or ±Inf (the ANSI cast
  * gives NULL there too). |v| ≥ 10¹² raises Spark's own
  * NUMERIC_VALUE_OUT_OF_RANGE error under ANSI (NULL otherwise), the
  * cast's behaviour in the session that built the expression. Only a
  * double input is accepted: a decimal or integral column has no
  * `Double.toString` to replicate.
  */
case class ExactMicros6(child: Expression, ansi: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExactMicros.requireDouble(prettyName, child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_micros6"

  override protected def nullSafeEval(v: Any): Any = {
    val q = ExactMicros.micros6(v.asInstanceOf[Double], ansi)
    if (q == ExactMicros.NullMicros) null else q
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = graft.functions.ExactMicros.micros6($v, $ansi);
         |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): ExactMicros6 = copy(child = newChild)
}

/** Per group: a micro-unit sum held as two long sums — `hi` of
  * `q >> 32`, `lo` of `q & 0xFFFFFFFF` — back to the double that
  * `cast(decimal sum as double)` gives for the same exact sum.
  */
case class ExactMicrosToDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "exact_micros_to_double"

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    ExactMicros.toDouble(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo) =>
      s"graft.functions.ExactMicros.toDouble($hi, $lo)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExactMicrosToDouble =
    copy(left = newLeft, right = newRight)
}

/** Spark's `round(x, 6)` for a double (HALF_UP of `Double.toString(x)`
  * at 6 dp, back to double; NaN and ±Inf pass through), on the same
  * core as [[ExactMicros6]].
  */
case class ExactRound6(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExactMicros.requireDouble(prettyName, child)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "exact_round6"

  override protected def nullSafeEval(x: Any): Any =
    ExactMicros.round6(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.ExactMicros.round6($x)")

  override protected def withNewChildInternal(
      newChild: Expression): ExactRound6 = copy(child = newChild)
}

/** The scalar kernel behind [[graft.ops.Exact]]'s `dsum`/`davg`, the
  * stream's bucket mean and [[PearsonArrays.quantize]]: HALF_UP of
  * `Double.toString(x)` at a given scale, as a long, in `double`/`long`
  * arithmetic.
  *
  * Fast path: with y = |x|·10^scale computed in double, the decimal
  * string's scaled value lies within 2.5 ulps of y (the string is within
  * one ulp of x, and 10⁶·ulp(x) < 2·ulp(y)), so whenever y < 2⁴⁸ and
  * y's fraction is more than 8 ulps (y·2⁻⁴⁹) from .5, the HALF_UP result
  * is floor(y) or floor(y)+1 by that fraction alone. Everything else — a
  * tie or near-tie, a large magnitude — takes the exact `BigDecimal`
  * fallback, which IS the reference. ExactSpec pins the two against each
  * other over 10⁷ random and adversarial draws.
  */
object ExactMicros {

  /** [[micros6]]'s NULL: no tick quantizes to it (|q| < 10¹⁸). */
  final val NullMicros = Long.MinValue

  /** decimal(18,6)'s bound in micro-units: 10¹⁸. */
  private final val MaxMicros = 1000000000000000000L

  private final val FastLimit = (1L << 48).toDouble
  /** 8 ulps of y, as a fraction of y: ulp(y) ≤ y·2⁻⁵² for normal y. */
  private final val TieBand = 1.0 / (1L << 49)
  private final val Exact53 = 1L << 53
  private val Pow10 = Array(1.0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6)

  private[functions] def requireDouble(name: String,
                                       child: Expression): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a double input, got ${child.dataType.sql}; " +
        "cast the column to double at the call site")

  /** HALF_UP of `Double.toString(x)` at `scale` ∈ [0, 6] decimal places,
    * as the unscaled long; saturates at ±`Long.MaxValue` past the long
    * range. `x` must be finite.
    */
  def halfUp(x: Double, scale: Int): Long = {
    val y = math.abs(x) * Pow10(scale)
    if (y < FastLimit) {
      val fl = math.floor(y)
      val f = y - fl
      if (math.abs(f - 0.5) > y * TieBand) {
        val r = fl.toLong + (if (f > 0.5) 1L else 0L)
        return if (x < 0) -r else r
      }
    }
    val u = JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .unscaledValue()
    if (u.bitLength() < 64) u.longValue()
    else if (u.signum() > 0) Long.MaxValue
    else -Long.MaxValue
  }

  /** The unscaled value of `cast(v as decimal(18,6))`: [[NullMicros]] for
    * a non-finite `v`; past decimal(18,6) Spark's own cast decides —
    * it throws under ANSI and gives NULL otherwise.
    */
  def micros6(v: Double, ansi: Boolean): Long = {
    if (!java.lang.Double.isFinite(v)) return NullMicros
    val q = halfUp(v, 6)
    if (q < MaxMicros && q > -MaxMicros) q
    else {
      Cast(Literal(v), DecimalType(18, 6), None,
        if (ansi) EvalMode.ANSI else EvalMode.LEGACY).eval()
      NullMicros
    }
  }

  /** (hi·2³² + lo) micro-units as the correctly rounded double, which is
    * what `Decimal.toDouble` (`BigDecimal.doubleValue`) returns: below
    * 2⁵³ both operands of `v / 1e6` are exact and IEEE division rounds
    * correctly.
    */
  def toDouble(hi: Long, lo: Long): Double = {
    if (hi > -(1L << 20) && hi < (1L << 20) && lo >= 0 && lo < Exact53) {
      val v = (hi << 32) + lo
      if (v > -Exact53 && v < Exact53) return v.toDouble / 1e6
    }
    new JBigDecimal(BigInteger.valueOf(hi).shiftLeft(32)
      .add(BigInteger.valueOf(lo)), 6).doubleValue()
  }

  /** Spark's `round(x, 6)` for a double. */
  def round6(x: Double): Double = {
    if (!java.lang.Double.isFinite(x)) return x
    val u = halfUp(x, 6)
    if (u > -Exact53 && u < Exact53) u.toDouble / 1e6
    else JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .doubleValue()
  }
}
