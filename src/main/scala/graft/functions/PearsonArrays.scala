package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Pairwise-complete Pearson over TWO POSITION-ALIGNED double arrays as
  * a native Catalyst expression — the scalar twin of the one-pass
  * [[CorrMatrixAgg]] matrix aggregate, for consumers that hold both
  * series of a pair in array columns (the pruned-corr vector verify,
  * where each candidate pair carries its two series vectors).
  *
  * Semantics, slot by slot: a slot contributes iff both sides are
  * non-null (slots past the shorter array — zip padding — are skipped
  * the same way); each contributing value is quantized with
  * `round(x·1e6, 0)` double semantics (HALF_UP of `Double.toString(d)`
  * at scale 0, the exact Spark `Round` implementation for doubles, on
  * [[ExactMicros.halfUp]]); the co-moments accumulate as EXACT 128-bit
  * integers (Math.multiplyHigh + carry — a decimal sum's exactness
  * without its per-slot object churn); and the finish is the
  * `cov/√(vx·vy)` double expression behind the `n ≥ 2 ∧ vx > 0 ∧
  * vy > 0` guard, with each exact co-moment converted by
  * `BigDecimal.doubleValue` — the conversion `cast(decimal as double)`
  * performs. So it is bit-identical to the same formula written as a
  * DECIMAL(38,0) Catalyst aggregate over a bucket self-join (the test
  * tree's `PearsonReference`, pinned by PearsonArraysSpec and
  * CorrPruneSpec), and to [[CorrMatrixAgg]]'s cells (CorrMatrixExactSpec).
  * Envelope: it never diverges silently — it throws on non-finite
  * input, on a quantized magnitude past 2^53 (|x| > ~9×10⁹, where the
  * double round-trip stops being lossless, so exactness would be a
  * lie), and on a 128-bit co-moment overflow (add128 traps signed wrap;
  * reachable only at ~10⁶⁺ maximal-magnitude slots).
  *
  * Why a custom expression: built-ins can only correlate two array
  * columns by exploding candidate·dims slots into rows, and EVERY
  * explode shape measured (zip_with lambda, arrays_zip structs,
  * posexplode + element_at, an aggregate() fold) pays ~1–3 µs of
  * per-slot interpreter or row machinery — the whole verify's cost at
  * wide dims. This kernel is one JIT-compiled primitive loop over the
  * two unsafe arrays (no boxing, no per-slot objects) reached by a
  * single static call per PAIR, inside whole-stage codegen.
  */
case class PearsonArrays(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pearson_arrays requires (array<double>, array<double>), " +
          s"got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pearson_arrays"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PearsonArrays.rho(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("pearsonResult")
      s"""
         |java.lang.Double $r = graft.functions.PearsonArrays.rho($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PearsonArrays =
    copy(left = newLeft, right = newRight)
}

object PearsonArrays {

  /** Quantized-magnitude ceiling: 2^53 — the EXACTNESS boundary, not a
    * wrap-safety margin (add128 traps its own overflow). Past 2^53 the
    * `doubleValue().toLong` round-trip below is lossy (a double cannot
    * hold every integer), so the kernel could no longer claim exact
    * arithmetic — it rejects loudly instead: |x| > ~9×10⁹ pre-quantize
    * is refused. (A DECIMAL(38,0) form would compute there for tiny n,
    * but its 38-digit sums overflow far below n·(2^53)² anyway.)
    */
  private val MaxQuantized = 1L << 53

  /** Exact signed-128-bit accumulate on a flat-buffer slot pair:
    * (buf(o), buf(o+1)) = (hi, lo) two's complement += (addHi, addLo) —
    * the state of [[rho]] and of [[CorrMatrixAgg]]'s series, pair and
    * correction slots. Signed overflow TRAPS (same-sign addends,
    * opposite-sign result — the exact multi-word rule), so nothing can
    * wrap silently: with per-slot magnitudes ≤ 2^53 each product is ≤
    * 2^106, and only ≳2×10⁶ maximal-magnitude slots could reach the
    * 2^127 capacity — where this throws instead.
    */
  private[functions] def add128(buf: Array[Long], o: Int,
                                addHi: Long, addLo: Long): Unit = {
    val hi = buf(o)
    val lo = buf(o + 1)
    val newLo = lo + addLo
    val carry = ((lo & addLo) | ((lo | addLo) & ~newLo)) >>> 63
    val newHi = hi + addHi + carry
    if ((hi < 0) == (addHi < 0) && (newHi < 0) != (hi < 0))
      throw new ArithmeticException(
        "128-bit co-moment overflow — series too long at this magnitude")
    buf(o) = newHi
    buf(o + 1) = newLo
  }

  /** (hi, lo) two's-complement pair as a BigInteger. */
  private[functions] def big(hi: Long, lo: Long): BigInteger = {
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new BigInteger(bytes)
  }

  /** Spark `round(x·1e6, 0)` for doubles, then the integral result as a
    * long — the decimal reference form's exact quantization (`Round` for
    * DoubleType is HALF_UP of `Double.toString` at scale 0; the follow-on
    * cast to DECIMAL(38,0) is exact on an integral double). The rounding
    * is [[ExactMicros.halfUp]] at scale 0, the kernel's one HALF_UP core:
    * plain double arithmetic unless x·1e6 sits on or near a .5 tie or
    * past 2⁴⁸, where the core falls back to `BigDecimal`.
    * Non-finite input and out-of-envelope magnitudes fail loudly here
    * (the decimal form fails the same way at its ANSI cast — Spark's
    * `Round` passes NaN/Infinity through for doubles, and the decimal
    * cast then throws): silent saturation via `toLong`, or an add128
    * wrap from admitted-but-huge values, can never happen.
    */
  private[functions] def quantize(x: Double): Long = {
    val scaled = x * 1e6
    if (!java.lang.Double.isFinite(scaled))
      throw new ArithmeticException(
        s"pearson_arrays: non-finite input $x — outside the exact " +
          "envelope (a decimal cast fails there too under ANSI)")
    val q = ExactMicros.halfUp(scaled, 0)
    if (q > MaxQuantized || q < -MaxQuantized)
      throw new ArithmeticException(
        s"pearson_arrays: input $x quantizes past 2^53, where the " +
          "double round-trip stops being lossless — refusing rather " +
          "than computing inexactly")
    q
  }

  /** One primitive pass over the aligned pair; null when fewer than two
    * complete slots or either variance is exactly zero — the decimal
    * reference form's guard, on the same exact integers.
    */
  def rho(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var cnt = 0L
    val acc = new Array[Long](10) // (hi, lo) of Σx, Σy, Σx², Σy², Σxy
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val xq = quantize(a.getDouble(i))
        val yq = quantize(b.getDouble(i))
        cnt += 1
        add128(acc, 0, xq >> 63, xq)
        add128(acc, 2, yq >> 63, yq)
        add128(acc, 4, Math.multiplyHigh(xq, xq), xq * xq)
        add128(acc, 6, Math.multiplyHigh(yq, yq), yq * yq)
        add128(acc, 8, Math.multiplyHigh(xq, yq), xq * yq)
      }
      i += 1
    }
    if (cnt < 2) return null
    finishRhoSlots(cnt, acc(0), acc(1), acc(2), acc(3),
      acc(4), acc(5), acc(6), acc(7), acc(8), acc(9))
  }

  // ---------------------------------------------------------------------
  // Fast exact finish: the same deterministic double chain as
  // [[finishRho]] computed in raw 128-bit long arithmetic — no
  // BigInteger/BigDecimal allocation per cell. Bit-identical BY
  // CONSTRUCTION: the integer arithmetic is exact under the checked
  // preconditions and [[toDouble128]] is the correctly-rounded
  // (nearest-even) conversion, which is UNIQUE — so fast path and
  // BigInteger path cannot differ by even one ulp
  // (PearsonArraysSpec property-pins this on adversarial magnitudes).
  // Motivation: [[CorrMatrixAgg]]'s finish runs once per matrix
  // CELL with parallelism capped at the window count — at e1b's shape
  // (250k cells, 2 windows) the BigInteger finish cost a measured
  // ~0.4 s of the query's 2.6 s; this path is ~50 ns/cell.
  // ---------------------------------------------------------------------

  /** Correctly-rounded (round-to-nearest-even) double of a SIGNED
    * 128-bit two's-complement (hi, lo) — exactly
    * `new BigDecimal(BigInteger).doubleValue()`, allocation-free.
    */
  private[functions] def toDouble128(hi: Long, lo: Long): Double = {
    if (hi == (lo >> 63)) return lo.toDouble // fits signed 64: exact JVM op
    val neg = hi < 0
    var mLo = lo
    var mHi = hi
    if (neg) { mLo = ~lo + 1; mHi = ~hi + (if (mLo == 0) 1 else 0) }
    val nlz = if (mHi != 0) java.lang.Long.numberOfLeadingZeros(mHi)
              else 64 + java.lang.Long.numberOfLeadingZeros(mLo)
    val bits = 128 - nlz // > 53 here (≤ 53 would have fit signed 64)
    val shift = bits - 54
    // top = magnitude >>> shift (54 significant bits);
    // sticky = any shifted-out bit set. JVM shifts are mod-64: branch.
    var top = 0L
    var sticky = false
    if (shift == 0) top = mLo // bits = 54 ⇒ mHi = 0
    else if (shift < 64) {
      top = (mHi << (64 - shift)) | (mLo >>> shift)
      sticky = (mLo & ((1L << shift) - 1)) != 0
    } else if (shift == 64) { top = mHi; sticky = mLo != 0 }
    else {
      top = mHi >>> (shift - 64)
      sticky = (mHi & ((1L << (shift - 64)) - 1)) != 0 || mLo != 0
    }
    var mant = top >>> 1
    if ((top & 1) != 0 && (sticky || (mant & 1) != 0)) mant += 1
    var e = shift + 1
    if (mant == (1L << 53)) { mant >>>= 1; e += 1 }
    val d = Math.scalb(mant.toDouble, e)
    if (neg) -d else d
  }

  /** Magnitude bit length of a signed 128-bit value (0 for 0). */
  @inline private def bits128(hi: Long, lo: Long): Int = {
    var mLo = lo
    var mHi = hi
    if (hi < 0) { mLo = ~lo + 1; mHi = ~hi + (if (mLo == 0) 1 else 0) }
    if (mHi != 0) 128 - java.lang.Long.numberOfLeadingZeros(mHi)
    else 64 - java.lang.Long.numberOfLeadingZeros(mLo)
  }

  /** The co-moment finish over raw 128-bit buffer slots, with the fast
    * long-arithmetic path when the checked envelope holds (every input
    * the quantizer admits at ≤ ~10⁵ slots per pair does) and the
    * BigInteger [[finishRho]] as the bit-identical fallback. Arguments:
    * the pair count and five (hi, lo) co-moments — [[CorrMatrixAgg]]
    * rebuilds them per pair from its series and correction slots.
    */
  private[functions] def finishRhoSlots(cnt: Long,
      sxHi: Long, sxLo: Long, syHi: Long, syLo: Long,
      sxxHi: Long, sxxLo: Long, syyHi: Long, syyLo: Long,
      sxyHi: Long, sxyLo: Long): java.lang.Double = {
    val nBits = 64 - java.lang.Long.numberOfLeadingZeros(cnt)
    // preconditions for exact 128-bit products: n·sxx, n·syy, n·sxy
    // below 2^126, sx/sy in signed 64 (⇒ sx·sy < 2^124); differences
    // then stay below 2^127 — no overflow anywhere in the fast path
    val fast = sxHi == (sxLo >> 63) && syHi == (syLo >> 63) &&
      bits128(sxxHi, sxxLo) + nBits <= 126 &&
      bits128(syyHi, syyLo) + nBits <= 126 &&
      bits128(sxyHi, sxyLo) + nBits <= 126
    if (!fast)
      return finishRho(cnt, big(sxHi, sxLo), big(syHi, syLo),
        big(sxxHi, sxxLo), big(syyHi, syyLo), big(sxyHi, sxyLo))
    // n·acc for a NON-NEGATIVE 128-bit acc (sxx, syy): unsigned shape
    // n·(hi,lo): sxy may be negative — sign-magnitude around the same core
    @inline def mulPosHi(hi: Long, lo: Long): Long =
      hi * cnt + Math.multiplyHigh(lo, cnt) + (if (lo < 0) cnt else 0L)
    val nSxxLo = sxxLo * cnt
    val nSxxHi = mulPosHi(sxxHi, sxxLo)
    val nSyyLo = syyLo * cnt
    val nSyyHi = mulPosHi(syyHi, syyLo)
    var xyHi = sxyHi
    var xyLo = sxyLo
    val xyNeg = xyHi < 0
    if (xyNeg) { xyLo = ~sxyLo + 1; xyHi = ~sxyHi + (if (xyLo == 0) 1 else 0) }
    var nSxyLo = xyLo * cnt
    var nSxyHi = xyHi * cnt + Math.multiplyHigh(xyLo, cnt) +
      (if (xyLo < 0) cnt else 0L)
    if (xyNeg) {
      nSxyLo = ~nSxyLo + 1
      nSxyHi = ~nSxyHi + (if (nSxyLo == 0) 1 else 0)
    }
    // sx², sy², sx·sy as signed 64×64→128
    val sx = sxLo
    val sy = syLo
    val sxxSqHi = Math.multiplyHigh(sx, sx); val sxxSqLo = sx * sx
    val syySqHi = Math.multiplyHigh(sy, sy); val syySqLo = sy * sy
    val sxyPrHi = Math.multiplyHigh(sx, sy); val sxyPrLo = sx * sy
    // differences (128-bit two's complement; bounded < 2^127 by the
    // precondition, so no wrap is possible)
    @inline def subLo(aLo: Long, bLo: Long): Long = aLo - bLo
    @inline def subHi(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Long =
      aHi - bHi - (if (java.lang.Long.compareUnsigned(aLo, bLo) < 0) 1 else 0)
    val vxLo = subLo(nSxxLo, sxxSqLo)
    val vxHi = subHi(nSxxHi, nSxxLo, sxxSqHi, sxxSqLo)
    val vyLo = subLo(nSyyLo, syySqLo)
    val vyHi = subHi(nSyyHi, nSyyLo, syySqHi, syySqLo)
    if (vxHi < 0 || (vxHi == 0 && vxLo == 0)) return null
    if (vyHi < 0 || (vyHi == 0 && vyLo == 0)) return null
    val covLo = subLo(nSxyLo, sxyPrLo)
    val covHi = subHi(nSxyHi, nSxyLo, sxyPrHi, sxyPrLo)
    val cov = toDouble128(covHi, covLo)
    val vx = toDouble128(vxHi, vxLo)
    val vy = toDouble128(vyHi, vyLo)
    java.lang.Double.valueOf(cov / math.sqrt(vx * vy))
  }

  /** The shared finish: rho as ONE deterministic double chain from the
    * exact integer co-moments — vx/vy/cov formed in BigInteger, each
    * converted by the correctly-rounded `BigDecimal.doubleValue` (the
    * conversion `cast(decimal as double)` performs), then
    * `cov / sqrt(vx·vy)` in IEEE doubles. Every consumer of the exact
    * kernel family ([[PearsonArrays.rho]] and
    * [[CorrMatrixAgg]]'s per-pair finish) runs THIS op sequence,
    * so two engines holding the same integer co-moments produce
    * bit-identical rho — the property the e1b oracle's HUGEINT mirror
    * relies on (its `CAST(CAST(v AS VARCHAR) AS DOUBLE)` is the same
    * correctly-rounded integer→double conversion). Null when either
    * variance is exactly zero (constant side) — undefined, as the
    * decimal reference form's guard. Callers ensure cnt ≥ 2.
    * [[finishRhoSlots]] is the allocation-free fast form of the same
    * chain.
    */
  private[functions] def finishRho(cnt: Long, sxB: BigInteger,
      syB: BigInteger, sxxB: BigInteger, syyB: BigInteger,
      sxyB: BigInteger): java.lang.Double = {
    val nB = BigInteger.valueOf(cnt)
    val vxB = nB.multiply(sxxB).subtract(sxB.multiply(sxB))
    val vyB = nB.multiply(syyB).subtract(syB.multiply(syB))
    if (vxB.signum <= 0 || vyB.signum <= 0) return null
    // BigDecimal.doubleValue is the correctly-rounded conversion that
    // cast(decimal as double) performs — keep it for bit parity with
    // the decimal reference form
    val cov = new JBigDecimal(
      nB.multiply(sxyB).subtract(sxB.multiply(syB))).doubleValue()
    val vx = new JBigDecimal(vxB).doubleValue()
    val vy = new JBigDecimal(vyB).doubleValue()
    java.lang.Double.valueOf(cov / math.sqrt(vx * vy))
  }
}
