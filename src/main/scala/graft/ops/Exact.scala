package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-exact numeric aggregation helpers.
  *
  * Double-precision `sum`/`avg` are not associative, so a partial-aggregated
  * Spark sum and a single-threaded DuckDB sum can disagree in the last ulp
  * (and a Spark re-run can disagree with itself across shuffles). The
  * fixtures' doubles are money-like (≤ 4-6 decimal places), so summing
  * exact 6-dp micro-units is exact, deterministic, and identical across
  * engines; the final conversion back to double is a single well-defined
  * one.
  *
  * `dsum`/`davg` give the bits of the oracle's
  * `round(try_divide(cast(sum(cast(v as decimal(18,6))) as double),
  * count(v)), 6)` on the native micro-unit kernel
  * ([[graft.functions.ExactMicros]]): each tick becomes its HALF_UP
  * micro-units as a long, summed by two built-in long sums (over `q >> 32`
  * and `q & 0xFFFFFFFF`), so the aggregate buffers are fixed-width and
  * HashAggregate stays codegen'd. The sum is exact up to 2³¹ rows per
  * group at any magnitude (past that the low-word sum can overflow, which
  * ANSI mode reports); decimal(28,6), the decimal form's sum type, holds
  * 10¹⁰ rows at the maximal |v| < 10¹². NaN and ±Inf are NULL addends
  * that `count(v)` still counts; |v| ≥ 10¹² fails like the decimal cast.
  * Input must be a double column (rejected at analysis otherwise).
  */
object Exact {

  /** Exact sum of a money-like double column; result as double. */
  def dsum(c: Column): Column = {
    val q = call_function("exact_micros6", c)
    call_function("exact_micros_to_double",
      sum(shiftright(q, 32)), sum(q.bitwiseAND(0xFFFFFFFFL)))
  }

  /** Exact mean of a money-like double column, rounded to 6 dp.
    * `try_divide` keeps the all-null group case NULL under ANSI mode
    * (matching SQL sum/count semantics) instead of throwing.
    */
  def davg(c: Column): Column =
    call_function("exact_round6", try_divide(dsum(c), count(c)))

  /** Integer cents (x*100 rounded) — exact revenue arithmetic without
    * double multiplication drift: round() collapses the ~1e-13 double
    * representation error before the bigint cast.
    */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")
}
