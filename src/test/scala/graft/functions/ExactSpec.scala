package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import graft.SparkTestBase
import graft.ops.Exact
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** The micro-unit kernel behind `Exact.dsum`/`davg` against the decimal
  * form it replaces, `round(try_divide(cast(sum(cast(v as
  * decimal(18,6))) as double), count(v)), 6)`: the contract rows (values
  * measured on that form, codegen'd and interpreted), the non-double
  * rejection, and a property test of the scalar kernels against the
  * `BigDecimal` reference over 10⁷ draws.
  */
class ExactSpec extends SparkTestBase {

  private val schema = StructType(Seq(StructField("g", IntegerType),
    StructField("v", DoubleType, nullable = true)))

  /** (dsum, davg) of one group; None is NULL. */
  private def sumAvg(vals: Seq[java.lang.Double])
      : (Option[Double], Option[Double]) = {
    val rows = vals.map(v => Row(0, v))
    val r = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
      .groupBy("g")
      .agg(Exact.dsum(col("v")).as("s"), Exact.davg(col("v")).as("a"))
      .head()
    def at(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    (at(1), at(2))
  }

  private def bits(d: Option[Double]): Option[Long] =
    d.map(java.lang.Double.doubleToRawLongBits)

  private def bothCodegenModes(body: => Unit): Unit = {
    body
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("contract rows: the decimal form's values, bit for bit") {
    val nan = Double.NaN
    // (input, dsum, davg); every value measured on the decimal form
    val rows: Seq[(Seq[java.lang.Double], Option[Double], Option[Double])] =
      Seq(
        // NaN/±Inf: a NULL addend that count(v) still counts
        (Seq(1.0, nan), Some(1.0), Some(0.5)),
        (Seq(nan), None, None),
        (Seq(Double.PositiveInfinity), None, None),
        (Seq(Double.NegativeInfinity, 2.0), Some(2.0), Some(1.0)),
        // rounding cases
        (Seq(-0.0), Some(0.0), Some(0.0)),
        (Seq(5e-7), Some(1e-6), Some(1e-6)),
        (Seq(-2.5e-7), Some(0.0), Some(0.0)),
        (Seq(123456.7890125), Some(123456.789013), Some(123456.789013)),
        (Seq(0.1234565, 0.1234575), Some(0.246915), Some(0.123458)),
        (Seq(999999999999.9999), Some(9.999999999999999e11),
          Some(9.999999999999999e11)),
        // NULLs: not counted; an all-NULL group is NULL
        (Seq(null, null), None, None),
        (Seq(null, 2.5), Some(2.5), Some(2.5)))
    bothCodegenModes {
      rows.foreach { case (in, s, a) =>
        val (gs, ga) = sumAvg(in)
        assert(bits(gs) == bits(s), s"dsum($in) = $gs, want $s")
        assert(bits(ga) == bits(a), s"davg($in) = $ga, want $a")
      }
    }
  }

  test("|v| >= 1e12 throws the decimal cast's NUMERIC_VALUE_OUT_OF_RANGE " +
    "under ANSI and is a NULL addend without it") {
    bothCodegenModes {
      Seq(1e12 -> "1000000000000", -1e12 -> "-1000000000000").foreach {
        case (v, shown) =>
          val e = intercept[Exception](sumAvg(Seq(v)))
          val cause = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .collectFirst { case a: SparkThrowable
              if a.getClass.getName ==
                "org.apache.spark.SparkArithmeticException" => a }
          assert(cause.isDefined, s"no SparkArithmeticException in $e")
          assert(cause.get.getCondition ==
            "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")
          assert(cause.get.asInstanceOf[Throwable].getMessage.contains(
            s"$shown cannot be represented as Decimal(18, 6). If " +
              "necessary set \"spark.sql.ansi.enabled\" to \"false\" to " +
              "bypass this error, and return NULL instead. SQLSTATE: 22003"),
            e.getMessage)
      }
    }
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val (s, a) = sumAvg(Seq(1e12, 2.0))
      assert(s.contains(2.0) && a.contains(1.0), (s, a))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
  }

  test("a non-double input is rejected at analysis with a clear message") {
    import spark.implicits._
    val df = Seq((1L, BigDecimal("1.5"), "x")).toDF("l", "d", "s")
    Seq("l" -> "BIGINT", "d" -> "DECIMAL(38,18)", "s" -> "STRING").foreach {
      case (c, sql) =>
        Seq(Exact.dsum _, Exact.davg _).foreach { f =>
          val e = intercept[AnalysisException](df.agg(f(col(c))).collect())
          assert(e.getMessage.contains(
            s"exact_micros6 requires a double input, got $sql; cast the " +
              "column to double at the call site"), e.getMessage)
        }
    }
    val e = intercept[AnalysisException](
      spark.sql("SELECT exact_round6(1L)").collect())
    assert(e.getMessage.contains("exact_round6 requires a double input"))
    // the cast at the call site is the fix
    assert(df.agg(Exact.davg(col("l").cast("double"))).head().getDouble(0)
      == 1.0)
  }

  // ---- scalar kernels vs the BigDecimal reference ----------------------

  /** HALF_UP of Double.toString(x) at `scale`, unscaled, saturating. */
  private def refHalfUp(x: Double, scale: Int): Long = {
    val u = JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .unscaledValue()
    if (u.bitLength() < 64) u.longValue()
    else if (u.signum() > 0) Long.MaxValue else -Long.MaxValue
  }

  /** Spark's Round for a double: BigDecimal(d).setScale(6).toDouble. */
  private def refRound6(x: Double): Double =
    if (!java.lang.Double.isFinite(x)) x
    else JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      .doubleValue()

  /** The quantize that ran before the kernel core, throws included. */
  private def refQuantize(x: Double): Either[String, Long] = {
    val scaled = x * 1e6
    if (!java.lang.Double.isFinite(scaled)) Left("non-finite")
    else {
      val q = JBigDecimal.valueOf(scaled).setScale(0, RoundingMode.HALF_UP)
        .doubleValue().toLong
      if (q > (1L << 53) || q < -(1L << 53)) Left("past 2^53") else Right(q)
    }
  }

  private def quantizeOutcome(x: Double): Either[String, Long] =
    try Right(PearsonArrays.quantize(x))
    catch {
      case e: ArithmeticException if e.getMessage.contains("non-finite") =>
        Left("non-finite")
      case e: ArithmeticException if e.getMessage.contains("past 2^53") =>
        Left("past 2^53")
    }

  private def dbits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** One draw per category, cycling: the shapes a price feed, a 6-dp
    * money column, the tie band and the fast-path limits produce.
    */
  private def draw(rnd: Random, i: Int): Double = {
    val sign = if (rnd.nextBoolean()) -1.0 else 1.0
    val fast48 = (1L << 48) / 1e6 // |x|·1e6 = 2^48
    val exact53 = (1L << 53) / 1e6 // |x|·1e6 = 2^53
    def near(x: Double): Double = rnd.nextInt(3) match {
      case 0 => x
      case 1 => Math.nextUp(x)
      case _ => Math.nextDown(x)
    }
    val x = i % 12 match {
      case 0 => rnd.nextDouble() * 1000 // uniform prices
      case 1 => rnd.nextLong(1000000000000L) / 1e6 // 6-dp money < 1e6
      case 2 => rnd.nextLong(100000000L) / 1e6 // 6-dp money < 100
      case 3 => near((rnd.nextLong(1000000000000L) + 0.5) / 1e6) // ties
      case 4 => near((rnd.nextLong(1000000L) + 0.5) / 1e6) // small ties
      case 5 => if (rnd.nextBoolean()) 0.0 else -0.0
      case 6 => java.lang.Double.longBitsToDouble( // subnormals
        rnd.nextLong() & 0x000FFFFFFFFFFFFFL)
      case 7 => java.lang.Double.longBitsToDouble(rnd.nextLong()) // any
      case 8 => near(fast48 * (1 + (rnd.nextDouble() - 0.5) * 1e-6))
      case 9 => near(exact53 * (1 + (rnd.nextDouble() - 0.5) * 1e-6))
      case 10 => // ties on both sides of the fast-path limit
        near((((1L << 48) + (rnd.nextLong(200000L) - 100000L)) + 0.5) / 1e6)
      case _ => rnd.nextDouble() * math.pow(10, rnd.nextInt(30) - 15)
    }
    sign * x
  }

  test("scalar kernels == the BigDecimal reference over 1e7 draws") {
    val rnd = new Random(20261019)
    val n = 10000000
    var i = 0
    while (i < n) {
      val x = draw(rnd, i)
      // plain ifs, not assert(…, clue): the clue string (two
      // Double.toString calls) would otherwise be built for every draw
      if (java.lang.Double.isFinite(x)) {
        val q = ExactMicros.halfUp(x, 6)
        if (q != refHalfUp(x, 6)) fail(s"halfUp($x, 6) = $q")
        if (q < 1000000000000000000L && q > -1000000000000000000L) {
          if (ExactMicros.micros6(x, ansi = true) != q) fail(s"micros6($x)")
        } else if ((i & 63) == 0 && // past decimal(18,6): Spark's Cast
            ExactMicros.micros6(x, ansi = false) != ExactMicros.NullMicros)
          fail(s"micros6($x) past decimal(18,6)")
        if (dbits(ExactMicros.round6(x)) != dbits(refRound6(x)))
          fail(s"round6($x)")
        val s = x * 1e6
        if (java.lang.Double.isFinite(s) &&
            ExactMicros.halfUp(s, 0) != refHalfUp(s, 0))
          fail(s"halfUp($s, 0)")
        if (quantizeOutcome(x) != refQuantize(x)) fail(s"quantize($x)")
      } else {
        assert(ExactMicros.micros6(x, ansi = true) == ExactMicros.NullMicros)
        assert(ExactMicros.round6(x).isNaN == x.isNaN)
        assert(quantizeOutcome(x) == Left("non-finite"))
      }
      i += 1
    }
  }

  test("(hi, lo) sums -> double == new BigDecimal(hi*2^32+lo, 6)" +
    ".doubleValue") {
    val rnd = new Random(1019)
    def ref(hi: Long, lo: Long): Double =
      new JBigDecimal(BigInteger.valueOf(hi).shiftLeft(32)
        .add(BigInteger.valueOf(lo)), 6).doubleValue()
    def check(hi: Long, lo: Long): Unit =
      if (dbits(ExactMicros.toDouble(hi, lo)) != dbits(ref(hi, lo)))
        fail(s"(hi=$hi, lo=$lo)")
    Seq((0L, 0L), (0L, 1L), (-1L, (1L << 32) - 1), ((1L << 20) - 1, 0L),
      (1L << 20, 0L), (-(1L << 20), 0L), (0L, (1L << 53) - 1),
      (0L, 1L << 53), (1L << 21, 0L), (-(1L << 21), 1L),
      (Long.MaxValue >> 4, Long.MaxValue), (Long.MinValue >> 4, 0L))
      .foreach { case (h, l) => check(h, l) }
    var i = 0
    while (i < 2000000) {
      // realistic: the split sums of 1..64 micro-unit ticks of random
      // magnitude, either sign
      val m = 1 + rnd.nextInt(64)
      val mag = 1L << (1 + rnd.nextInt(59))
      var hi = 0L
      var lo = 0L
      var t = 0
      while (t < m) {
        val q = rnd.nextLong(2 * mag) - mag
        hi += q >> 32
        lo += q & 0xFFFFFFFFL
        t += 1
      }
      check(hi, lo)
      // arbitrary words across both sides of the 2^20 / 2^53 guards
      check(rnd.nextLong() >> rnd.nextInt(64),
        rnd.nextLong() >>> (1 + rnd.nextInt(63)))
      i += 1
    }
  }
}
