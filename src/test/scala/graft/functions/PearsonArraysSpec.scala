package graft.functions

import graft.{PearsonReference, SparkTestBase}
import graft.ops.Stats
import org.apache.spark.sql.functions._

/** Direct pins for the [[PearsonArrays]] kernel — the scaladoc's
  * bit-identity claim against the [[PearsonReference.pearson]] decimal
  * aggregate (the former `Stats.pearson`, which the test names still
  * call it), checked with `==` on the raw doubles (no tolerance: the
  * kernel's 128-bit integer co-moments and BigInteger→double finish
  * must reproduce the decimal aggregate's exact value, not approximate
  * it).
  */
class PearsonArraysSpec extends SparkTestBase {
  import spark.implicits._

  private def lcg(seed: Long): Iterator[Double] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(s => ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5)

  /** rho for one pair, both ways: kernel on two array columns vs the
    * aggregate on the exploded position rows.
    */
  private def bothWays(xs: Seq[Option[Double]], ys: Seq[Option[Double]])
      : (Option[Double], Option[Double]) = {
    val kernel = Seq((xs, ys)).toDF("va", "vb")
      .select(Stats.pearsonArrays(col("va"), col("vb")).as("rho"))
      .head()
    val k = if (kernel.isNullAt(0)) None else Some(kernel.getDouble(0))
    val rows = xs.zipAll(ys, None, None).map { case (x, y) => (x, y) }
    val agg = rows.toDF("x", "y")
      .agg(PearsonReference.pearson(col("x"), col("y")).as("rho"))
      .head()
    val a = if (agg.isNullAt(0)) None else Some(agg.getDouble(0))
    (k, a)
  }

  test("bit-identical to the Stats.pearson aggregate on random panels " +
    "with null slots") {
    val rnd = lcg(7L).map(v => v * 200) // |x| ~ 1e2, xq ~ 1e8
    for (n <- Seq(2, 3, 17, 256)) {
      val xs = (0 until n).map(_ => Some(rnd.next()))
      val ys = (0 until n).map(_ => Some(rnd.next()))
      // plant null slots on either side and both sides
      val xs2 = xs.zipWithIndex.map { case (v, i) =>
        if (i % 7 == 1) None else v }
      val ys2 = ys.zipWithIndex.map { case (v, i) =>
        if (i % 5 == 2) None else v }
      val (k, a) = bothWays(xs2, ys2)
      assert(k.isDefined == a.isDefined, s"n=$n: $k vs $a")
      for (kv <- k; av <- a)
        assert(kv == av, s"n=$n: kernel $kv != aggregate $av (bitwise)")
    }
  }

  test("128-bit accumulation: magnitudes whose squares overflow a " +
    "long still match the decimal aggregate exactly") {
    // |x| ~ 1e6 -> xq ~ 1e12 -> xq^2 ~ 1e24, far past Long.MaxValue:
    // only the multiplyHigh/carry path can sum these; the decimal
    // aggregate's 38-digit sums are the exact reference
    val rnd = lcg(99L).map(v => v * 2e6)
    val xs = (0 until 64).map(_ => Some(rnd.next()))
    val ys = (0 until 64).map(_ => Some(rnd.next()))
    val (k, a) = bothWays(xs, ys)
    assert(k.isDefined && a.isDefined)
    assert(k.get == a.get, s"kernel ${k.get} != aggregate ${a.get}")
  }

  test("guards: fewer than two complete slots, or a constant side, " +
    "yield null — exactly as the aggregate") {
    val checks = Seq(
      // one complete slot only
      (Seq(Some(1.0), None, Some(2.0)), Seq(Some(3.0), Some(4.0), None)),
      // zero complete slots
      (Seq(Some(1.0), None), Seq(None, Some(2.0))),
      // constant x side (exact zero variance on quantized values)
      (Seq(Some(5.0), Some(5.0), Some(5.0)),
        Seq(Some(1.0), Some(2.0), Some(3.0))))
    checks.foreach { case (xs, ys) =>
      val (k, a) = bothWays(xs, ys)
      assert(k.isEmpty, s"kernel must be null for $xs / $ys")
      assert(a.isEmpty, s"aggregate must be null for $xs / $ys")
    }
  }

  test("unequal lengths: slots past the shorter array are skipped, " +
    "matching zip-null padding") {
    val xs = Seq(Some(1.0), Some(2.5), Some(4.0), Some(100.0))
    val ys = Seq(Some(2.0), Some(1.5), Some(3.5))
    val (k, a) = bothWays(xs, ys) // zipAll pads ys with None
    assert(k.isDefined && a.isDefined && k.get == a.get)
  }

  /** INDEPENDENT exact reference: plain BigInteger arithmetic over the
    * documented semantics (quantize via BigDecimal HALF_UP at 1e6,
    * exact integer co-moments, BigDecimal→double finish) — no 128-bit
    * accumulator, no multiplyHigh, no toLong round-trip. The kernel
    * must match it BIT-FOR-BIT on every in-envelope input; agreement of
    * two structurally different implementations is the exactness
    * evidence fixed fixtures cannot give.
    */
  private def refRho(xs: Seq[Option[Double]],
                     ys: Seq[Option[Double]]): Option[Double] = {
    import java.math.{BigDecimal => BD, BigInteger => BI, RoundingMode}
    val n = math.min(xs.length, ys.length)
    val pairs = (0 until n).flatMap { i =>
      for (x <- xs(i); y <- ys(i)) yield (x, y)
    }
    if (pairs.size < 2) return None
    def q(d: Double): BI = BD.valueOf(d * 1e6)
      .setScale(0, RoundingMode.HALF_UP).toBigInteger
    val qs = pairs.map { case (x, y) => (q(x), q(y)) }
    val nB = BI.valueOf(pairs.size.toLong)
    def tot(f: ((BI, BI)) => BI): BI = qs.map(f).reduce(_.add(_))
    val sx = tot(_._1); val sy = tot(_._2)
    val vx = nB.multiply(tot(p => p._1.multiply(p._1)))
      .subtract(sx.multiply(sx))
    val vy = nB.multiply(tot(p => p._2.multiply(p._2)))
      .subtract(sy.multiply(sy))
    if (vx.signum <= 0 || vy.signum <= 0) return None
    val cov = new BD(nB.multiply(tot(p => p._1.multiply(p._2)))
      .subtract(sx.multiply(sy))).doubleValue()
    Some(cov / math.sqrt(new BD(vx).doubleValue() * new BD(vy).doubleValue()))
  }

  test("property sweep: kernel equals the independent exact reference " +
    "bit-for-bit across 400 random shapes (nulls, magnitudes, " +
    "constants, unequal lengths)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def ad(v: Seq[Option[Double]]) = new GenericArrayData(
      v.map(_.map(java.lang.Double.valueOf).orNull).toArray[Any])
    var state = 2024L
    def nextLong(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L; state
    }
    def nextDouble(): Double = // uniform in [-0.5, 0.5)
      ((nextLong() >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    val scales = Seq(1e-3, 1.0, 1e3, 1e6, 1e7)
    var checked = 0
    (1 to 400).foreach { caseNo =>
      val len = ((nextLong() >>> 50) % 41L).toInt // 0..40
      val lenB = if ((nextLong() & 7L) == 0L)     // 1-in-8: unequal
        ((nextLong() >>> 50) % 41L).toInt else len
      val nullPct = ((nextLong() >>> 48) % 50L).toInt // 0..49 %
      val scale = scales(((nextLong() >>> 40) % scales.size).toInt)
      val constantX = (nextLong() & 15L) == 0L    // 1-in-16: constant
      val cVal = nextDouble() * scale
      def series(n: Int, const: Boolean): Seq[Option[Double]] =
        (0 until n).map { _ =>
          if (((nextLong() >>> 32) % 100L).toInt < nullPct) None
          else Some(if (const) cVal else nextDouble() * scale)
        }
      val xs = series(len, constantX)
      val ys = series(lenB, const = false)
      val got = Option(PearsonArrays.rho(ad(xs), ad(ys))).map(_.doubleValue)
      val want = refRho(xs, ys)
      assert(got.isDefined == want.isDefined,
        s"case $caseNo: kernel $got vs reference $want\nxs=$xs\nys=$ys")
      for (g <- got; w <- want) {
        assert(g == w, // bitwise, no tolerance
          s"case $caseNo: kernel $g != reference $w\nxs=$xs\nys=$ys")
        checked += 1
      }
    }
    // the sweep must have exercised real correlations, not only guards
    assert(checked > 100, s"only $checked defined-rho cases — fixture bug")
  }

  test("registered SQL surface: pearson_arrays resolves in the engine " +
    "session and matches the Column form") {
    val df = Seq((Seq(1.0, 2.0, 3.0, 5.0), Seq(2.0, 4.0, 5.5, 9.0)))
      .toDF("va", "vb")
    df.createOrReplaceTempView("pa_t")
    val viaSql = spark.sql(
      "SELECT pearson_arrays(va, vb) AS rho FROM pa_t").head().getDouble(0)
    val viaCol = df.select(Stats.pearsonArrays(col("va"), col("vb")))
      .head().getDouble(0)
    assert(viaSql == viaCol)
    assert(viaSql > 0.99, s"fixture pair should be near-collinear: $viaSql")
  }

  test("out-of-envelope input fails loudly: NaN/Infinity and " +
    "past-2^53 magnitudes throw, never silently diverge") {
    def rhoOf(xs: Seq[Double], ys: Seq[Double]): Double =
      Seq((xs, ys)).toDF("va", "vb")
        .select(Stats.pearsonArrays(col("va"), col("vb")).as("rho"))
        .head().getDouble(0)
    val bad = Seq(
      Seq(Double.NaN, 2.0, 3.0),
      Seq(Double.PositiveInfinity, 2.0, 3.0),
      Seq(Double.NegativeInfinity, 2.0, 3.0),
      Seq(1e300, 2.0, 3.0),        // x*1e6 overflows to Infinity
      Seq(1e10, 2.0, 3.0),         // quantizes to 1e16 > 2^53
      Seq(-1e10, 2.0, 3.0))
    bad.foreach { xs =>
      val e = intercept[Exception] {
        rhoOf(xs, Seq(1.0, 2.0, 4.0))
      }
      // the ArithmeticException surfaces (possibly wrapped by Spark's
      // task failure machinery) — its message must reach the caller
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("pearson_arrays")),
        s"expected a loud pearson_arrays envelope failure for $xs, got $e")
    }
    // boundary sanity: magnitudes inside the lossless-quantize bound
    // compute — INCLUDING the band (2^47 < quantized ≤ 2^53) the
    // aggregate's envelope admits that an earlier guard wrongly refused
    val inEnv = rhoOf(Seq(8.9e9, 2.0, 3.0), Seq(1.0, 2.0, 4.0))
    assert(!inEnv.isNaN)
  }

  test("add128 traps a 128-bit co-moment wrap instead of silently " +
    "diverging: ~2.3M maximal-magnitude slots throw") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // each slot quantizes to ~8.9e15 (inside 2^53); its square is
    // ~2^106, so ~2^21 slots exceed add128's 2^127 capacity — the sxx
    // accumulator must THROW there, never wrap
    val n = 2300000
    val big = java.lang.Double.valueOf(8.9e9)
    val arr = new GenericArrayData(Array.fill[Any](n)(big))
    val e = intercept[ArithmeticException] {
      PearsonArrays.rho(arr, arr)
    }
    assert(e.getMessage.contains("overflow"), e.getMessage)
    // well under the capacity the same magnitude computes (constant
    // series → null rho, but through the full accumulation)
    val small = new GenericArrayData(Array.fill[Any](1000)(big))
    assert(PearsonArrays.rho(small, small) == null)
  }

  test("interpreted eval path (codegen off) equals the codegen path") {
    val df = Seq((Seq(Some(1.0), None, Some(3.0), Some(4.5)),
      Seq(Some(2.0), Some(9.9), None, Some(8.5)))).toDF("va", "vb")
    val on = df.select(Stats.pearsonArrays(col("va"), col("vb")))
      .head().getDouble(0)
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFm = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val off = df.select(Stats.pearsonArrays(col("va"), col("vb")))
        .head().getDouble(0)
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFm)
    }
  }
}
