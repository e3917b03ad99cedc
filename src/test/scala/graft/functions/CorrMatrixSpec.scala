package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Laws for the one-pass pairwise-complete correlation aggregate, checked
  * over seeded random panels (deterministic — no flake). These run the
  * Aggregator's reduce/merge/finish directly (no Spark session): the
  * partial-aggregation correctness they pin down is exactly what Spark
  * exercises when it splits rows across partitions and merges buffers.
  * The merge laws are BIT-exact (integer co-moments); the bit-identity
  * to the PearsonArrays kernel over NaN densities is CorrMatrixExactSpec.
  */
class CorrMatrixSpec extends AnyFunSuite {

  private val k = 4
  private def agg = new CorrMatrixAgg(k)
  private val trials = 200

  // 6-dp-quantized values (what Exact.davg / ffill hand every corr
  // consumer), magnitude ~100 — the engine's real input shape
  private def randRows(rnd: Random): List[Seq[Double]] =
    List.fill(rnd.nextInt(31))(Seq.fill(k)(
      if (rnd.nextInt(5) == 0) Double.NaN
      else math.round((rnd.nextDouble() * 200 - 100) * 1e6) / 1e6))

  private def run(rows: Seq[Seq[Double]]): Seq[CorrCell] = {
    val a = agg
    a.finish(rows.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)))
  }

  private def bits(o: Option[Double]): Option[Long] =
    o.map(java.lang.Double.doubleToLongBits)

  private def close(a: Option[Double], b: Option[Double],
                    tol: Double = 1e-9): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) < tol
    case _ => false
  }

  test("merge law: split at any point == single pass") {
    val rnd = new Random(42)
    for (_ <- 1 to trials) {
      val rows = randRows(rnd)
      val cut = if (rows.isEmpty) 0 else rnd.nextInt(rows.length + 1)
      val (l, r) = rows.splitAt(cut)
      val a = agg
      val merged = a.finish(a.merge(
        l.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)), r.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray))))
      val single = run(rows)
      assert(merged.zip(single).forall { case (m, s) =>
        m.i == s.i && m.j == s.j && bits(m.rho) == bits(s.rho) })
    }
  }

  test("merge is commutative") {
    val rnd = new Random(43)
    for (_ <- 1 to trials) {
      val (x, y) = (randRows(rnd), randRows(rnd))
      val a = agg
      val xy = a.finish(a.merge(x.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)),
        y.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray))))
      val yx = a.finish(a.merge(y.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)),
        x.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray))))
      assert(xy.zip(yx).forall { case (p, q) => bits(p.rho) == bits(q.rho) })
    }
  }

  test("rho(x, x) = 1 for a duplicated non-constant column") {
    val rows = Seq(Seq(1.0, 1.0, 5.0, 2.0), Seq(2.0, 2.0, 5.0, 3.0),
      Seq(4.0, 4.0, 5.0, 1.0))
    val cell01 = run(rows).find(c => c.i == 0 && c.j == 1).get
    assert(close(cell01.rho, Some(1.0)))
  }

  test("|rho| <= 1 always; constant column -> None") {
    val rnd = new Random(44)
    for (_ <- 1 to trials)
      run(randRows(rnd)).foreach(
        _.rho.foreach(r => assert(math.abs(r) <= 1.0 + 1e-12)))
    val const = Seq(Seq(5.0, 1.0, 2.0, 3.0), Seq(5.0, 2.0, 1.0, 0.0))
    assert(run(const).find(c => c.i == 0 && c.j == 1).get.rho.isEmpty)
  }

  test("affine invariance: rho(a*x+b, y) == rho(x, y) for a > 0") {
    val rnd = new Random(45)
    for (_ <- 1 to trials) {
      val rows = randRows(rnd)
      val a = rnd.nextDouble() * 9.5 + 0.5
      val b = rnd.nextDouble() * 100 - 50
      val scaled = rows.map(r => r.updated(0,
        if (r(0).isNaN) Double.NaN else a * r(0) + b))
      run(rows).zip(run(scaled)).filter(_._1.i == 0).foreach {
        case (o, g) => (o.rho, g.rho) match {
          case (Some(x), Some(y)) => assert(math.abs(x - y) < 1e-6)
          case _ => // degenerate variance may flip near zero; skip
        }
      }
    }
  }

  test("pairwise-complete: a NaN in column 2 does not drop the (0,1) pair") {
    val rows = Seq(
      Seq(1.0, 2.0, Double.NaN, 0.0),
      Seq(2.0, 4.0, 7.0, 0.0),
      Seq(3.0, 6.0, Double.NaN, 0.0))
    // (0,1) uses ALL three rows (perfectly correlated); a row-complete
    // implementation would only see the middle row (n=1 -> None)
    assert(close(run(rows).find(c => c.i == 0 && c.j == 1).get.rho,
      Some(1.0)))
  }

  test("near-constant series at large magnitude: stable rho, no " +
    "cancellation garbage") {
    // one 6-dp quantization step around magnitude 100 — exactly the
    // shape forward-fill produces. A raw-power-sum form in DOUBLES
    // computes vx = n·Σx²−(Σx)² here, where the true signal (~3e-10)
    // drowns in ~1e-7 of cancellation noise at this magnitude: a
    // sign-random vx and a garbage or spuriously-None rho. The integer
    // sums keep it exact. Both series move together only on the last
    // row, so the exact answer is 1.
    val rows = (1 to 287).map(_ =>
      Seq(100.000001, 1.0, 0.0, 0.0)) :+ Seq(100.000002, 2.0, 0.0, 0.0)
    val cell = run(rows).find(c => c.i == 0 && c.j == 1).get
    assert(close(cell.rho, Some(1.0), 1e-6), cell.rho)
    // and split across partials at an arbitrary cut, same answer
    val (l, r) = rows.splitAt(100)
    val a = agg
    val merged = a.finish(a.merge(
      l.foldLeft(a.zero)((b, x) => a.reduce(b, x.toArray)),
      r.foldLeft(a.zero)((b, x) => a.reduce(b, x.toArray))))
    assert(bits(merged.find(c => c.i == 0 && c.j == 1).get.rho) ==
      bits(cell.rho))
  }

  test("matches the direct two-pass Pearson computation") {
    val rnd = new Random(46)
    for (_ <- 1 to trials) {
      val rows = randRows(rnd)
      val cells = run(rows)
      for (i <- 0 until k; j <- i + 1 until k) {
        val pairs = rows.map(r => (r(i), r(j)))
          .filterNot(p => p._1.isNaN || p._2.isNaN)
        val want: Option[Double] =
          if (pairs.length < 2) None
          else {
            val n = pairs.length.toDouble
            val mx = pairs.map(_._1).sum / n
            val my = pairs.map(_._2).sum / n
            val vx = pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum
            val vy = pairs.map(p => (p._2 - my) * (p._2 - my)).sum
            val cov = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
            if (vx <= 0 || vy <= 0) None else Some(cov / math.sqrt(vx * vy))
          }
        val got = cells.find(c => c.i == i && c.j == j).get.rho
        (want, got) match {
          case (Some(w), Some(g)) => assert(math.abs(w - g) < 1e-7,
            s"pair ($i,$j): two-pass $w agg $g")
          case (None, None) =>
          case (w, g) => fail(s"pair ($i,$j): want $w got $g")
        }
      }
    }
  }
}
