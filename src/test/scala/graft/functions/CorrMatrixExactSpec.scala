package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Exactness laws of the integer co-moment matrix aggregate — the
  * property e1b's full-precision grading rests on: the output doubles
  * are a pure function of the input MULTISET, bit for bit, no matter how
  * Spark splits rows into partials or in which order it merges them, and
  * every cell equals the PearsonArrays kernel's rho on the same pair.
  * Run directly on the Aggregator (no session), like CorrMatrixSpec.
  *
  * Both bit-identity laws sweep the NaN density (0%, 20%, 70%, and a
  * column that is missing on every row) and the width (k = 2..7): the
  * aggregate rebuilds each pair's sums as series sum plus a signed
  * correction, which rows at most half missing subtract from and rows
  * more than half missing add to, so the sweep mixes both kinds of row
  * in one panel.
  */
class CorrMatrixExactSpec extends AnyFunSuite {

  private val k = 4
  private val trials = 200

  // 6-dp-quantized values (what Exact.davg / ffill hand every corr
  // consumer), magnitude ~100 — the engine's real input shape — with
  // some exact zeros (a zero square is the one value whose 128-bit
  // negation carries into the high word); `dead` names a column that
  // is missing on every row
  private def randRows(rnd: Random, width: Int, nanP: Double,
                       dead: Int): List[Seq[Double]] =
    List.fill(rnd.nextInt(31))(Seq.tabulate(width)(c =>
      if (c == dead || rnd.nextDouble() < nanP) Double.NaN
      else if (rnd.nextDouble() < 0.05) 0.0
      else math.round((rnd.nextDouble() * 200 - 100) * 1e6) / 1e6))

  /** (width, rows) over the NaN-density sweep, `trials` panels each. */
  private def sweep(rnd: Random): Seq[(Int, List[Seq[Double]])] =
    for {
      (nanP, deadCol) <- Seq((0.0, false), (0.2, false), (0.7, false),
        (0.2, true))
      t <- 1 to trials
    } yield {
      val width = 2 + t % 6
      (width, randRows(rnd, width, nanP,
        if (deadCol) rnd.nextInt(width) else -1))
    }

  private def run(rows: Seq[Seq[Double]], width: Int = k): Seq[CorrCell] = {
    val a = new CorrMatrixAgg(width)
    a.finish(rows.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)))
  }

  private def bits(o: Option[Double]): Option[Long] =
    o.map(java.lang.Double.doubleToLongBits)

  test("BIT-identical under any partition split and any merge order") {
    val rnd = new Random(52)
    for ((width, rows) <- sweep(rnd)) {
      val single = run(rows, width)
      // split into up to 5 partials at random cuts, merge in a shuffled
      // order — the degrees of freedom the task scheduler actually has
      val nParts = 1 + rnd.nextInt(5)
      val parts = Array.fill(nParts)(List.newBuilder[Seq[Double]])
      rows.foreach(r => parts(rnd.nextInt(nParts)) += r)
      val a = new CorrMatrixAgg(width)
      val partials = rnd.shuffle(parts.toList.map(_.result()))
        .map(_.foldLeft(a.zero)((b, r) => a.reduce(b, r.toArray)))
      val merged = a.finish(partials.reduceLeft(a.merge))
      merged.zip(single).foreach { case (m, s) =>
        assert(m.i == s.i && m.j == s.j && bits(m.rho) == bits(s.rho),
          s"pair (${m.i},${m.j}): merged ${m.rho} vs single ${s.rho}")
      }
    }
  }

  test("BIT-identical to the PearsonArrays kernel on every pair") {
    val rnd = new Random(53)
    var defined = 0
    for ((width, rows) <- sweep(rnd)) {
      val cells = run(rows, width)
      assert(cells.size == width * (width - 1) / 2)
      for (i <- 0 until width; j <- i + 1 until width) {
        // the kernel skips a slot when EITHER side is null — mirror the
        // aggregate's either-NaN skip by nulling both slots of the pair
        def side(c: Int, o: Int): GenericArrayData = new GenericArrayData(
          rows.map(r => if (r(c).isNaN || r(o).isNaN) null
            else java.lang.Double.valueOf(r(c))).toArray[Any])
        val kr = Option(PearsonArrays.rho(side(i, j), side(j, i)))
          .map(_.doubleValue())
        val ar = cells.find(c => c.i == i && c.j == j).get.rho
        assert(bits(kr) == bits(ar), s"pair ($i,$j): kernel $kr agg $ar")
        if (ar.isDefined) defined += 1
      }
    }
    assert(defined > trials, s"only $defined defined cells in the sweep")
  }

  test("undefined cells: n < 2 and quantized-constant sides are None") {
    assert(run(Seq(Seq(1.0, 2.0, 3.0, 4.0))).forall(_.rho.isEmpty))
    // column 0 constant AT THE 1e-6 QUANTUM (raw doubles differ by 1e-9):
    // exactly-zero integer variance, None — not cancellation garbage
    val sub = Seq(Seq(5.0, 1.0, 0.0, 0.0), Seq(5.000000001, 2.0, 1.0, 0.0))
    assert(run(sub).find(c => c.i == 0 && c.j == 1).get.rho.isEmpty)
  }

  test("envelope trap: a value quantizing past 2^53 throws loudly") {
    val ex = intercept[ArithmeticException] {
      run(Seq(Seq(1e10, 1.0, 0.0, 0.0), Seq(2e10, 2.0, 0.0, 0.0)))
    }
    assert(ex.getMessage.contains("2^53"))
  }
}
