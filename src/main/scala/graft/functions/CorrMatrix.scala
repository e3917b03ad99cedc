package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One cell of the correlation matrix in long form; `rho` is None where
  * the pair has fewer than two complete observations or zero variance
  * (pandas emits NaN there).
  */
case class CorrCell(i: Int, j: Int, rho: Option[Double])

/** One-pass pairwise-complete Pearson correlation matrix aggregate — the
  * engine's one full-matrix kernel (reference `data.corr()`,
  * TAQpipeline/correlation_matrix_exporter.py:163,209) behind every
  * `graft.ops.Corr.onePass` consumer, in place of an O(k²)-row bucket
  * self-join, and the matrix twin of the [[PearsonArrays]] kernel.
  *
  * Input: one k-wide `Array[Double]` panel row per time bucket, NaN =
  * missing (a primitive array: the O(k²) loop indexes it millions of
  * times per row). Each pair (i, j) correlates over exactly the rows
  * where BOTH sides are present — pandas' pairwise-complete semantics,
  * which row-complete methods (dropping any row with a NaN) get wrong.
  *
  * Numerics: values are quantized with the kernel's `round(x·1e6)`
  * ([[PearsonArrays.quantize]]) and the co-moments n, Σx, Σy, Σx², Σy²,
  * Σxy are exact 128-bit integers. So merge is bit-for-bit associative
  * and commutative (ANY partial-aggregation order gives the same
  * buffer), n·Σx²−(Σx)² has no cancellation error (a series one
  * quantization step around 100 — what forward-fill produces — keeps
  * its variance), and the finish is [[PearsonArrays.finishRhoSlots]]'s
  * deterministic double chain, which an oracle mirroring the integers
  * (DuckDB HUGEINT sums, e1b) reproduces bit-identically. Undefined
  * cells (n < 2, or a side constant in the quantized domain: vx = 0
  * exactly) are None. Envelope: a non-finite value or |x| > ~9×10⁹
  * throws in `quantize`; a 128-bit overflow traps in `add128`
  * (reachable only at ≳2×10⁶ maximal-magnitude rows).
  *
  * State, factored so no per-row sweep costs more than
  * present × min(present, missing) ≤ k²/4 slot updates (besides Σxy):
  *   - per pair p = (i, j), i < j, Σx_i·x_j over the rows where both
  *     are present — one 128-bit add per present pair of a row;
  *   - per series s, [N, Σx, Σx²] over the FULL rows where s is present
  *     (a row is full when at most half of it is missing, sparse
  *     otherwise);
  *   - the k×k correction matrix: entry (m, a) holds a signed
  *     [c, Σx_a, Σx_a²]. A full row SUBTRACTS a present a's terms from
  *     every entry (m, a) of a missing m (missing × present updates); a
  *     sparse row ADDS them to every entry (m, a) of a present m
  *     (present × present), and touches no series sum.
  * So series a plus correction (m, a) is exactly [n, Σx_a, Σx_a²] over
  * the rows where both a and m are present: `finish` rebuilds each
  * pairwise-complete sum that way in 128-bit integers, and every output
  * bit equals the direct five-sums-per-pair form.
  * Pair p = i*k - i*(i+1)/2 + (j-i-1).
  *
  * Scale shape: the panel is shuffled once (groupBy bucket to form
  * rows); map-side partials of ~12 longs per pair (~12 MB at k=500)
  * cross the merge — co-moment state, not the k² rows per bucket a
  * self-join would shuffle. The O(k²) buffer caps this tier near k≈1-2000;
  * beyond that the LSH pair-pruned tier wins.
  */
class CorrMatrixAgg(k: Int)
    extends Aggregator[Array[Double], Array[Long], Seq[CorrCell]] {

  private val nPairs = k * (k - 1) / 2
  private val Xy = 5 * k                // pair Σxy, 2 longs per pair
  private val Corr = Xy + 2 * nPairs    // entry (m, a) at Corr + 5*(k*m + a)
  private val Size = Corr + 5 * k * k

  override def zero: Array[Long] = new Array[Long](Size)

  override def reduce(buf: Array[Long], row: Array[Double]): Array[Long] = {
    // per-series work once per row: quantize and square each present
    // value, and list the present and the missing series
    val q = new Array[Long](k)
    val sqHi = new Array[Long](k)
    val sqLo = new Array[Long](k)
    val present = new Array[Int](k)
    val missing = new Array[Int](k)
    var np = 0
    var nm = 0
    var i = 0
    while (i < k) {
      val x = row(i)
      if (x.isNaN) { missing(nm) = i; nm += 1 }
      else {
        val v = PearsonArrays.quantize(x)
        q(i) = v
        sqHi(i) = Math.multiplyHigh(v, v)
        sqLo(i) = v * v
        present(np) = i
        np += 1
      }
      i += 1
    }
    var b = 0
    while (b < np) {
      i = present(b)
      val xq = q(i)
      val base = Xy + 2 * (i * k - i * (i + 1) / 2 - i - 1)
      var c = b + 1
      while (c < np) {
        val j = present(c)
        val yq = q(j)
        PearsonArrays.add128(buf, base + 2 * j,
          Math.multiplyHigh(xq, yq), xq * yq)
        c += 1
      }
      b += 1
    }
    val full = nm <= np
    if (full) {
      // series sums, then negate the terms: a full row subtracts them
      b = 0
      while (b < np) {
        val a = present(b)
        val v = q(a)
        buf(5 * a) += 1
        PearsonArrays.add128(buf, 5 * a + 1, v >> 63, v)
        PearsonArrays.add128(buf, 5 * a + 3, sqHi(a), sqLo(a))
        q(a) = -v // |v| ≤ 2^53, and −v² in 128 bits below
        sqHi(a) = ~sqHi(a) + (if (sqLo(a) == 0) 1 else 0)
        sqLo(a) = -sqLo(a)
        b += 1
      }
    }
    // full row: −terms at every missing series; sparse row: +terms at
    // every present one (the diagonal (a, a) included — finish never
    // reads it)
    val rows = if (full) missing else present
    val nRows = if (full) nm else np
    var c = 0
    while (c < nRows) {
      addTerms(buf, Corr + 5 * k * rows(c), if (full) -1 else 1,
        q, sqHi, sqLo, present, np)
      c += 1
    }
    buf
  }

  /** Adds [dc, q(a), q(a)²] to entry (m, a) of the correction row at
    * `at`, for every present series a.
    */
  private def addTerms(buf: Array[Long], at: Int, dc: Long, q: Array[Long],
                       sqHi: Array[Long], sqLo: Array[Long],
                       present: Array[Int], np: Int): Unit = {
    var b = 0
    while (b < np) {
      val a = present(b)
      val l = at + 5 * a
      val v = q(a)
      buf(l) += dc
      PearsonArrays.add128(buf, l + 1, v >> 63, v)
      PearsonArrays.add128(buf, l + 3, sqHi(a), sqLo(a))
      b += 1
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    // exact integer adds: bit-for-bit associative AND commutative, so
    // partial-aggregation order can never change any output bit
    def addCountSums(o: Int): Unit = { // [count, Σx, Σx²]
      a(o) += b(o)
      PearsonArrays.add128(a, o + 1, b(o + 1), b(o + 2))
      PearsonArrays.add128(a, o + 3, b(o + 3), b(o + 4))
    }
    var o = 0
    while (o < Xy) { addCountSums(o); o += 5 }
    while (o < Corr) { PearsonArrays.add128(a, o, b(o), b(o + 1)); o += 2 }
    while (o < Size) { addCountSums(o); o += 5 }
    a
  }

  override def finish(buf: Array[Long]): Seq[CorrCell] = {
    val out = new Array[CorrCell](nPairs)
    // (hi, lo) of series sum plus correction, exact in 128 bits
    def sumLo(s: Int, l: Int): Long = buf(s + 1) + buf(l + 1)
    def sumHi(s: Int, l: Int): Long = buf(s) + buf(l) +
      (if (java.lang.Long.compareUnsigned(sumLo(s, l), buf(s + 1)) < 0) 1
       else 0)
    var i = 0
    var p = 0
    while (i < k) {
      val si = 5 * i
      var j = i + 1
      while (j < k) {
        val sj = 5 * j
        val ci = Corr + 5 * (k * j + i) // i over the rows with j present
        val cj = Corr + 5 * (k * i + j) // j over the rows with i present
        val n = buf(si) + buf(ci)
        val rho =
          if (n < 2) None
          else Option(PearsonArrays.finishRhoSlots(n,
            sumHi(si + 1, ci + 1), sumLo(si + 1, ci + 1),
            sumHi(sj + 1, cj + 1), sumLo(sj + 1, cj + 1),
            sumHi(si + 3, ci + 3), sumLo(si + 3, ci + 3),
            sumHi(sj + 3, cj + 3), sumLo(sj + 3, cj + 3),
            buf(Xy + 2 * p), buf(Xy + 2 * p + 1))).map(_.doubleValue())
        out(p) = CorrCell(i, j, rho)
        j += 1
        p += 1
      }
      i += 1
    }
    out.toSeq
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[CorrCell]] =
    ExpressionEncoder[Seq[CorrCell]]()
}

object CorrMatrix {
  /** Column form: `corrMatrix(k)(panelRow)` aggregates panel rows (k-wide
    * array<double>, NaN = missing) to the long-form correlation cells.
    */
  def corrMatrix(k: Int): Column => Column =
    udaf(new CorrMatrixAgg(k), ExpressionEncoder[Array[Double]]()).apply(_)
}
