package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.functions.CorrMatrix

/** The one entry to the engine's pairwise Pearson correlation: one
  * function per tier, each the only place its kernel is called.
  *
  *   - [[onePass]]: every pair from ONE exact integer co-moment aggregate
  *     over an assembled k-wide panel ([[graft.functions.CorrMatrixAgg]]
  *     — any merge order, same bits), optionally keyed (per window);
  *   - [[pruned]]: the LSH pair-pruned search ([[CorrPrune]]) for panels
  *     past the one-pass buffer ceiling, thresholded.
  *
  * Both kernels share one exactness contract: values quantize with
  * [[graft.functions.PearsonArrays.quantize]] (a non-finite value or
  * |x| > ~9×10⁹ throws), co-moments are exact 128-bit integers and the
  * finish is one double chain. Callers keep their own grading: key
  * column, rounding and sort stay at the call site. [[panelRho]] picks
  * between the two tiers by width.
  */
object Corr {

  /** Width ceiling for the one-pass co-moment tier: the UDAF's partial
    * buffer is ~6k² longs (~12 MB at k=500, ~110 MB at
    * k=1500); past that the buffer serialization/merge dominates and
    * the LSH pair-pruned tier wins (SCALE.md's corr tier table).
    */
  val OnePassMaxK = 1500

  /** LSH geometry of the pruned tier, pinned to the fixture geometry:
    * 8 bands × 5 bits (32 buckets), the one a3d's oracle regenerates.
    * Random (uncorrelated) pairs collide in a band with probability
    * 2^-bits, so expected noise candidates ≈ bands·k²/2^(bits+1) ≈ k²/8
    * here — fine at the fixture k=300, but ~500k junk pairs for the
    * verify at k=2000. At width `bits` must scale to ≈ log₂(k·bands) so
    * noise stays O(k) and the verify cost tracks TRUE structure;
    * SCALE.md's r16 vector-tier run (Correlation matrices) records the
    * k=2000, bits=11 setting and its numbers.
    */
  val A3dBands = 8
  val A3dBits = 5

  /** The wide one-pass panel: (sorted distinct series ids, one k-wide
    * Array[Double] row per bucket, NaN = missing) — the input shape of
    * [[onePass]]. The key set (k ids — dimension metadata, not data) is
    * collected from the CACHED bucketed prefix, not from a second raw
    * tick scan (which would dominate at the 100 TB posture and maintain
    * the filter predicate twice) and not from the filled grid either —
    * the metadata job should not pay the grid join + ffill window, which
    * materialize inside the consumer's own first action instead.
    */
  def widePanel(s: SparkSession, d: String, nUsers: Int,
      a: Long, b: Long, step: Long): (Seq[Long], DataFrame) = {
    val (bucketed, filled) = SparkEntry.resampledParts(s, d, nUsers, a, b,
      step)
    val users = SparkEntry.sortedUsers(bucketed)
    (users, SparkEntry.panelOf(filled, users))
  }

  /** 0-based index of series id `c` in the sorted universe `users`,
    * join-free: array_position over the id seq is O(k) per row, so it
    * suits pair-sized relations (the pruned branch's survivor edges),
    * not tick-sized ones.
    */
  private def vidOf(users: Seq[Long], c: Column): Column =
    (array_position(typedLit(users), c) - 1).cast("int")

  /** The one-pass tier: `coalesce(maxParts)` (the partial buffers the
    * final merge sees — merge cost scales with partitions, not rows),
    * then ONE co-moment aggregate over the panel's `vals`, grouped by
    * `key` when given. Output: the key column (if any) and `cells`, the
    * aggregate's array of (i, j: 0-based vids, rho) structs; [[cellRows]]
    * turns it into one row per pair.
    */
  def onePass(panel: DataFrame, users: Seq[Long], key: Option[Column] = None,
      maxParts: Option[Int] = None): DataFrame = {
    val p = maxParts.fold(panel)(panel.coalesce)
    val cells = CorrMatrix.corrMatrix(users.size)(col("vals")).as("cells")
    key.fold(p.agg(cells))(k => p.groupBy(k).agg(cells))
  }

  /** [[onePass]]'s cells in long form: `keep` (columns of the cells row,
    * e.g. its window key), then `i`, `j` (series ids, i < j), `ii`, `jj`
    * (0-based vids — the position in the sorted id set, the graph
    * consumers' vertex index) and the unrounded `rho`. The id map is a
    * `typedLit` expression over the sorted id seq, so the output path is
    * join-free.
    */
  def cellRows(cells: DataFrame, users: Seq[Long], keep: Column*): DataFrame =
    cells.select(keep :+ explode(col("cells")).as("c"): _*)
      .select(col("*"), element_at(typedLit(users), col("c.i") + 1).as("i"),
        element_at(typedLit(users), col("c.j") + 1).as("j"),
        col("c.i").as("ii"), col("c.j").as("jj"), col("c.rho").as("rho"))
      .drop("c")

  /** The pruned tier over a grid-complete long panel (`bucket`,
    * `user_id`, `value`; the [[Time]] resample core's shape) starting at
    * bucket `a` with `dims` grid positions of `step` seconds: LSH
    * candidates at the [[A3dBands]] × [[A3dBits]] geometry, each
    * verified with its exact Pearson
    * ([[CorrPrune.candidateRhoVectors]]), then `round(rho, scale) >= t`
    * in exactly that order, emitting the ROUNDED rho (a caller's DuckDB
    * oracle mirrors it verbatim). Output: `i`, `j` (series ids), `rho`.
    */
  def pruned(filled: DataFrame, a: Long, step: Long, dims: Int,
      roundThenFilter: (Int, Double)): DataFrame = {
    val panel = filled
      .withColumn("pos", ((col("bucket") - a) / step + 1).cast("int"))
    kept(CorrPrune.candidateRhoVectors(panel, "user_id", "pos", "value",
      dims = dims, bands = A3dBands, bits = A3dBits), roundThenFilter)
  }

  private def kept(edges: DataFrame, roundThenFilter: (Int, Double)) = {
    val (scale, t) = roundThenFilter
    edges.withColumn("rho", round(col("rho"), scale)).where(col("rho") >= t)
  }

  /** Correlation pairs over the [a, b) resampled panel of the first
    * `nUsers` series, tier chosen by the measured cost model —
    *
    *   - k ≤ `onePassMaxK`: [[onePass]] (every pair, exact; co-moment
    *     state crosses the one shuffle);
    *   - k > `onePassMaxK`: [[pruned]] — `roundThenFilter` is REQUIRED
    *     there as the caller's declaration that a thresholded result is
    *     acceptable (an unthresholded full matrix past the one-pass
    *     ceiling is a deliberate non-goal of this selector).
    *
    * k is known only after the sorted id collect, so this route runs
    * that metadata job before either tier; [[pruned]] called directly
    * does not.
    *
    * `roundThenFilter = Some((scale, t))` applies `round(rho, scale) >= t`
    * in both tiers, so the result is identical on either side of the
    * ceiling and the pruned tier's vid mapping and downstream sort only
    * ever see the threshold-survivor edges. The pruned branch also
    * registers a cache on those survivors: its plan re-reads shared
    * subtrees (the band-bucket self-join), where the one-pass branch is
    * linear and a cache would only cost (both measured — Q.sortedSmall's
    * scaladoc). With `roundThenFilter = None` (one-pass tier only) every
    * pair is emitted with its exact unrounded rho.
    *
    * Output columns either way: `i`, `j`, `ii`, `jj`, `rho` as in
    * [[cellRows]]. Both branches are join-free on the output path, so
    * the g4 plan gate — no Inner join anywhere — holds through the
    * selector.
    */
  def panelRho(s: SparkSession, d: String, nUsers: Int,
      a: Long, b: Long, step: Long,
      roundThenFilter: Option[(Int, Double)] = None,
      onePassMaxK: Int = OnePassMaxK): (Seq[Long], DataFrame) = {
    val nBuckets = (b - a) / step
    val (users, panel) = widePanel(s, d, nUsers, a, b, step)
    val k = users.size
    val edges =
      if (k <= onePassMaxK) {
        val all = cellRows(onePass(panel, users,
          maxParts = Some(Relational.boundedPartitions(nBuckets, 256))), users)
        roundThenFilter.fold(all)(kept(all, _))
      } else {
        require(roundThenFilter.nonEmpty,
          s"k=$k exceeds the one-pass ceiling $onePassMaxK and no " +
            "threshold was given: the pruned tier needs one")
        // the filled panel is cached by resampleFfill, so this second
        // derivation reuses the same in-memory relation widePanel built;
        // the survivors are cached (2.2 s vs 5.4 s measured on a3d's
        // identical core at sf0.1 — Q.sortedSmall's scaladoc), and the
        // vid mapping is paid only on that threshold-pruned edge set
        val survivors = Time.registerCached(pruned(
          SparkEntry.resampled(s, d, nUsers, a, b, step), a, step,
          nBuckets.toInt, roundThenFilter.get).cache())
        survivors
          .select(col("i"), col("j"), vidOf(users, col("i")).as("ii"),
            vidOf(users, col("j")).as("jj"), col("rho"))
      }
    (users, edges)
  }
}
