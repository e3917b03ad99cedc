package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pair-pruned correlation tier for panels too wide for the one-pass
  * co-moment UDAF (its per-partition buffer is O(k²) longs, which caps
  * it near k ≈ 1-2000 series — see SCALE.md's corr tier table).
  *
  * Identity that makes pruning possible: Pearson(a, b) is exactly the
  * cosine of the mean-CENTERED series vectors (standardization only
  * rescales each vector, and cosine is scale-invariant). So "find pairs
  * with ρ ≥ t" is an angular similarity search — the same problem d5/e2
  * solve with banded random-hyperplane LSH. Candidate pairs share a
  * (band, bucket); [[candidateRhoVectors]] then verifies each with the
  * exact pairwise-complete Pearson of the
  * [[graft.functions.PearsonArrays]] kernel (bit-identical to the
  * one-pass matrix aggregate's cells), so emitted pairs are exact and only
  * recall is probabilistic (1 − (1 − p^bits)^bands with p = 1 − θ/π — at
  * ρ ≥ 0.9, θ ≤ 26° and a handful of bands already give ≥ 0.99; choose
  * bands/bits for the target threshold).
  *
  * Centering is integer-exact so the buckets are reproducible in ANY
  * engine (the DuckDB oracle mirrors them): with xq = round(x·1e6) and
  * per-series S = Σxq, n = count, the centered projection's sign is
  *   sign(Σ_p s_p·(xq_p − S/n)) = sign(n·Σ_p s_p·xq_p − S·Σ_p s_p)
  * — all long arithmetic, no floating mean whose last ulp could flip a
  * bucket bit between engines. Bounds: with |xq| ≤ 10⁹ and n non-null
  * positions per series, |n·Σs·xq| ≤ n²·10⁹ — safe below 2⁶³ for
  * n ≤ ~3×10⁴ observed positions (10⁴, the tier's target grid, leaves
  * two orders of headroom; a denser series overflows loudly in ANSI
  * mode rather than mis-bucketing).
  *
  * Cost shape at k series × T buckets: bucketing shuffles k·bands rows
  * (the plane join is per-position, like d2's band machinery); candidate
  * generation is O(bands · bucketSize · k) — linear in k — versus the
  * Θ(k²) pair join. Requires the aligned (post-resample) panel where
  * every series lives on the same grid, the flagship's shape after
  * ffill; leading-null grid slots are simply absent from the sums on
  * both sides.
  */
object CorrPrune {

  /** Candidate (i, j) series pairs (i < j) whose centered-vector LSH
    * buckets collide in at least one band. `panel` is the aligned long
    * panel (keyCol, posCol: 1-based int grid position ≤ dims, valueCol).
    * An observed value at a position outside [1, dims] fails the query
    * (raise_error): it would join no hyperplane and silently drop out of
    * its series' bucket statistics.
    */
  def corrCandidates(panel: DataFrame, keyCol: String, posCol: String,
                     valueCol: String, dims: Int, bands: Int,
                     bits: Int): DataFrame = {
    val ex = panel.select(col(keyCol), col(posCol).as("pos"),
        round(col(valueCol) * 1e6, 0).cast("long").as("xq"))
      .where(col("xq").isNotNull)
      .withColumn("pos", when(col("pos").between(1, dims), col("pos"))
        .otherwise(raise_error(concat(lit("corrCandidates: series "),
          col(keyCol).cast("string"), lit(" has position "),
          coalesce(col("pos").cast("string"), lit("NULL")),
          lit(s" outside [1, $dims]")))))
    // the plane table is bands·bits·dims rows — broadcast it only while
    // that is genuinely dimension-small (a few MB: 8×5 planes at 10⁴
    // positions is 400k rows). At very wide grids (dims ≳ 10⁵) the
    // "dimension table" is tens of millions of rows and the hint would
    // force a multi-GB broadcast build; leaving it unhinted lets the
    // planner shuffle-join it, which is the right cluster shape there
    val planesRaw =
      Similarity.hyperplanes(panel.sparkSession, bands, bits, dims)
    val planes =
      if (bands.toLong * bits * dims <= 4000000L) broadcast(planesRaw)
      else planesRaw
    // per-series stats FUSED into the projection aggregate (r22, guide
    // §2.4): within a (key, band) group every observed position appears
    // exactly once per bit, so the bit-0 slice already carries Σxq and
    // the position count — the former separate per-key stats aggregate
    // (one more exchange over the panel) and its broadcast join are
    // gone, and the values are bit-identical long sums
    val projAggs = (0 until bits).flatMap(b => Seq(
      sum(when(col("bit") === b, col("s") * col("xq")).otherwise(0L))
        .as(s"p$b"),
      sum(when(col("bit") === b, col("s")).otherwise(0L)).as(s"q$b"))) ++
      Seq(sum(when(col("bit") === 0, col("xq")).otherwise(0L)).as("sx"),
        sum(when(col("bit") === 0, lit(1L)).otherwise(0L)).as("nx"))
    val bk = ex.join(planes, Seq("pos"))
      .groupBy(col(keyCol), col("band"))
      .agg(projAggs.head, projAggs.tail: _*)
      .select(col(keyCol), col("band"),
        (0 until bits).map(b =>
          when(col("nx") * col(s"p$b") - col("sx") * col(s"q$b") > 0,
            lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("bucket"))
    // bucket members grouped per (band, bucket) and expanded to ordered
    // pairs in-array (r22, guide §2.4): the former bk self-join re-ran
    // the entire bucketing subtree once per side and shuffled both; this
    // computes it once and shuffles the k·bands bucket rows once. A key
    // appears at most once per (band, bucket) (bk is one row per
    // (key, band)), and sort_array makes position order the key order,
    // so pairing each member with its strict successors yields exactly
    // the i < j pairs of the self-join. The per-bucket expansion stays
    // pair-bounded exactly as before (same candidate multiset pre-
    // distinct); two Generate operators, no lambda interpreter.
    val members = bk.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(keyCol))).as("ks"))
      .where(size(col("ks")) > 1)
    // the candidate relation is byte-TINY (two ids per row) but every
    // downstream verify amplifies each row ~2·dims× through the pearson
    // machinery — exactly the compute-amplifying-consumer class AQE's
    // bytes-based coalescing mis-sizes (it read this exchange as ONE
    // partition and serialized the whole verify into one task: wall
    // 1.1 → 2.3 s measured at a3d's geometry). The explicit
    // repartition pins core-count partitions (work follows cores, not
    // bytes — the candidate-sized exchange itself is trivial at any
    // scale), and distinct() reuses the pinned hash partitioning, so
    // this costs no extra exchange over the bare distinct.
    val parts = panel.sparkSession.sparkContext.defaultParallelism
    members
      .select(col("ks"), posexplode(col("ks")).as(Seq("pi", "i")))
      .select(col("i"), explode(slice(col("ks"), col("pi") + lit(2),
        size(col("ks")))).as("j"))
      .repartition(parts, col("i"), col("j"))
      .distinct()
  }

  /** Exact Pearson (pairwise-complete) for every LSH candidate pair —
    * the pruned tier's one verify. Unrounded and unfiltered, so callers
    * control the threshold/rounding (and their oracle mirrors it).
    * Output rows are a subset of the exact all-pairs answer; recall is
    * governed by bands/bits. The panel is first contracted to ONE
    * COMPACT VECTOR ROW per series (pos-ordered value array — k rows
    * instead of k·dims), which is the only panel-sized shuffle in the
    * plan; each candidate pair then joins its two vectors (shuffles move
    * candidate-sized relations and k vector rows, never the cell-level
    * panel, and nothing panel-sized is broadcast), and the pair's exact
    * rho comes from ONE call of the [[graft.functions.PearsonArrays]]
    * kernel — bit-identical to an exact decimal Pearson aggregate over
    * the position join (CorrPruneSpec's reference), null slots skipped
    * pairwise, with no slot ever
    * inflated into a row (every explode/HOF shape measured µs-scale per
    * slot; the kernel is a JIT-compiled primitive loop).
    *
    * Precondition: a GRID-COMPLETE panel — every series carries a row
    * for every pos 1..dims, values possibly null (the shape
    * [[graft.ops.Time]]'s resample core emits by construction). That is
    * what lets the zip align by array index; it is ENFORCED loudly (a
    * series whose row count differs from dims raises, instead of
    * silently shifting every later slot and verifying the wrong pairs;
    * a duplicated pos exactly compensated by a missing one would evade
    * the count, but no grid producer emits that shape). Null VALUES are
    * fine anywhere: they ride the vectors as null slots. A candidate
    * pair with undefined rho (zero pairwise-complete slots, or a
    * constant side) emits no row.
    *
    * `fenced = false` drops the optimizer fence around the kernel (see
    * below); it exists only as PlanGuardSpec's red baseline.
    */
  def candidateRhoVectors(panel: DataFrame, keyCol: String, posCol: String,
                          valueCol: String, dims: Int, bands: Int,
                          bits: Int, fenced: Boolean = true): DataFrame = {
    val cand = corrCandidates(panel, keyCol, posCol, valueCol, dims,
      bands, bits)
    // array_sort orders the structs by pos (first struct field), so on
    // a grid-complete panel index i-1 IS pos i; the size check turns a
    // violated precondition into an error, not a misaligned verify.
    // Everything here is linear in the series length — an earlier
    // pos→value-map formulation read slots back with element_at, whose
    // per-lookup LINEAR map scan made vector construction quadratic
    // (catastrophic at 10⁵ positions)
    val sorted = array_sort(collect_list(struct(col(posCol).as("p"),
      col(valueCol).as("v"))))
    val vecs = panel.groupBy(col(keyCol))
      .agg(sorted.as("s"))
      .select(col(keyCol),
        when(size(col("s")) === dims, transform(col("s"),
            e => e.getField("v")))
          .otherwise(raise_error(concat(lit("candidateRhoVectors needs " +
            "a grid-complete panel: series "), col(keyCol).cast("string"),
            lit(s" has "), size(col("s")).cast("string"),
            lit(s" rows, expected $dims")))).as("vs"))
    // the kernel needs an OPTIMIZER BARRIER, not just an alias: without
    // one Catalyst inlines the rho alias into every downstream
    // predicate — the null filter below plus a caller's
    // round-then-threshold — and pushes them into the vector JOIN
    // CONDITION, re-running the O(dims) kernel up to three times per
    // pair (observed in the r15 plan audit: isnotnull(pearson_arrays),
    // round(pearson_arrays) ≥ t in the join, pearson_arrays again in
    // the project). The [[graft.functions.OptimizerFence]] wrapper pins
    // it exactly once at ZERO materialization cost (an earlier cache
    // barrier achieved the same plan but paid block materialization:
    // +0.3–0.6 s on the a3 family; SCALE.md's barrier A/B). Without the
    // fence the re-evaluation CPU cost is small (~5% at k=1700 ×
    // 10,080), but at k=2000 the unfenced plan OOMs an 8 GiB heap where
    // the fenced one completes (SCALE.md's r17 unfenced control): the
    // fenced Project computes rho once and drops the ~80 KB vector
    // payloads at once.
    // Fence side effect callers must know: pushdown-through-Project
    // requires every project field deterministic, so NO predicate — not
    // even one on the sibling i/j keys — pushes below this select.
    // That is fine HERE because every input filter (user/ts range)
    // already sits below in the panel derivation; callers adding key
    // predicates should apply them to the panel, not above the rho.
    // PlanGuardSpec pins both directions.
    val kernel = Stats.pearsonArrays(col("va"), col("vb"))
    val rho = cand
      .join(vecs.select(col(keyCol).as("i"), col("vs").as("va")), Seq("i"))
      .join(vecs.select(col(keyCol).as("j"), col("vs").as("vb")), Seq("j"))
      // one scalar fold per pair, no explode: candidate·dims slots as
      // ROWS pay per-row operator machinery (~3 µs/slot measured, in
      // every explode shape tried), where the fold is one lambda step
      // per slot
      .select(col("i"), col("j"),
        (if (fenced) Stats.fenced(kernel) else kernel).as("rho"))
    // undefined rho (zero pairwise-complete slots, or a constant side)
    // is not a result — the position-join Pearson forms no group (or a
    // null one) for such pairs, so no threshold is needed for the
    // output to be a subset of the exact matrix
    rho.where(col("rho").isNotNull)
  }
}
