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
  * (band, bucket); they are then verified with the exact
  * [[Stats.pearson]] aggregate, so emitted pairs are exact and only
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

  /** Exact Pearson (via [[Stats.pearson]], pairwise-complete) for every
    * LSH candidate pair — unrounded and unfiltered, so callers control
    * the threshold/rounding (and their oracle mirrors it). Output rows
    * are a subset of the exact all-pairs answer; recall is governed by
    * bands/bits. A candidate pair with zero pairwise-complete slots
    * emits no row (see the null-slot filter below) — undefined rho is
    * not a result; [[candidateRhoVectors]] drops the same pairs, so the
    * two verify paths agree ROW-FOR-ROW on any panel, threshold or not.
    */
  def candidateRho(panel: DataFrame, keyCol: String, posCol: String,
                   valueCol: String, dims: Int, bands: Int,
                   bits: Int): DataFrame = {
    val cand = corrCandidates(panel, keyCol, posCol, valueCol, dims,
      bands, bits)
    // null-valued cells never reach the aggregate: pearson's when-guard
    // would null them out anyway (bit-identical sums), but on a sparse
    // panel they are the bulk of the candidate×dims expansion, and each
    // would still pay the aggregate's full per-row CASE/round/decimal
    // machinery — measured ~3 µs/row, 30× the whole verify on a
    // mostly-null grid
    val nn = panel.where(col(valueCol).isNotNull)
    val a = nn.select(col(keyCol).as("i"), col(posCol).as("pos"),
      col(valueCol).as("va"))
    val b = nn.select(col(keyCol).as("j"), col(posCol).as("pos"),
      col(valueCol).as("vb"))
    // Broadcast the panel sides: the candidate×dims expansion (pairs ·
    // positions) stays map-side and the only shuffle is the final
    // per-pair partial-aggregated pearson — without the hints both joins
    // shuffle the expanded relation (measured 2× the whole query's cost
    // at sf0.1). The panel is dimension-sized (k·dims), broadcastable by
    // construction for any k this tier serves; at cluster scale the same
    // shape holds (a 2000×10⁴ panel is ~160 MB, the ceiling's scale —
    // past it the vector verify takes over).
    cand.join(broadcast(a), Seq("i")).join(broadcast(b), Seq("j", "pos"))
      .groupBy("i", "j")
      .agg(Stats.pearson(col("va"), col("vb")).as("rho"))
      // a pair with fewer than two complete slots never forms a group
      // here (the inner join produced no rows), but a CONSTANT-side
      // pair with overlap does — as a null-rho row. Undefined rho is
      // not a result either way: dropping it keeps this path and
      // [[candidateRhoVectors]] row-for-row identical, threshold or not
      .where(col("rho").isNotNull)
  }

  /** Panel-cell ceiling for [[candidateRho]]'s broadcast verify: k·dims
    * grid cells ≈ 8 bytes each, so 1.6×10⁷ cells is the ~128 MB panel
    * the broadcast comment bounds. Past it, [[candidateRhoVectors]] is
    * the verify path — [[graft.SparkEntry.panelRho]] switches on this.
    * (PanelRhoSpec drives the flip organically at a 134-series ×
    * 135000-bucket grid = 1.81×10⁷ cells, no forced ceiling.)
    */
  val BroadcastVerifyMaxCells: Long = 16000000L

  /** [[candidateRho]] without broadcasting the panel: the verify path
    * for panels past [[BroadcastVerifyMaxCells]] (k ≳ 2000 at 10⁴
    * positions), where shipping every executor a full panel copy stops
    * scaling. The panel is first contracted to ONE COMPACT VECTOR ROW
    * per series (pos-ordered value array — k rows instead of k·dims),
    * which is the only panel-sized shuffle in the plan; each candidate
    * pair then joins its two vectors (shuffles move candidate-sized
    * relations and k vector rows, never the cell-level panel), and the
    * pair's exact rho comes from ONE call of the
    * [[graft.functions.PearsonArrays]] kernel — bit-identical to the
    * [[Stats.pearson]] aggregate the broadcast path runs, null slots
    * skipped pairwise, with no slot ever inflated into a row (every
    * explode/HOF shape measured µs-scale per slot; the kernel is a
    * JIT-compiled primitive loop). Same output as [[candidateRho]] on any
    * GRID-COMPLETE panel — every series carries a row for every pos
    * 1..dims, values possibly null (the shape [[graft.ops.Time]]'s
    * resample core emits by construction) — ROW-FOR-ROW: a candidate
    * pair with ZERO pairwise-complete slots (the kernel returns null
    * rho) is dropped here exactly as the broadcast path's per-pos
    * inner join drops it there. That precondition is what
    * lets the zip align by array index; it is ENFORCED loudly (a series
    * whose row count differs from dims raises, instead of silently
    * shifting every later slot and verifying the wrong pairs —
    * CorrPruneSpec pins both the equality and the guard; a duplicated
    * pos exactly compensated by a missing one would evade the count,
    * but no grid producer emits that shape). Null VALUES
    * are fine anywhere: they ride the vectors as null slots and
    * [[Stats.pearson]] skips a position whenever either side is null,
    * exactly the rows the per-pos inner join never produces.
    */
  def candidateRhoVectors(panel: DataFrame, keyCol: String, posCol: String,
                          valueCol: String, dims: Int, bands: Int,
                          bits: Int,
                          barrier: String = DefaultBarrier): DataFrame = {
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
    // the project). Aggregates give candidateRho this barrier for
    // free. The default here is the [[graft.functions.OptimizerFence]]
    // wrapper — exactly-once at ZERO materialization cost (the r15
    // cache barrier achieved the same plan but paid block
    // materialization: +0.3–0.6 s on the a3 family; SCALE.md's barrier
    // A/B prices all three). The alternatives stay exposed for that A/B.
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
        (if (barrier == "fence") Stats.fenced(kernel) else kernel)
          .as("rho"))
    val fencedRho = barrier match {
      case "fence" => rho
      // "none" = NO barrier at all — the red baseline for the fence's
      // exactly-once guarantee (PlanGuardSpec diffs its plan against
      // the fenced one: downstream predicates alias-inline the bare
      // kernel into the join condition, multiplying its plan sites).
      // Never the shipped default; exists so the regression gate and
      // the barrier A/B have an honest control. Priced both ways
      // (SCALE.md): at FIXTURE dims the control is actually ~0.2 s
      // faster (the inlined threshold filters pairs inside the join,
      // and a 144-slot kernel re-evaluation is noise), and even at
      // width the re-evaluation CPU cost is ~5% (k=1700 × 10,080:
      // none 75.9 s vs fence 72.0 s, identical shuffle and edges) —
      // the fence's value is a MEMORY cliff: at k=2000 the unfenced
      // plan OOMs an 8 GiB heap (three runs; SCALE.md's r17 unfenced
      // control, Correlation matrices) while the fenced run completes
      // in ~98 s, because the fenced Project computes rho once and
      // immediately drops the ~80 KB vector payloads, where the
      // unfenced plan re-derives rho downstream and keeps both arrays
      // alive across more of the pipeline.
      case "none" => rho
      case "cache" => graft.ops.Time.registerCached(rho.cache())
      case "checkpoint" => rho.localCheckpoint(eager = false)
      case other => sys.error(s"unknown corr barrier '$other'")
    }
    // undefined rho (zero pairwise-complete slots, or a constant
    // side) is not a result: dropping it here makes this path agree
    // row-for-row with candidateRho, whose per-pos inner join never
    // forms a group for such pairs — no threshold needed for the two
    // physical strategies to be interchangeable
    fencedRho.where(col("rho").isNotNull)
  }

  /** The shipped barrier for [[candidateRhoVectors]]'s kernel Project —
    * see the A/B note above and SCALE.md's pricing. */
  val DefaultBarrier: String = "fence"
}
