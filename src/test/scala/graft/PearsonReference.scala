package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The exact reference for the engine's correlation kernels: pairwise-
  * complete Pearson as a DECIMAL(38,0) Catalyst aggregate, plus the
  * bucket self-join that feeds it one row per (bucket, pair). It shares
  * no code with the kernels it grades — the native `pearson_arrays`
  * expression (PearsonArraysSpec, CorrPruneSpec) and the one-pass
  * [[graft.functions.CorrMatrixAgg]] (CorrSpec, GoldenSpec; the two
  * kernels agree with each other in CorrMatrixExactSpec) — so bit
  * equality with it is evidence, not a tautology.
  */
object PearsonReference {

  /** Pairwise-complete Pearson correlation as a null-safe aggregate
    * expression over 6-dp-quantized inputs (everything the engine
    * correlates is an [[graft.ops.Exact.davg]] output).
    *
    * Why not built-in `corr`: under ANSI mode (the Spark 4 default) it
    * throws DIVIDE_BY_ZERO whenever a pair has zero variance — e.g. any
    * forward-filled series that is constant inside a window — while SQL
    * semantics (and the DuckDB oracle) yield NULL/NaN there.
    *
    * Why integer co-moments: with double sums, a constant series leaves a
    * ~1e-9 cancellation residue in n·Σx²−(Σx)², so a `vx > 0` guard
    * produces a garbage ±1 instead of NULL. Scaling the quantized inputs
    * to exact integer micros (DECIMAL(38,0)) makes every co-moment exact:
    * zero variance is exactly zero, the guard is sound, and the final
    * ρ = cov/√(vx·vy) is one deterministic double expression. Bounds:
    * the largest intermediates are n·Σx² and (Σx)², both ≤ n²·(|x|·1e6)²,
    * so 38 digits hold while |x| ≤ 1e13/n — e.g. |x| ≤ 1e7 at n = 1e6
    * rows per group. The engine's inputs (6-dp-quantized values ≲ 1e6
    * over windows of ≤ ~1e5 buckets) sit four orders inside that; past
    * it, ANSI mode fails loudly with a Decimal overflow rather than
    * returning silently wrong values.
    *
    * All sums are codegen'd built-ins — map-side partial aggregation and
    * whole-stage codegen apply as usual.
    */
  def pearson(x: Column, y: Column): Column = {
    val I = DecimalType(38, 0)
    val both = x.isNotNull && y.isNotNull
    val xi = when(both, round(x * 1e6, 0).cast(I))
    val yi = when(both, round(y * 1e6, 0).cast(I))
    val n = count(xi).cast(I)
    val sx = sum(xi)
    val sy = sum(yi)
    val sxx = sum(xi * xi)
    val syy = sum(yi * yi)
    val sxy = sum(xi * yi)
    val cov = (n * sxy - sx * sy).cast("double")
    val vx = (n * sxx - sx * sx).cast("double")
    val vy = (n * syy - sy * sy).cast("double")
    when(n >= 2 && vx > 0 && vy > 0, cov / sqrt(vx * vy))
  }

  /** The long panel (`bucket`, `user_id`, `value`) joined with itself on
    * bucket (i < j), grouped by `keys` (expressions over the joined row,
    * e.g. a window of `bucket`) and the pair, each group's
    * pairwise-complete [[pearson]]. Output: the keys, `i`, `j`,
    * unrounded `rho`. A pair forms only where both ids have a row in
    * some common bucket.
    */
  def pairJoin(filled: DataFrame, keys: Column*): DataFrame = {
    val a = filled.select(col("bucket"), col("user_id").as("i"),
      col("value").as("va"))
    val b = filled.select(col("bucket"), col("user_id").as("j"),
      col("value").as("vb"))
    a.join(b, Seq("bucket")).where(col("i") < col("j"))
      .groupBy(keys ++ Seq(col("i"), col("j")): _*)
      .agg(pearson(col("va"), col("vb")).as("rho"))
  }
}
