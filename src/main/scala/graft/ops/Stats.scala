package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Statistical column expressions. */
object Stats {

  /** Pairwise-complete Pearson correlation over a PAIR OF ALIGNED
    * ARRAYS, one scalar result per row — for consumers that hold both
    * series of a pair in array columns (the pruned-corr vector verify).
    * Bit-identical to the one-pass matrix aggregate's cells; see
    * [[graft.functions.PearsonArrays]] for the exactness contract and
    * why this is a native kernel expression rather than any
    * explode/HOF composition (every built-in shape pays µs-scale
    * per-slot machinery; the kernel is one JIT-compiled primitive
    * loop per pair).
    */
  def pearsonArrays(va: Column, vb: Column): Column =
    call_function("pearson_arrays", va, vb)

  /** [[graft.functions.OptimizerFence]] as a column: pins an expensive
    * aliased expression to its Project so alias inlining cannot
    * re-evaluate it downstream — the zero-cost form of a cache barrier.
    */
  def fenced(c: Column): Column = call_function("optimizer_fence", c)
}
