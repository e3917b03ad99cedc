package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, BloomFilterMightContain, Cast, Divide, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import graft.functions.WinnowFingerprint

/** The engine's SQL surface extension, installed via
  * `spark.sql.extensions=graft.GraftExtensions` (see [[Sessions]]) — the
  * production registration path, so any session config pointing at this
  * class gets the functions with no code changes.
  *
  *  - `midquote(bid, ask)` — the reference's core scalar
  *    ((best_bid+best_ask)/2, correlation_matrix_exporter.py:100) as SQL
  *    sugar. Deliberately NOT a custom Expression: it rewrites to built-in
  *    `(bid+ask)/2` at registration, so it codegens exactly like the
  *    hand-written arithmetic — zero-cost syntax.
  *  - `winnow_fingerprint(words, k, base, mod)` — the genuinely custom
  *    [[WinnowFingerprint]] expression (single-pass rolling-hash
  *    winnowing; built-ins would need a k-fold explode).
  *  - `bloom_build(xxhash64_col, n_items, n_bits)` /
  *    `bloom_might_contain(bloom, xxhash64_col)` — Spark's own
  *    bloom-filter expressions (the pair its runtime-filter rewrite
  *    injects), surfaced as SQL so pipelines can build a constant-size
  *    membership sketch over one relation and prefilter another without
  *    shuffling it. The aggregate is mergeable (map-side partials); the
  *    probe is codegen'd. False positives are the contract — callers
  *    that need exactness verify survivors with an exact join, which is
  *    the standard sketch-then-verify shape (see d9_bloom_decontaminate).
  *  - `exact_micros6(v)`, `exact_micros_to_double(hi_sum, lo_sum)`,
  *    `exact_round6(x)` — the micro-unit kernel behind
  *    [[graft.ops.Exact]]'s `dsum`/`davg` ([[graft.functions.ExactMicros]]).
  *    `exact_micros6` takes the session's ANSI setting when it is built,
  *    as Spark's own cast does.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // enable parquet row-group pruning for filters on the derived
    // nanos timestamp (see the rule's scaladoc for the equivalence proof)
    ext.injectOptimizerRule(_ => graft.plans.PushdownDerivedTimestamp)
    ext.injectFunction((
      new FunctionIdentifier("midquote"),
      new ExpressionInfo(classOf[Divide].getName, "midquote"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "midquote(bid, ask) takes 2 arguments")
        Divide(Add(Cast(args(0), DoubleType), Cast(args(1), DoubleType)),
          Literal(2.0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fingerprint"),
      new ExpressionInfo(classOf[WinnowFingerprint].getName,
        "winnow_fingerprint"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, name: String): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case _ => throw new IllegalArgumentException(
            s"winnow_fingerprint: $name must be an integer literal")
        }
        args.length match {
          case 1 => WinnowFingerprint(args.head, 5, 131L, 1000000007L)
          case 4 =>
            val k = lit(args(1), "k").toInt
            val base = lit(args(2), "base")
            val mod = lit(args(3), "mod")
            // compute() multiplies two values < mod with no 128-bit
            // path, so mod*mod must stay below Long.MaxValue (~9.22e18);
            // 3_037_000_499^2 is the largest safe square
            require(k >= 1, s"winnow_fingerprint: k must be >= 1, got $k")
            require(mod >= 2 && mod <= 3037000499L,
              s"winnow_fingerprint: mod must be in [2, 3037000499] " +
                s"(mod^2 must fit in a signed 64-bit long), got $mod")
            require(base >= 1 && base < mod,
              s"winnow_fingerprint: base must be in [1, mod), got $base")
            WinnowFingerprint(args.head, k, base, mod)
          case _ => throw new IllegalArgumentException(
            "winnow_fingerprint(words[, k, base, mod])")
        }
      }))
    ext.injectFunction((
      new FunctionIdentifier("dense_from_sorted_entries"),
      new ExpressionInfo(
        classOf[graft.functions.DenseFromSortedEntries].getName,
        "dense_from_sorted_entries"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dense_from_sorted_entries(entries, " +
          "universe) takes 2 arguments")
        require(args(1).foldable,
          "dense_from_sorted_entries: universe must be a literal array")
        val u = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toLongArray()
        require((1 until u.length).forall(i => u(i - 1) < u(i)),
          "dense_from_sorted_entries: universe must be strictly " +
            "ascending")
        graft.functions.DenseFromSortedEntries(args(0), u)
      }))
    ext.injectFunction((
      new FunctionIdentifier("fill_grid"),
      new ExpressionInfo(classOf[graft.functions.FillGrid].getName,
        "fill_grid"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "fill_grid(entries, dims, backward) takes 3 arguments")
        val dims = args(1) match {
          case Literal(v: Int, _) => v
          case _ => throw new IllegalArgumentException(
            "fill_grid: dims must be an integer literal")
        }
        val backward = args(2) match {
          case Literal(v: Boolean, _) => v
          case _ => throw new IllegalArgumentException(
            "fill_grid: backward must be a boolean literal")
        }
        require(dims >= 0, s"fill_grid: dims must be >= 0, got $dims")
        graft.functions.FillGrid(args(0), dims, backward)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[graft.functions.BpeTokens].getName,
        "bpe_tokens"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bpe_tokens(word, merges) takes 2 arguments")
        val isMergeList = args(1).dataType match {
          case ArrayType(ArrayType(StringType, _), _) => true
          case _ => false
        }
        // type first, then the value: a NULL literal or a typed NULL
        // must fail here, not as an NPE/ClassCastException in the cast
        val value = if (args(1).foldable && isMergeList) args(1).eval()
                    else null
        require(value != null,
          "bpe_tokens: merges must be a literal array<array<string>> " +
            s"of [l, r] pairs, got ${args(1).sql}")
        val ad = value
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val merges = (0 until ad.numElements()).map { i =>
          val p = ad.getArray(i)
          require(p != null && p.numElements() == 2,
            "bpe_tokens: each merge must be a 2-element [l, r] array")
          require(!p.isNullAt(0) && !p.isNullAt(1),
            "bpe_tokens: merge halves must be non-null")
          (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
        }
        graft.functions.BpeTokens(args(0), merges)
      }))
    ext.injectFunction((
      new FunctionIdentifier("pearson_arrays"),
      new ExpressionInfo(classOf[graft.functions.PearsonArrays].getName,
        "pearson_arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "pearson_arrays(va, vb) takes 2 array<double> arguments")
        graft.functions.PearsonArrays(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_longs"),
      new ExpressionInfo(classOf[graft.functions.DotLongs].getName,
        "dot_longs"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "dot_longs(a, b) takes 2 array<bigint> arguments")
        graft.functions.DotLongs(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sqdist_longs"),
      new ExpressionInfo(classOf[graft.functions.SqDistLongs].getName,
        "sqdist_longs"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "sqdist_longs(a, b) takes 2 array<bigint> arguments")
        graft.functions.SqDistLongs(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("optimizer_fence"),
      new ExpressionInfo(classOf[graft.functions.OptimizerFence].getName,
        "optimizer_fence"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "optimizer_fence(expr) takes exactly 1 argument")
        graft.functions.OptimizerFence(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("exact_micros6"),
      new ExpressionInfo(classOf[graft.functions.ExactMicros6].getName,
        "exact_micros6"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "exact_micros6(v) takes 1 argument")
        graft.functions.ExactMicros6(args(0), SQLConf.get.ansiEnabled)
      }))
    ext.injectFunction((
      new FunctionIdentifier("exact_micros_to_double"),
      new ExpressionInfo(classOf[graft.functions.ExactMicrosToDouble].getName,
        "exact_micros_to_double"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "exact_micros_to_double(hi_sum, lo_sum) takes 2 arguments")
        graft.functions.ExactMicrosToDouble(args(0), args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("exact_round6"),
      new ExpressionInfo(classOf[graft.functions.ExactRound6].getName,
        "exact_round6"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "exact_round6(x) takes 1 argument")
        graft.functions.ExactRound6(args(0))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName,
        "bloom_build"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "bloom_build(xxhash64_col, n_items, n_bits) takes 3 arguments")
        new BloomFilterAggregate(args(0), args(1), args(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bloom_might_contain(bloom, xxhash64_col) takes 2 arguments")
        BloomFilterMightContain(args(0), args(1))
      }))
  }
}
