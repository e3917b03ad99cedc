package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import BpeRelationalFold._

/** Pins [[BpeTokens]] (the r22 in-array BPE apply) against the retained
  * RELATIONAL merge machinery ([[BpeRelationalFold]]: charToks →
  * bpeWithNext → bpeApplyMerge fold) — two independent implementations
  * of the greedy left-to-right overlap rule, compared word-for-word on
  * adversarial shapes.
  */
class BpeTokensSpec extends SparkTestBase {

  private def bpe(word: org.apache.spark.sql.Column,
                  merges: Seq[(String, String)]) =
    call_function("bpe_tokens", word,
      typedLit(merges.map(m => Seq(m._1, m._2))))

  /** (word, pos, tok) rows via the relational fold. */
  private def relational(words: Seq[String],
                         merges: Seq[(String, String)]) = {
    import spark.implicits._
    val wc = words.toDF("word").withColumn("freq", lit(1L))
    val toks = merges.foldLeft(charToks(wc)) {
      case (t, (l, r)) => bpeApplyMerge(bpeWithNext(t), l, r)
    }
    toks.select("word", "pos", "tok").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
  }

  private def viaExpression(words: Seq[String],
                            merges: Seq[(String, String)]) = {
    import spark.implicits._
    words.toDF("word")
      .select(col("word"), posexplode(bpe(col("word"), merges))
        .as(Seq("pos", "tok")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
  }

  private val adversarial = Seq(
    "", "a", "aa", "aaa", "aaaa", "aaaaa", // overlap runs, odd and even
    "abab", "ababab", "ba", "abba",
    "hello", "low", "lower", "lowest", "newest", "widest",
    "aaabaaa", "xaaay", "ababa")

  test("expression ≡ relational fold: single merge, overlap runs") {
    for (m <- Seq(Seq(("a", "a")), Seq(("a", "b")), Seq(("b", "a")))) {
      assert(viaExpression(adversarial, m) === relational(adversarial, m),
        s"merges=$m")
    }
  }

  test("expression ≡ relational fold: chained merges use merged tokens") {
    // merge 2 consumes merge 1's output token; merge 3 chains further
    val chains = Seq(
      Seq(("a", "a"), ("aa", "a")),
      Seq(("a", "b"), ("ab", "a"), ("aba", "b")),
      Seq(("l", "o"), ("lo", "w")),
      Seq(("e", "s"), ("es", "t"), ("w", "es")))
    for (m <- chains) {
      assert(viaExpression(adversarial, m) === relational(adversarial, m),
        s"merges=$m")
    }
  }

  test("expression ≡ relational fold: randomized words and merges") {
    val rnd = new scala.util.Random(42)
    val alpha = "ab c".toSeq // tiny alphabet maximizes merge collisions
    // DISTINCT words: the relational reference is always fed a
    // groupBy'd vocabulary — its per-word windows assume unique words
    val words = (1 to 60).map(_ =>
      (1 to (1 + rnd.nextInt(8))).map(_ =>
        alpha(rnd.nextInt(alpha.size))).mkString.trim).distinct
    val pool = Seq("a", "b", "c", "aa", "ab", "ba", "bb")
    val merges = (1 to 3).map(_ =>
      (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size))))
    assert(viaExpression(words, merges) === relational(words, merges))
  }

  test("empty and single-char words") {
    import spark.implicits._
    val out = Seq("", "x").toDF("word")
      .select(size(bpe(col("word"), Seq(("a", "a")))).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(out === Seq(0, 1))
  }

  test("merges that are NULL or not array<array<string>> fail with the " +
      "descriptive error, not an NPE or ClassCastException") {
    import spark.implicits._
    val words = Seq("ab").toDF("word")
    val bad = Seq(
      lit(null),                                  // NULL literal
      lit(null).cast("array<array<string>>"),     // typed NULL
      typedLit(Seq("a", "b")),                    // array<string>
      lit("ab"),                                  // string
      typedLit(Seq(Seq(1, 2))))                   // array<array<int>>
    for (m <- bad) {
      val e = intercept[IllegalArgumentException] {
        words.select(call_function("bpe_tokens", col("word"), m))
          .collect()
      }
      assert(e.getMessage.contains("bpe_tokens: merges must be a " +
        "literal array<array<string>>"), s"$m: ${e.getMessage}")
    }
  }

  test("equal merge lists give semantically equal expressions") {
    import spark.implicits._
    val m = Seq(("a", "b"), ("ab", "c"))
    val plan = Seq("abc").toDF("word")
      .select(bpe(col("word"), m).as("x"), bpe(col("word"), m).as("y"),
        bpe(col("word"), m.reverse).as("z"))
      .queryExecution.analyzed
    val exprs = plan.expressions.flatMap(_.collect { case b: BpeTokens => b })
    assert(exprs.size == 3)
    val Seq(x, y, z) = exprs
    assert(x.semanticEquals(y))
    assert(!x.semanticEquals(z))
  }
}
