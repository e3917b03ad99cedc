package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Apply a fixed BPE merge sequence to one word and return its token
  * array — the in-array form of the t9/t10 relational merge machinery
  * (guide §1.2 step 1: the distributed algorithm; §2.4: remove shuffles
  * outright).
  *
  * The relational form paid, per merge round, two window passes (lead +
  * run renumbering) over the vocabulary-sized token relation plus a
  * left join and a lineage checkpoint — O(rounds) shuffles and
  * materialization jobs. This expression applies every round in one
  * linear scan per word inside a single projection: tokens start as the
  * word's code points (Spark's `substr(word, pos + 1, 1)` semantics),
  * and each merge (l, r) walks left to right replacing the first
  * non-overlapping (l, r) adjacencies — in a run of consecutive matches
  * only the even-indexed ones merge, exactly the relational rule's
  * "keep rn2 odd within each (word, grp) run" (BpeTokensSpec pins the
  * equivalence against the retained relational fold on adversarial
  * overlap shapes).
  *
  * The merge list rides the expression as a literal (the
  * DenseFromSortedEntries pattern): BPE merge tables are
  * vocabulary-growth-bounded by construction (a few k rounds at
  * production scale), so the reference object stays KB-sized. It is
  * held as a `Seq` of pairs so two expressions over equal merge lists
  * are equal (subexpression elimination can share them); the array
  * form the scan reads is derived once.
  */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val mergeArrays: Array[Array[String]] =
    merges.map { case (l, r) => Array(l, r) }.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens requires a string word, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_tokens"

  override protected def nullSafeEval(input: Any): Any =
    BpeTokens.tokens(input.asInstanceOf[UTF8String], mergeArrays)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("merges", mergeArrays,
      "java.lang.String[][]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.BpeTokens.tokens($c, $m);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeTokens = copy(child = newChild)
}

object BpeTokens {

  /** Split `word` into code-point tokens (matching Spark's
    * character-indexed `substr`), then apply each merge in order with
    * one greedy left-to-right scan: at a match the pair is replaced and
    * the scan resumes AFTER it, so within a run of consecutive matching
    * positions exactly the even-indexed ones merge — the relational
    * overlap rule. An empty word yields an empty array (the charToks
    * `length > 0` guard).
    */
  def tokens(word: UTF8String,
             merges: Array[Array[String]]): GenericArrayData = {
    val s = word.toString
    var n = 0
    var toks = new Array[String](s.length)
    var i = 0
    while (i < s.length) {
      val cc = Character.charCount(s.codePointAt(i))
      toks(n) = s.substring(i, i + cc)
      n += 1
      i += cc
    }
    var m = 0
    while (m < merges.length) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      val out = new Array[String](n)
      var o = 0
      var j = 0
      while (j < n) {
        if (j + 1 < n && toks(j) == l && toks(j + 1) == r) {
          out(o) = l + r
          o += 1
          j += 2
        } else {
          out(o) = toks(j)
          o += 1
          j += 1
        }
      }
      toks = out
      n = o
      m += 1
    }
    val res = new Array[Any](n)
    var q = 0
    while (q < n) { res(q) = UTF8String.fromString(toks(q)); q += 1 }
    new GenericArrayData(res)
  }
}
