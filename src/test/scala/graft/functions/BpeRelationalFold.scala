package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The RELATIONAL BPE merge fold — the t9/t10 merge machinery before
  * the [[BpeTokens]] expression replaced it, kept verbatim as the
  * independent reference [[BpeTokensSpec]] compares the expression
  * against (charToks → bpeWithNext → bpeApplyMerge per merge).
  */
object BpeRelationalFold {

  /** Character-token table (word, freq, pos, tok) of a (word, freq)
    * vocabulary — BPE's working relation, vocabulary-sized. The
    * empty-word guard matters: `split` emits "" for consecutive
    * spaces, and an unguarded `sequence(0, -1)` counts DOWNWARD to
    * [0, -1] (two bogus rows) where the oracle's `range(strlen)` has
    * zero — the same hazard [[graft.ops.Text.shingles]] guards.
    */
  private[graft] def charToks(wc: DataFrame): DataFrame =
    wc.select(col("word"), col("freq"),
        explode(when(length(col("word")) > 0,
            sequence(lit(0), length(col("word")) - 1))
          .otherwise(typedLit(Seq.empty[Int]))).as("pos"))
      .withColumn("tok", expr("substr(word, pos + 1, 1)"))

  /** The (word, freq, pos, tok, nxt) relation [[bpeApplyMerge]]
    * consumes: each token paired with its right neighbor. Built once
    * per round and shared with the learn loop's best-pair search so
    * the lead window is never computed twice over the same generation.
    */
  private[graft] def bpeWithNext(toks: DataFrame): DataFrame =
    toks.withColumn("nxt",
      lead(col("tok"), 1).over(Window.partitionBy("word").orderBy("pos")))

  /** Apply ONE merge (l, r) to a [[bpeWithNext]] relation — the classic
    * greedy left-to-right overlap rule (in "aaa", merge "a a" once, at
    * the left), relationally: within each run of consecutive matching
    * positions keep the even-indexed ones, drop each merge's right
    * half, renumber. Since round 22 the shipped t9/t10 paths tokenize
    * through the [[graft.functions.BpeTokens]] expression; this
    * relational form is retained as the independent reference
    * implementation BpeTokensSpec pins the expression against, so the merge
    * rule can never silently drift.
    */
  private[graft] def bpeApplyMerge(p: DataFrame, l: String,
                                   r: String): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    val mm = p.where(col("tok") === l && col("nxt") === r)
      .select(col("word"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .withColumn("rn2", row_number().over(
        Window.partitionBy("word", "grp").orderBy("pos")))
      .where((col("rn2") - 1) % 2 === 0)
      .select(col("word"), col("pos"), lit(1).as("mg"))
    p.join(mm, Seq("word", "pos"), "left")
      .withColumn("pm", lag(col("mg"), 1).over(w))
      .where(col("pm").isNull) // drop the right half of each merge
      .select(col("word"), col("freq"), col("pos"),
        when(col("mg") === 1, concat(col("tok"), col("nxt")))
          .otherwise(col("tok")).as("tok"))
      .withColumn("pos", row_number().over(w) - 1)
  }
}
