package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** t9's learn loop on samples that run out of adjacent token pairs: the
  * oracle's `best_i` CTE is empty from the first such round on, so t9
  * emits no row for it or any later round.
  */
class BpeLearnSpec extends SparkTestBase {
  import spark.implicits._

  /** t9 over a temp `documents` table holding `texts`. */
  private def t9(texts: String*): Seq[(Int, String, String, Long, Long, Long)] = {
    val dir = scratchDir("graft_bpe_learn_")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    SparkEntry.queries("t9_bpe_merges")(spark, dir)
      .as[(Int, String, String, Long, Long, Long)].collect().toSeq
  }

  test("t9 emits no round when no sampled word has two tokens") {
    assert(t9("a b c a", "b") == Seq.empty)
  }

  test("t9 stops after the round that leaves no adjacent token pair") {
    // round 1 merges (a, b) in both occurrences; every word is then one
    // token, so rounds 2 and 3 have no candidate
    assert(t9("ab ab") == Seq((1, "a", "b", 2L, 2L, 1L)))
  }
}
