package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The delta-probe width gates (SCALE.md, Dedup / similarity: the
  * round-19 delta-probe width run) at CI scale, in `sbt test` — the
  * same promotion [[DedupStressSpec]] did for the self-dedup gates: a
  * corpus of planted cliques is probed by a delta of (a) one NEW member
  * per existing clique and (b) novel docs nothing resembles, through
  * the SAME split probe the streaming ingest gate and
  * `d8b_external_delta` run
  * ([[LlmQueries.deltaVerdictsSplit]], generator shared with the
  * other dedup gates via [[DedupFixture]]). Gates: delta recall ≥ 0.90
  * with every match inside its planted clique, every novel doc
  * verdicts `new`, zero `dup_of_delta`. (The shuffle-size gates stay
  * width-only — at this scale broadcasts change the plan shape; the
  * plan property the suite pins instead is PlanGuardSpec's
  * no-exchange-above-a-lake-scan case on d8b.)
  */
class DeltaStressSpec extends SparkTestBase {

  test("CI-scale delta probe: planted members recall into their " +
      "cliques, novel docs verdict new, no dup_of_delta") {
    val nClusters = 150
    val cSize = 4
    val nBackground = 4000
    val nDeltaCliques = 150
    val nNovel = 200
    val idStart = nClusters.toLong * cSize + nBackground
    val corpus = DedupFixture.synthDocs(spark, nClusters, cSize,
      nBackground, 0)
    val delta = DedupFixture.deltaMembers(spark, nDeltaCliques, cSize,
      nNovel, idStart)

    val cSh = LlmQueries.hashedShingles(corpus).cache()
    val dSh = LlmQueries.hashedShingles(delta).cache()
    try {
      val (cSets, cBands) = LlmQueries.signatureTables(cSh)
      val (dSets, dBands) = LlmQueries.signatureTables(dSh)
      val verdicts = LlmQueries.deltaVerdictsSplit(cBands, cSets,
          dBands, dSets, delta.select("doc_id"), idStart)
        .cache()
      try {
        assert(verdicts.count() == nDeltaCliques.toLong + nNovel)
        val recalled = verdicts
          .where(col("doc_id") < idStart + nDeltaCliques)
          .where(col("verdict") === "dup_of_corpus")
        val nRecalled = recalled.count()
        assert(nRecalled >= nDeltaCliques * 9L / 10,
          s"delta recall $nRecalled/$nDeltaCliques < 0.90")
        // delta doc (idStart + cid) may only match inside clique cid
        assert(recalled.where(
          (col("match_id") / cSize).cast("long") =!=
            (col("doc_id") - idStart)).count() == 0,
          "a delta doc matched outside its planted clique")
        assert(verdicts
          .where(col("doc_id") >= idStart + nDeltaCliques)
          .where(col("verdict") =!= "new").count() == 0,
          "a novel doc was not verdicted new")
        assert(verdicts.where(col("verdict") === "dup_of_delta")
          .count() == 0,
          "dup_of_delta on clique-disjoint deltas")
      } finally { verdicts.unpersist(); () }
    } finally { cSh.unpersist(); dSh.unpersist(); () }
  }
}
