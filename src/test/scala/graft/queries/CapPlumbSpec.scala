package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Text
import graft.plans.PlanText

/** Pins the `maxDf` plumbing (VERDICT r19 task 3): the measured
  * boilerplate-straggler mitigation (`Text.capBandKeys`, measured at
  * width in SCALE.md's round-18 band-join skew section) is now a
  * PARAMETER on the production signature/pair build, and this spec
  * proves both directions —
  * (a) the default (None) leaves the graded d2/d6/d8 pair shape
  * byte-identical to the pre-parameter plan (normalized compare
  * against an inline replica of the r18 body), so plumbing the knob
  * changed nothing that is graded; and (b) the capped path's output
  * is exactly the uncapped output minus the hot bucket's pairs on a
  * planted corpus, with planted-pair recall untouched.
  */
class CapPlumbSpec extends SparkTestBase {

  // 40 cliques x 4 + 600 background + 80 boilerplate docs sharing ONE
  // text: the boiler bucket's band keys carry df=80 on both bands,
  // far over every cap used below, while planted buckets top out at
  // the clique size (4) and background buckets stay organic (small)
  private val NClusters = 40
  private val CSize = 4
  private val NBackground = 600
  private val NBoiler = 80
  private val BoilerStart: Long = NClusters.toLong * CSize + NBackground

  private lazy val tables: (DataFrame, DataFrame) = {
    val docs = DedupFixture.synthDocs(spark, NClusters, CSize,
      NBackground, NBoiler)
    val sh = LlmQueries.hashedShingles(docs).cache()
    val (sets, bands) = LlmQueries.signatureTables(sh)
    // materialize both off the shared shingle pass, then release it
    val s = sets.cache(); s.count()
    val b = bands.cache(); b.count()
    sh.unpersist()
    (s, b)
  }
  private def sets = tables._1
  private def bands = tables._2

  /** Inline replica of verifiedPairs AS GRADED THROUGH r18 (the body
    * before the maxDf parameter existed) — the reference shape the
    * default-argument plan must still produce byte-for-byte.
    */
  private def r18VerifiedPairs(aBands: DataFrame, bBands: DataFrame,
                               ss: DataFrame): DataFrame = {
    val a = aBands.select(col("band"), col("bkey"), col("doc_id").as("i"))
    val b = bBands.select(col("band"), col("bkey"), col("doc_id").as("j"))
    val cand = a.join(b, Seq("band", "bkey"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
    cand
      .join(ss.select(col("doc_id").as("i"), col("sz").as("sa"),
        col("hs").as("ha")), Seq("i"))
      .join(ss.select(col("doc_id").as("j"), col("sz").as("sb"),
        col("hs").as("hb")), Seq("j"))
      .where(least(col("sa"), col("sb")) * 1000000L >=
        greatest(col("sa"), col("sb")) * 949999L)
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jac", round(col("inter") /
        (col("sa") + col("sb") - col("inter")), 6))
      .where(col("jac") >= 0.95)
      .select("i", "j", "jac")
  }

  test("default None: the pair plan is byte-identical to the r18 " +
      "graded shape (normalized), with no anti cut anywhere") {
    val now = LlmQueries.verifiedPairs(bands, bands, sets)
    val r18 = r18VerifiedPairs(bands, bands, sets)
    assert(PlanText.normalize(planOf(now)) ==
      PlanText.normalize(planOf(r18)),
      "default-argument plan drifted from the pre-parameter shape")
    assert(!planOf(now).contains("LeftAnti"),
      "default plan must carry no hot-key anti join")
  }

  test("default None: the d8 delta-probe plan is byte-identical to " +
      "the r18 graded shape (normalized)") {
    val deltaBands = bands.where(col("doc_id") >= BoilerStart + 40)
    val deltaIds = spark.range(BoilerStart + 40,
        BoilerStart + NBoiler).select(col("id").as("doc_id"))
    val th = BoilerStart + 40
    val now = LlmQueries.deltaVerdicts(bands, deltaBands, sets,
      deltaIds, th)
    // the r18 deltaVerdicts body over the r18 pair shape
    val m = r18VerifiedPairs(bands, deltaBands, sets)
      .groupBy(col("j").as("doc_id"))
      .agg(min("i").as("match_id"), count(lit(1)).as("n_matches"))
    val r18 = deltaIds.select("doc_id")
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(col("match_id").isNull, "new")
          .when(col("match_id") < th, "dup_of_corpus")
          .otherwise("dup_of_delta").as("verdict"))
    assert(PlanText.normalize(planOf(now)) ==
      PlanText.normalize(planOf(r18)),
      "d8-shape default plan drifted from the pre-parameter shape")
  }

  test("maxDf plan carries the broadcast anti cut on both band sides " +
      "(non-vacuity for the plan pins above)") {
    val plan = planOf(LlmQueries.verifiedPairs(bands, bands, sets,
      maxDf = Some(16)))
    val antiSites = plan.linesIterator.count(_.contains("LeftAnti"))
    assert(antiSites >= 2,
      s"expected an anti cut per band side, saw $antiSites:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("capped pairs = uncapped minus the hot bucket's pairs; planted " +
      "recall intact") {
    val uncapped = LlmQueries.verifiedPairs(bands, bands, sets).cache()
    val capped = LlmQueries.verifiedPairs(bands, bands, sets,
      maxDf = Some(16)).cache()
    try {
      // nothing NEW appears under the cap
      assert(capped.exceptAll(uncapped).isEmpty)
      // what disappears is exactly the boilerplate clique's pairs:
      // C(NBoiler, 2) rows, every one with both ends in boiler range
      val dropped = uncapped.exceptAll(capped).cache()
      try {
        assert(dropped.count() == NBoiler.toLong * (NBoiler - 1) / 2)
        assert(dropped.where(col("i") < BoilerStart ||
          col("j") < BoilerStart).count() == 0,
          "cap dropped a non-boilerplate pair")
      } finally { dropped.unpersist(); () }
      // planted recall is untouched by the cap
      val truth = DedupFixture.plantedPairs(spark, NClusters, CSize)
      assert(capped.join(truth, Seq("i", "j")).count() ==
        uncapped.join(truth, Seq("i", "j")).count())
    } finally { uncapped.unpersist(); capped.unpersist(); () }
  }

  test("signatureTables maxDf caps the band table exactly like " +
      "Text.capBandKeys on the default build") {
    val docs = DedupFixture.synthDocs(spark, NClusters, CSize,
      NBackground, NBoiler)
    val sh = LlmQueries.hashedShingles(docs).cache()
    try {
      val (_, capped) = LlmQueries.signatureTables(sh, Some(16))
      val viaHelper = Text.capBandKeys(bands, 16)
      assert(capped.exceptAll(viaHelper).isEmpty &&
        viaHelper.exceptAll(capped).isEmpty)
    } finally { sh.unpersist(); () }
  }

  test("deltaVerdictsSplit == deltaVerdicts verdict-for-verdict " +
      "(default and capped) — the decomposition the streaming gate " +
      "and the width harness rely on, pinned at suite scale") {
    // external-delta shape: the last boiler docs' signatures treated
    // as a fresh batch (corpus relations exclude them), matching the
    // streaming gate's anti-joined state tables
    val th = BoilerStart + 40
    val dBands = bands.where(col("doc_id") >= th)
    val dSets = sets.where(col("doc_id") >= th)
    val cBands = bands.where(col("doc_id") < th)
    val cSets = sets.where(col("doc_id") < th)
    val deltaIds = spark.range(th, BoilerStart + NBoiler)
      .select(col("id").as("doc_id"))
    for (cap <- Seq(None, Some(16))) {
      val split = LlmQueries.deltaVerdictsSplit(cBands, cSets, dBands,
        dSets, deltaIds, th, cap)
      val single = LlmQueries.deltaVerdicts(
        cBands.unionByName(dBands), dBands, cSets.unionByName(dSets),
        deltaIds, th, cap)
      assert(split.exceptAll(single).isEmpty &&
        single.exceptAll(split).isEmpty,
        s"split != single probe at maxDf=$cap")
    }
  }

  test("deltaVerdicts maxDf: hot keys counted over the corpus side — " +
      "a boilerplate delta flips dup_of_corpus -> new under the cap") {
    // delta = the last 40 boiler docs probing a corpus that already
    // holds the first 40: uncapped, every delta doc matches the
    // corpus boilerplate (min match id = BoilerStart < th); capped,
    // the hot bucket is cut from BOTH sides and they all verdict new
    val th = BoilerStart + 40
    val deltaBands = bands.where(col("doc_id") >= th)
    val deltaIds = spark.range(th, BoilerStart + NBoiler)
      .select(col("id").as("doc_id"))
    val uncapped = LlmQueries.deltaVerdicts(bands, deltaBands, sets,
      deltaIds, th).cache()
    val capped = LlmQueries.deltaVerdicts(bands, deltaBands, sets,
      deltaIds, th, maxDf = Some(16)).cache()
    try {
      assert(uncapped.count() == 40)
      assert(uncapped.where(col("verdict") === "dup_of_corpus")
        .count() == 40)
      assert(capped.count() == 40)
      assert(capped.where(col("verdict") === "new").count() == 40)
    } finally { uncapped.unpersist(); capped.unpersist(); () }
  }
}
