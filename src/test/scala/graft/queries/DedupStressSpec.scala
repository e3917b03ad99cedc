package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The organic dedup-tier stress gates, promoted into `sbt test`
  * (VERDICT r19 task 1): the round-18 width runs (SCALE.md, Dedup /
  * similarity) established the five width-scale gates — planted-clique
  * recall ≥ 0.90, zero false positives, pointer-jump convergence ≤ 6
  * rounds, edge-sized (never corpus²) candidates, corpus-LINEAR
  * shuffle — at 110k/250k docs, but until this spec a regression in
  * banding geometry, shingle hashing, or the verify threshold failed
  * no automated gate. This runs the SAME pipeline (hashedShingles →
  * signatureTables → verifiedPairs → connectedComponents, through
  * scratch lake parquet like the width runs) on the SAME generator
  * ([[DedupFixture]] — the width runs' geometry, so the suite cannot
  * drift from the measured one) at a suite-tolerable width, and
  * asserts all five gates.
  */
class DedupStressSpec extends SparkTestBase {

  test("CI-scale planted-clique dedup pipeline holds the five width " +
      "gates: recall >= 0.90, fp = 0, cc rounds <= 6, edge-sized " +
      "candidates, corpus-linear shuffle") {
    val nClusters = 250
    val cSize = 4
    val nBackground = 8000
    val nDocs = nClusters.toLong * cSize + nBackground
    val dir = scratchDir("graft_dedupstress_")
    DedupFixture.synthDocs(spark, nClusters, cSize, nBackground, 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read
      .schema(graft.Catalog.schemas("documents"))
      .parquet(s"$dir/documents.parquet")

    // stage-level shuffle accounting for the linearity gate — suites
    // run sequentially in the forked test JVM, so the listener sees
    // only this test's stages between add and remove
    val shufWrite = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the real pipeline, through scratch lake parquet
      val sh = LlmQueries.hashedShingles(docs).cache()
      val (sets, bands) =
        try {
          val (se, ba) = LlmQueries.signatureTables(sh)
          se.write.mode("overwrite").parquet(s"$dir/sets")
          ba.write.mode("overwrite").parquet(s"$dir/bands")
          (spark.read.parquet(s"$dir/sets"),
           spark.read.parquet(s"$dir/bands"))
        } finally { sh.unpersist(); () }

      // gate 4 — candidate set is edge-sized, never corpus²
      val cand = bands.select(col("band"), col("bkey"),
          col("doc_id").as("i"))
        .join(bands.select(col("band"), col("bkey"),
          col("doc_id").as("j")), Seq("band", "bkey"))
        .where(col("i") < col("j"))
        .select("i", "j").distinct()
      val nCand = cand.count()

      val pairs = LlmQueries.verifiedPairs(bands, bands, sets).cache()
      val comp = graft.ops.Components
        .connectedComponents(pairs.select("i", "j"), "i", "j")
        .cache()
      try {
        val nNodes = comp.count()
        val rounds = graft.ops.Components.lastRounds
        val truth = DedupFixture.plantedPairs(spark, nClusters, cSize)
          .cache()
        try {
          val nTruth = truth.count()
          val hit = pairs.join(truth, Seq("i", "j")).count()
          val recall = hit.toDouble / nTruth
          val fp = pairs.join(truth, Seq("i", "j"), "left_anti").count()
          val crossed = comp
            .where((col("id") / cSize).cast("long") =!=
              (col("component") / cSize).cast("long")).count()

          // gates 1-3
          assert(fp == 0, s"$fp false-positive pairs")
          assert(crossed == 0,
            s"$crossed docs in cross-cluster components")
          assert(recall >= 0.90,
            f"planted-pair recall $recall%.4f < 0.90 ($hit of $nTruth)")
          assert(nNodes >= nClusters.toLong * cSize * 98 / 100,
            s"only $nNodes of ${nClusters * cSize} planted docs in " +
              "components")
          assert(rounds <= 6,
            s"pointer-jump took $rounds rounds on clique components")
          assert(nCand <= nTruth * 3 / 2 + 1000,
            s"candidate set $nCand not edge-sized (planted $nTruth)")
        } finally { truth.unpersist(); () }
      } finally { comp.unpersist(); pairs.unpersist(); () }

      // gate 5 — shuffle stays corpus-linear: the width harness gates
      // < 5000 MB at 110k docs (~45 KB/doc, a 13x margin over the
      // measured ~3.3 KB/doc); the same per-doc bound applied here.
      // Poll until the async listener bus has drained (stable reading)
      var prev = -1L
      var cur = shufWrite.get
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur; Thread.sleep(200); cur = shufWrite.get
      }
      val shufMb = cur / 1e6
      assert(shufMb < nDocs * 0.045,
        f"total shuffle write $shufMb%.0f MB over the corpus-linear " +
          f"bound ${nDocs * 0.045}%.0f MB at $nDocs docs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
