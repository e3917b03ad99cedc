package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.Similarity

/** The ANN-tier width gates (SCALE.md, Dedup / similarity: the round-19
  * and round-20 width runs) at CI scale, in `sbt test` — the same
  * promotion DedupStressSpec/DeltaStressSpec did for the dedup tier: a
  * planted-neighbor corpus is generated at TWO widths through the
  * shared generator ([[AnnFixture]] — the width runs' geometry, so the
  * suite cannot drift from the measured one), indexed through the
  * production bucket build ([[Similarity.bandBucketsFromSigns]] with
  * the bitsFor/bandsFor ladder), and probed through the ONE shared probe body
  * ([[Similarity.annTopK]] — e2's graded path). Gates: planted recall
  * ≥ 0.95 at both widths, the bits ladder steps across the width
  * ratio, candidates/probe grow ≤ 2× across it (per-probe work
  * ~O(bands·bucket), not O(N)), size-weighted bucket occupancy ≤ 4×
  * the 64 target, and a small-width brute-force control proving the
  * planted truth IS the exact top-k. The IVF case runs e4b's
  * inverted-file shape at C = √N ([[Similarity.ivfLakeTopK]] over a
  * `partitionBy(cell)` lake): planted recall ≥ 0.90 and the probe
  * scan bounded by the probed cells. (The shuffle-size and
  * physical-read gates stay width-only, where relation sizes force
  * real exchanges; the plan properties pinned at suite scale are
  * annCandidates' broadcast probe side below and e4b's literal cell
  * partition filter in PlanGuardSpec.)
  */
class AnnStressSpec extends SparkTestBase {

  private val nProbes = 60
  private val nNbr = 3

  private def pipeline(dir: String, nBackground: Long)
      : (Long, Int, Int, Long, Double, Double,
         org.apache.spark.sql.DataFrame) = {
    AnnFixture.synthEmbeddings(spark, nProbes, nNbr, nBackground)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embL = spark.read
      .schema(graft.Catalog.schemas("embeddings"))
      .parquet(s"$dir/embeddings.parquet")
    val n = embL.count()
    val bits = Similarity.bitsFor(n)
    val bands = Similarity.bandsFor(bits)
    val signs = Similarity.planeSigns(bands, bits, AnnFixture.Dims)
    Similarity.bandBucketsFromSigns(
        Similarity.withSqNorm(embL, "vec_id"), "vec_id", signs)
      .write.mode("overwrite").parquet(s"$dir/bk")
    val bkL = spark.read.parquet(s"$dir/bk")
    val bs = bkL.groupBy("band", "bucket").count()
      .agg(sum(col("count") * col("count")).as("ss"),
        sum(col("count")).as("s")).head()
    val wMean = bs.getLong(0).toDouble / bs.getLong(1)
    val qL = Similarity.withSqNorm(embL, "vec_id")
    val probes = bkL.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("band"), col("bucket"))
    val nCand = Similarity.annCandidates(bkL, probes).count()
    val top = Similarity.annTopK(bkL, probes, qL, nNbr).cache()
    val truth = AnnFixture.plantedNeighbors(spark, nProbes, nNbr)
    val hits = top.join(truth, Seq("qid", "tid")).count()
    top.unpersist()
    val recall = hits.toDouble / (nProbes.toLong * nNbr)
    (n, bits, bands, nCand, recall, wMean, qL)
  }

  test("CI-scale planted-neighbor ANN holds the width gates: recall " +
      ">= 0.95 at both widths, bits ladder steps, candidates/probe " +
      "sublinear, bucket population bounded, planted == exact") {
    val dir = scratchDir("graft_annstress_")
    val (n1, bits1, _, cand1, recall1, wMean1, qL1) =
      pipeline(s"$dir/w1", 3000L)
    val (n2, bits2, _, cand2, recall2, wMean2, _) =
      pipeline(s"$dir/w2", 12000L)

    assert(recall1 >= 0.95 && recall2 >= 0.95,
      f"planted recall $recall1%.4f / $recall2%.4f < 0.95")
    assert(bits2 > bits1,
      s"bits ladder did not step ($bits1 -> $bits2) across a " +
        f"${n2.toDouble / n1}%.1fx width step")
    assert(wMean1 <= 256 && wMean2 <= 256,
      f"weighted mean bucket $wMean1%.0f / $wMean2%.0f past 4x the " +
        "64 target")
    val candRatio = cand2.toDouble / cand1
    assert(candRatio <= 2.0,
      f"candidates/probe grew $candRatio%.2fx across a " +
        f"${n2.toDouble / n1}%.1fx width step")

    // brute-force control at the small width: the exact top-nNbr is
    // the planted set pair-for-pair, so the recall gates above grade
    // against the true answer
    val pr = qL1.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("sq").as("qsq"))
    val cos = qL1.select(col("vec_id").as("tid"), col("q"), col("sq"))
      .crossJoin(broadcast(pr))
      .where(col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        (Similarity.dotq(col("q"), col("qa")).cast("double") /
          sqrt(col("sq").cast("double") * col("qsq").cast("double")))
          .as("cosine"))
    val exact = Similarity.topK(cos, nNbr).cache()
    val truth = AnnFixture.plantedNeighbors(spark, nProbes, nNbr)
    val nTruth = nProbes.toLong * nNbr
    assert(exact.count() == nTruth &&
      exact.join(truth, Seq("qid", "tid")).count() == nTruth,
      "exact top-k is not the planted set — the fixture's margin " +
        "assumption broke")
    exact.unpersist()
    ()
  }

  test("CI-scale inverted-file IVF at C = sqrt(N): planted recall " +
      ">= 0.90, probe scan bounded by the probed cells") {
    val dir = scratchDir("graft_annivf_")
    val nBackground = 12000L
    AnnFixture.synthEmbeddings(spark, nProbes, nNbr, nBackground)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embL = spark.read
      .schema(graft.Catalog.schemas("embeddings"))
      .parquet(s"$dir/embeddings.parquet")
    val qL = Similarity.withSqNorm(embL, "vec_id")
    val n = embL.count()
    val c = math.ceil(math.sqrt(n.toDouble)).toInt
    val nprobe = 16
    // centroids sampled from the background region (never the probes
    // or planted neighbors — the width harness's convention)
    val cents = Similarity.sampledCents(qL, nProbes.toLong * (1 + nNbr), c)
    qL.select(col("vec_id"), col("q"), col("sq"),
        Similarity.ivfAssign(cents).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/ivf")
    val lakeL = spark.read.parquet(s"$dir/ivf")
    val probesV = qL.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("sq").as("qsq"))
    val cells = Similarity.ivfProbeCells(qL, cents, nProbes, nprobe)
    val top = Similarity.ivfLakeTopK(lakeL, probesV, cells, nNbr).cache()
    val truth = AnnFixture.plantedNeighbors(spark, nProbes, nNbr)
    val nTruth = nProbes.toLong * nNbr
    val hits = top.join(truth, Seq("qid", "tid")).count()
    top.unpersist()
    val recall = hits.toDouble / nTruth
    assert(recall >= 0.90, f"IVF planted recall $recall%.4f < 0.90")
    // the probe touches only the probed cells' rows — cell population
    // bounds the scan at ~nprobe/C of the corpus per probe
    val scanned = lakeL.join(broadcast(cells), Seq("cell"))
      .where(col("vec_id") =!= col("qid")).count()
    val frac = scanned.toDouble / (nProbes.toDouble * n)
    assert(frac <= 3.0 * nprobe / c,
      f"IVF scanned fraction $frac%.4f past 3x nprobe/C " +
        f"(${nprobe.toDouble / c}%.4f)")
  }

  test("CI-scale TRAINED tier (the `Stress ann trained` gates at suite " +
      "width): k-means at C = sqrt(N) through the graded bodies, " +
      "trained-IVF lake recall >= 0.90 with the scan bounded by the " +
      "probed cells, IVF-PQ/ADC serving recall >= 0.90 with a " +
      "codes-sized (not vector-sized) code lake") {
    val dir = scratchDir("graft_anntrained_")
    val nBackground = 12000L
    val nprobe = 16
    AnnFixture.synthEmbeddings(spark, nProbes, nNbr, nBackground)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embL = spark.read
      .schema(graft.Catalog.schemas("embeddings"))
      .parquet(s"$dir/embeddings.parquet")
    Similarity.withSqNorm(embL, "vec_id")
      .write.mode("overwrite").parquet(s"$dir/vecs")
    val qL = spark.read.parquet(s"$dir/vecs")
    val n = qL.count()
    val c = math.ceil(math.sqrt(n.toDouble)).toInt
    // e6's body at CI width: 3 Lloyd rounds from the first-C init
    val cents = graft.ops.Kmeans.train(qL, "vec_id", c, 3)
    assert(cents.size == c && cents.forall(_.size == AnnFixture.Dims))
    // e7b's body: the trained inverted-file lake + static-pruned probe
    graft.ops.Kmeans.assign(qL, cents)
      .select(col("vec_id"), col("q"), col("sq"), col("cell"))
      .repartition(8, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/ivf")
    val lakeL = spark.read.parquet(s"$dir/ivf")
    val lakeBytes = duBytes(s"$dir/ivf")
    val probeCells = graft.ops.Kmeans
      .nearestCells(qL.where(col("vec_id") < nProbes), "vec_id", cents,
        nprobe)
      .select(col("vec_id").as("qid"), col("cell"))
    val probesV = qL.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("sq").as("qsq"))
    val truth = AnnFixture.plantedNeighbors(spark, nProbes, nNbr)
    val nTruth = nProbes.toLong * nNbr
    val ivfTop = Similarity.ivfLakeTopK(lakeL, probesV, probeCells, nNbr)
      .cache()
    val ivfRecall =
      ivfTop.join(truth, Seq("qid", "tid")).count().toDouble / nTruth
    ivfTop.unpersist()
    assert(ivfRecall >= 0.90,
      f"trained-IVF planted recall $ivfRecall%.4f < 0.90")
    val scanned = lakeL.join(broadcast(probeCells), Seq("cell"))
      .where(col("vec_id") =!= col("qid")).count()
    val frac = scanned.toDouble / (nProbes.toDouble * n)
    assert(frac <= 3.0 * nprobe / c,
      f"trained-IVF scanned fraction $frac%.4f past 3x nprobe/C")
    // e11b's body: PQ codebooks trained jointly, the cell-partitioned
    // code lake, the ADC -> exact-rerank serving probe
    val PqM = 8
    val PqK = 16
    val subd = AnnFixture.Dims / PqM
    val subVecs = (0 until PqM).map(m =>
        qL.select(col("vec_id"), lit(m).as("sub"),
          slice(col("q"), m * subd + 1, subd).as("q")))
      .reduce(_.union(_))
    val pqC = graft.ops.Kmeans.trainProduct(subVecs, "vec_id", PqM,
      PqK, 2)
    (0 until PqM).map { m =>
        graft.ops.Kmeans.assign(
            lakeL.select(col("vec_id"), col("cell").as("ccell"),
              slice(col("q"), m * subd + 1, subd).as("q")), pqC(m))
          .select(col("vec_id"), lit(m).as("sub"),
            col("cell").as("code"), col("ccell").as("cell"))
      }.reduce(_.union(_))
      .repartition(8, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/pq_codes")
    val codesLakeL = spark.read.parquet(s"$dir/pq_codes")
    val codesBytes = duBytes(s"$dir/pq_codes")
    assert(codesBytes * 2 < lakeBytes,
      s"code lake $codesBytes B is not codes-sized vs the vector " +
        s"lake $lakeBytes B")
    import spark.implicits._
    val centT = (for (m <- 0 until PqM; k <- pqC(m).indices)
        yield (m, k, pqC(m)(k), pqC(m)(k).map(x => x * x).sum))
      .toDF("sub", "code", "cq", "csq")
    val probeSubs = (0 until PqM).map(m =>
        qL.where(col("vec_id") < nProbes)
          .select(col("vec_id").as("qid"), lit(m).as("sub"),
            slice(col("q"), m * subd + 1, subd).as("qs")))
      .reduce(_.union(_))
    val lut = probeSubs.join(broadcast(centT), Seq("sub"))
      .select(col("qid"), col("sub"), col("code"),
        Similarity.dotq(col("qs"), col("cq")).as("pdot"), col("csq"))
    val pqTop = Similarity.ivfPqTopK(codesLakeL, lakeL, lut,
      probeCells, probesV, 20, nNbr).cache()
    val pqRecall =
      pqTop.join(truth, Seq("qid", "tid")).count().toDouble / nTruth
    pqTop.unpersist()
    assert(pqRecall >= 0.90,
      f"IVF-PQ planted recall $pqRecall%.4f < 0.90")
  }

  private def duBytes(p: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()

  test("annCandidates broadcasts the probe side — the corpus bucket " +
      "relation is scanned, never shuffled, for candidate generation") {
    val dir = scratchDir("graft_annplan_")
    AnnFixture.synthEmbeddings(spark, nProbes, nNbr, 3000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embL = spark.read
      .schema(graft.Catalog.schemas("embeddings"))
      .parquet(s"$dir/embeddings.parquet")
    val n = embL.count()
    val bits = Similarity.bitsFor(n)
    val signs = Similarity.planeSigns(Similarity.bandsFor(bits), bits,
      AnnFixture.Dims)
    Similarity.bandBucketsFromSigns(
        Similarity.withSqNorm(embL, "vec_id"), "vec_id", signs)
      .write.mode("overwrite").parquet(s"$dir/bk")
    val bkL = spark.read.parquet(s"$dir/bk")
    val probes = bkL.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("band"), col("bucket"))
    val plan = planOf(Similarity.annCandidates(bkL, probes))
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join is not broadcast:\n$plan")
  }
}
