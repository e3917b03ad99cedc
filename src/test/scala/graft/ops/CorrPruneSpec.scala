package graft.ops

import graft.{PearsonReference, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CorrPruneSpec extends SparkTestBase {
  import spark.implicits._

  // Deterministic panel: 8 series × 48 grid positions. Series 0 is an
  // LCG-driven walk; series 1 tracks it closely (high positive ρ);
  // series 2 mirrors it (ρ ≈ −1, must NOT appear at a positive
  // threshold); series 3-7 are independent LCG streams.
  private def lcg(seed: Long): Iterator[Double] =
    Iterator.iterate(seed)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .map(s => ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5)

  private lazy val panel = {
    val t = 48
    val base = lcg(42L).take(t).toVector
    def noisy(seed: Long, eps: Double) =
      base.zip(lcg(seed).take(t).toVector).map { case (b, n) => b + eps * n }
    val series: Map[Long, Vector[Double]] = Map(
      0L -> base,
      1L -> noisy(7L, 0.15),
      2L -> base.map(-_),
      3L -> lcg(100L).take(t).toVector,
      4L -> lcg(200L).take(t).toVector,
      5L -> lcg(300L).take(t).toVector,
      6L -> lcg(400L).take(t).toVector,
      7L -> lcg(500L).take(t).toVector)
    series.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case (v, i) => (k, i + 1, v) }
    }.toDF("key", "pos", "value")
  }

  private def exactPairs(threshold: Double): Set[(Long, Long)] = {
    val a = panel.select(col("key").as("i"), col("pos"), col("value").as("va"))
    val b = panel.select(col("key").as("j"), col("pos"), col("value").as("vb"))
    a.join(b, Seq("pos")).where(col("i") < col("j"))
      .groupBy("i", "j")
      .agg(PearsonReference.pearson(col("va"), col("vb")).as("rho"))
      .where(col("rho") >= threshold)
      .select("i", "j").as[(Long, Long)].collect().toSet
  }

  // The position-join reference for the vector verify: the exact
  // PearsonReference.pearson aggregate over the per-pos inner join of
  // the two series, restricted to corrCandidates. Undefined rho is not a
  // result: a zero-overlap pair forms no group, a constant-side pair a
  // null-rho one, and both emit no row.
  private def positionJoinRho(p: DataFrame, dims: Int, bands: Int,
                              bits: Int): DataFrame = {
    val nn = p.where(col("value").isNotNull)
    val a = nn.select(col("key").as("i"), col("pos"), col("value").as("va"))
    val b = nn.select(col("key").as("j"), col("pos"), col("value").as("vb"))
    CorrPrune.corrCandidates(p, "key", "pos", "value", dims, bands, bits)
      .join(a, Seq("i")).join(b, Seq("j", "pos"))
      .groupBy("i", "j")
      .agg(PearsonReference.pearson(col("va"), col("vb")).as("rho"))
      .where(col("rho").isNotNull)
  }

  test("candidateRhoVectors: exact verification — output is a subset " +
    "of all-pairs") {
    val got = CorrPrune.candidateRhoVectors(panel, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4)
      .where(col("rho") >= 0.9)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val want = exactPairs(0.9)
    assert(got.subsetOf(want), s"pruned output $got must never exceed exact $want")
  }

  test("candidateRhoVectors finds the high-rho pair and rejects the " +
    "mirror pair") {
    val got = CorrPrune.candidateRhoVectors(panel, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4)
      .where(col("rho") >= 0.9)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // ρ(0,1) ≈ 0.97 sits at angle ≈ 14°: per-band hit p^4 ≈ 0.66,
    // 6 bands ⇒ modeled recall ≈ 0.998 — and the md5 planes are
    // deterministic, so this assertion is stable, not flaky.
    assert(got.contains((0L, 1L)), "the planted ρ≈0.97 pair must survive pruning")
    assert(!got.contains((0L, 2L)), "the ρ≈−1 mirror must not pass a +0.9 threshold")
  }

  test("corrCandidates prunes: candidate count is below all-pairs") {
    val n = CorrPrune.corrCandidates(panel, "key", "pos", "value",
      dims = 48, bands = 2, bits = 4).count()
    assert(n < 8L * 7 / 2, s"2 bands × 16 buckets over 8 series must drop some of the 28 pairs (got $n)")
  }

  test("corrCandidates refuses a position outside [1, dims] loudly") {
    // such a row joins no hyperplane: silently truncated bucket stats
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for (bad <- Seq(0, 49)) {
      val shifted = panel.withColumn("pos",
        when(col("key") === 3L && col("pos") === 7, lit(bad))
          .otherwise(col("pos")))
      val e = intercept[Exception] {
        CorrPrune.corrCandidates(shifted, "key", "pos", "value",
          dims = 48, bands = 2, bits = 4).collect()
      }
      assert(messages(e).exists(_.contains(
        s"series 3 has position $bad outside [1, 48]")),
        messages(e).mkString(" | "))
    }
    // a null value at an out-of-range position carries no statistics
    // and is dropped as before
    val nullOut = panel.union(Seq((3L, 49, Option.empty[Double]))
      .toDF("key", "pos", "value"))
    assert(CorrPrune.corrCandidates(nullOut, "key", "pos", "value",
        dims = 48, bands = 2, bits = 4).count() ==
      CorrPrune.corrCandidates(panel, "key", "pos", "value",
        dims = 48, bands = 2, bits = 4).count())
  }

  test("candidateRhoVectors ≡ the position-join reference: same pairs, " +
    "same rho, including null grid slots") {
    // leading-null slots (pre-first-observation ffill output) must keep
    // the pairwise-complete semantics through the vector zip exactly as
    // the position-join does
    val withNulls = panel.withColumn("value",
      when(col("key") === 1L && col("pos") <= 5, lit(null))
        .otherwise(col("value")))
    for (p <- Seq(panel, withNulls)) {
      val ref = positionJoinRho(p, dims = 48, bands = 6, bits = 4)
        .select("i", "j", "rho").as[(Long, Long, Double)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
      val vec = CorrPrune.candidateRhoVectors(p, "key", "pos", "value",
          dims = 48, bands = 6, bits = 4)
        .select("i", "j", "rho").as[(Long, Long, Double)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(vec.keySet == ref.keySet)
      vec.foreach { case (k, r) =>
        assert(math.abs(r - ref(k)) < 1e-12, s"pair $k: $r vs ${ref(k)}")
      }
    }
  }

  test("undefined rho is dropped by BOTH verify paths: zero-overlap and " +
    "constant-side candidate pairs emit no row, with no threshold") {
    // the two paths: the vector verify and the position-join reference
    // Two degenerate series, both CONSTANT on their support — a constant
    // series has an all-zero centered vector, so every band projection is
    // 0, the sign test is false for every bit, and the series lands
    // bucket 0 in EVERY band: candidacy with each other (and with any
    // other bucket-0 series) is guaranteed, deterministically.
    //   8: constant on pos 1..24, null after  } disjoint support ⇒ the
    //   9: constant on pos 25..48, null before} (8,9) overlap is empty
    //  10: constant on all 48 positions ⇒ (8,10) and (9,10) are
    //      constant-side pairs WITH overlap (the position-join
    //      reference forms a group for them and the aggregate yields
    //      null rho)
    val degen = (1 to 48).flatMap { p =>
      Seq((8L, p, if (p <= 24) Some(5.0) else None),
        (9L, p, if (p > 24) Some(7.0) else None),
        (10L, p, Some(3.0)))
    }.toDF("key", "pos", "value")
    val full = panel.select(col("key"), col("pos"),
      col("value").cast("double").as("value")).unionByName(degen)
    val cand = CorrPrune.corrCandidates(full, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4)
      .as[(Long, Long)].collect().toSet
    assert(Set((8L, 9L), (8L, 10L), (9L, 10L)).subsetOf(cand),
      s"constant series must collide in bucket 0 of every band: $cand")
    val ref = positionJoinRho(full, dims = 48, bands = 6, bits = 4)
      .select("i", "j", "rho").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val vec = CorrPrune.candidateRhoVectors(full, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4)
      .select("i", "j", "rho").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // row-for-row with the reference: identical pair sets, no nulls
    // anywhere (the Double decode above would have thrown on one), and
    // every degenerate candidate — zero overlap (8,9) AND constant-side
    // overlaps — gone
    assert(vec.keySet == ref.keySet,
      s"paths diverge: vec-only ${vec.keySet -- ref.keySet}, " +
        s"ref-only ${ref.keySet -- vec.keySet}")
    assert(vec.keys.forall(p => p._1 < 8L && p._2 < 8L),
      s"degenerate pairs must emit no row: ${vec.keySet.filter(_._2 >= 8)}")
    vec.foreach { case (k, r) =>
      assert(math.abs(r - ref(k)) < 1e-12, s"pair $k: $r vs ${ref(k)}")
    }
  }

  test("plane join flips to shuffle past the 4e6-row ceiling: no plane " +
    "broadcast in the cluster shape, candidates equal the hinted path") {
    // 6 bands × 4 bits × 170k grid positions = 4.08e6 plane rows — past
    // the ceiling ORGANICALLY (nothing forced). Plane signs depend only
    // on (band, bit, p), so widening the grid from 48 to 170k positions
    // over the same 48-position panel must leave every bucket — and so
    // every candidate pair — exactly as the hinted dims=48 run computes
    // them; only the join strategy may change.
    val wideDims = 170000
    val hinted = CorrPrune.corrCandidates(panel, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4)
      .as[(Long, Long)].collect().toSet
    val unhinted = CorrPrune.corrCandidates(panel, "key", "pos", "value",
        dims = wideDims, bands = 6, bits = 4)
      .as[(Long, Long)].collect().toSet
    assert(hinted.nonEmpty)
    assert(unhinted == hinted,
      s"bucket assignments diverged: unhinted-only ${unhinted -- hinted}, " +
        s"hinted-only ${hinted -- unhinted}")
    // cluster shape (size-based broadcasts off): the plane generator —
    // the subtree containing the Range sources — must sit under a
    // BroadcastExchange in the ≤4e6 geometry (the hint; positive
    // control) and under NO BroadcastExchange past it (the would-be
    // multi-GB forced broadcast at very wide grids)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val into = p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case _ => Seq.empty
      }
      (p +: into) ++ p.children.flatMap(walk)
    }
    def hasRange(p: SparkPlan): Boolean =
      walk(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.RangeExec])
    def planeBroadcasts(dims: Int): Seq[String] = {
      val df = CorrPrune.corrCandidates(panel, "key", "pos", "value",
        dims = dims, bands = 6, bits = 4)
      walk(df.queryExecution.executedPlan).collect {
        case e: BroadcastExchangeExec if hasRange(e.child) =>
          e.child.treeString.linesIterator.take(2).mkString(" | ")
      }
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      assert(planeBroadcasts(48).nonEmpty,
        "walk no longer reaches the hinted plane broadcast — the guard " +
          "below would be vacuous")
      val off = planeBroadcasts(wideDims)
      assert(off.isEmpty,
        s"plane relation broadcast past the ceiling:\n${off.mkString("\n")}")
    } finally spark.conf.set(key, prev)
  }

  test("candidateRhoVectors rows are identical at 1 and 7 input " +
    "partitions × 1 and 8 shuffle partitions") {
    // null grid slots ride along so the pairwise-complete skip is
    // exercised under every partitioning too
    val withNulls = panel.withColumn("value",
      when(col("key") === 1L && col("pos") <= 5, lit(null))
        .otherwise(col("value")))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val runs = try {
      for (inParts <- Seq(1, 7); shuffleParts <- Seq(1, 8)) yield {
        spark.conf.set(key, shuffleParts.toString)
        val rows = CorrPrune.candidateRhoVectors(
            withNulls.repartition(inParts), "key", "pos", "value",
            dims = 48, bands = 6, bits = 4)
          .select("i", "j", "rho").as[(Long, Long, Double)]
          .collect().sortBy(t => (t._1, t._2)).toSeq
        (inParts, shuffleParts) -> rows
      }
    } finally spark.conf.set(key, prev)
    val (_, first) = runs.head
    assert(first.nonEmpty, "no candidate rows — vacuous")
    runs.tail.foreach { case (setting, rows) =>
      // bit-for-bit: the kernel folds each pair's vectors in pos order,
      // so no partitioning may change a single rho
      assert(rows == first, s"$setting diverged from ${runs.head._1}")
    }
  }

  test("candidateRhoVectors refuses a non-grid-complete panel loudly") {
    // absent ROWS (not null values) would shift every later slot of the
    // index-aligned vectors and silently verify the wrong pairs — the
    // grid-complete precondition is enforced with raise_error instead
    val withAbsent = panel
      .where(!(col("key") === 0L && col("pos").between(10, 14)))
    val e = intercept[Exception] {
      CorrPrune.candidateRhoVectors(withAbsent, "key", "pos", "value",
        dims = 48, bands = 6, bits = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("grid-complete")),
      messages(e).mkString(" | "))
  }
}
