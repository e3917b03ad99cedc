package graft

import org.apache.spark.sql.functions._
import graft.ops.Corr

/** The automatic a3c↔a3d width-tier switch ([[Corr.panelRho]]):
  * one entry point, tier chosen by k against the one-pass buffer
  * ceiling. Tested on BOTH sides of the threshold on the same fixture
  * panel — the narrow side must be the exact one-pass co-moment plan,
  * the forced wide side the LSH pair-pruned plan whose emitted pairs
  * are a value-identical subset of the exact answer.
  */
class PanelRhoSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val jan1 = SparkEntry.jan1
  private val jan2 = SparkEntry.jan2

  test("below the ceiling: one-pass tier, complete pair set, vid map") {
    val (users, edges) = Corr.panelRho(spark, sf, 50, jan1, jan2, 600)
    val k = users.size
    val p = planOf(edges)
    assert(p.toLowerCase.contains("corrmatrixagg"), p)
    assert(!p.contains("Inner"), p)
    val rows = edges.collect()
    // the one-pass tier emits EVERY unordered pair, defined or not
    assert(rows.length == k * (k - 1) / 2,
      s"expected ${k * (k - 1) / 2} pairs, got ${rows.length}")
    // ii/jj are the positions of i/j in the sorted id set
    rows.foreach { r =>
      assert(users(r.getAs[Int]("ii")) == r.getAs[Long]("i"), r.toString)
      assert(users(r.getAs[Int]("jj")) == r.getAs[Long]("j"), r.toString)
    }
  }

  test("above the ceiling (forced): pruned tier is a value-identical " +
    "subset with high-rho recall") {
    // sf0.01, not sf0.001: the smallest fixture's ticks are so sparse
    // that no pair has a defined high correlation, which would make the
    // recall floor below vacuous (the spec asserts non-vacuity)
    val sf01 = "/root/testdata/sf0.01"
    val (users, exact) =
      Corr.panelRho(spark, sf01, 100, jan1, jan2, 600)
    val (usersP, pruned) = Corr.panelRho(spark, sf01, 100, jan1,
      jan2, 600, roundThenFilter = Some((4, 0.5)), onePassMaxK = 1)
    assert(users == usersP)
    val pl = planOf(pruned)
    // the pruned plan is the LSH bucket machinery, not the UDAF
    assert(!pl.toLowerCase.contains("corrmatrixagg"), pl)
    assert(pl.contains("Join"), pl)
    // the selector applied round(rho,4) >= 0.5 inside the pruned tier,
    // so mirror the same round on the exact side before comparing
    val ex = exact.select(col("i"), col("j"),
      col("ii").as("eii"), col("jj").as("ejj"),
      round(col("rho"), 4).as("erho"))
    val joined = pruned.join(ex, Seq("i", "j"), "left").collect()
    assert(joined.nonEmpty, "pruned tier emitted no candidates")
    joined.foreach { r =>
      // every emitted edge exists in the exact matrix with the same
      // (rounded) rho — candidates are verified with the same exact
      // Pearson — the same vid mapping, and survived the threshold
      assert(!r.isNullAt(r.fieldIndex("erho")),
        s"candidate pair not in exact matrix: $r")
      assert(math.abs(r.getAs[Double]("rho") - r.getAs[Double]("erho")) < 1e-9,
        r.toString)
      assert(r.getAs[Double]("rho") >= 0.5, s"threshold leak: $r")
      assert(r.getAs[Int]("ii") == r.getAs[Int]("eii"), r.toString)
      assert(r.getAs[Int]("jj") == r.getAs[Int]("ejj"), r.toString)
    }
    // recall floor at the threshold the tier serves: the banded
    // hyperplane buckets are md5-deterministic, so this is a fixed
    // property of the fixture, not a flaky sample — and it must not be
    // vacuously true
    val hi = exact.where(round(col("rho"), 4) >= 0.9).count()
    assert(hi > 0, "fixture has no high-rho pair — recall check vacuous")
    val hiFound = pruned.where(col("rho") >= 0.9).count()
    // measured 42/47 = 0.894 on this fixture at 8 bands x 5 bits (the
    // misses sit just above the 0.9 cut, where the collision
    // probability is lowest); the floor pins that level so a banding
    // regression fails loudly without flaking on the boundary pairs
    assert(hiFound.toDouble / hi >= 0.85,
      s"high-rho recall $hiFound/$hi below 0.85")
  }

  test("roundThenFilter is tier-independent: the one-pass branch " +
    "applies the same round-then-filter order") {
    val (_, exact) = Corr.panelRho(spark, sf, 50, jan1, jan2, 600)
    val (_, filtered) = Corr.panelRho(spark, sf, 50, jan1, jan2,
      600, roundThenFilter = Some((4, 0.5)))
    // still the one-pass plan (k well under the default ceiling)
    assert(planOf(filtered).toLowerCase.contains("corrmatrixagg"))
    val want = exact
      .withColumn("rho", round(col("rho"), 4))
      .where(col("rho") >= 0.5)
      .collect().map(_.toString).sorted.toSeq
    val got = filtered.collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty, "filter left nothing — vacuous")
    assert(got == want)
  }

  test("a wide mostly-null grid (1.81e7 cells): the pruned tier's " +
    "edges are a value-identical subset of the exact one-pass matrix") {
    // grid [2023-12-08, 2024-01-02) at 16 s: 135000 buckets × the 134
    // series with data in range = 1.81e7 cells. Most of the grid
    // precedes the data (the fill starts at the first January
    // observation), which is exactly the kind of panel where the vector
    // verify's null-slot handling has to agree with the one-pass
    // aggregate's pairwise-complete sums
    val sf01 = "/root/testdata/sf0.01"
    val dec8 = 1701993600L
    val (users, exact) =
      Corr.panelRho(spark, sf01, 150, dec8, jan2, 16L,
        roundThenFilter = Some((4, 0.5)))
    val (usersP, pruned) =
      Corr.panelRho(spark, sf01, 150, dec8, jan2, 16L,
        roundThenFilter = Some((4, 0.5)), onePassMaxK = 1)
    assert(users == usersP)
    assert(planOf(exact).toLowerCase.contains("corrmatrixagg"))
    val p = planOf(pruned)
    assert(p.contains("pearson_arrays"), p.take(4000))
    val want = exact.collect().map(_.toString).toSet
    val got = pruned.collect().map(_.toString).toSeq
    assert(got.nonEmpty, "no edges — vacuous")
    // every pruned edge — ids, vids and rounded rho — is a row of the
    // exact matrix under the same round-then-filter
    val extra = got.filterNot(want.contains)
    assert(extra.isEmpty, s"pruned edges not in the exact matrix: " +
      extra.take(5).mkString(", "))
  }

  test("above the ceiling without a threshold refuses loudly") {
    val e = intercept[IllegalArgumentException] {
      Corr.panelRho(spark, sf, 50, jan1, jan2, 600,
        onePassMaxK = 1)
    }
    assert(e.getMessage.contains("one-pass ceiling"))
  }
}
