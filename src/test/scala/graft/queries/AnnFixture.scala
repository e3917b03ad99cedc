// The ONE synthetic embedding-corpus generator behind the ANN scale
// gates: AnnStressSpec builds through these functions, on the same
// planted-neighbor geometry as the width runs recorded in SCALE.md
// (Dedup / similarity, rounds 19-20: 200k and 1M vectors), so the
// recall the gates assert cannot drift from the measured one (the
// DedupFixture pattern, transposed to vectors).
package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object AnnFixture {

  /** Embedding dimensionality — matches the shipped fixture's
    * (TESTDATA.md: embeddings.embedding is 64 floats), so the
    * production bitsFor/bandsFor geometry is exercised unchanged.
    */
  val Dims = 64

  /** One pseudo-random component in [-1, 1] (exact thousandths), keyed
    * by (salt, seed, position `p`) — engine-reproducible, like
    * [[DedupFixture]]'s token streams. Uniform symmetric components
    * make every hyperplane bit ~Bernoulli(0.5), the regime the bits
    * ladder's bucket-population math assumes.
    */
  private def comp(salt: String, seedSql: String): String =
    s"(CAST(pmod(xxhash64('$salt', $seedSql, p), 2001) - 1000 " +
      "AS DOUBLE) / 1000.0)"

  private def arr(c: String): String =
    s"transform(sequence(0, ${Dims - 1}), p -> CAST($c AS FLOAT))"

  /** Synthetic embedding corpus with PLANTED near neighbors.
    * Layout: vec_ids [0, nProbes) are the probes (background-style
    * random vectors); [nProbes, nProbes·(1+nNbr)) are planted
    * neighbors — neighbor m of probe qid is 0.75·x_qid + 0.25·r
    * (r a fresh random vector), which in 64 dims lands at cosine
    * ≈ 0.95 to its probe (the near-dup regime) while everything else
    * sits near-orthogonal (pairwise cosine ~N(0, 1/64), max over 10⁶
    * background docs ≈ 0.6) — so each probe's exact top-nNbr IS its
    * planted set, with a wide margin the small-width brute-force
    * control re-verifies. The probe's base components are regenerated
    * inside the neighbor's expression (same (salt, seed) stream), so
    * generation is join-free and distributed.
    */
  def synthEmbeddings(spark: SparkSession, nProbes: Int, nNbr: Int,
                      nBackground: Long): DataFrame = {
    val probes = spark.range(nProbes.toLong).select(
      col("id").as("vec_id"), expr(arr(comp("e", "id"))).as("embedding"))
    val planted = spark.range(nProbes.toLong * nNbr).select(
      (col("id") + nProbes).as("vec_id"),
      expr(arr(s"0.75 * ${comp("e", s"id div $nNbr")} + " +
        s"0.25 * ${comp("r", "id")}")).as("embedding"))
    val bg0 = nProbes.toLong * (1 + nNbr)
    val background = spark.range(nBackground).select(
      (col("id") + bg0).as("vec_id"),
      expr(arr(comp("e", s"id + $bg0"))).as("embedding"))
    probes.unionByName(planted).unionByName(background)
      .select(col("vec_id"), col("embedding"), lit(0).as("label"))
  }

  /** The planted truth relation: (qid, tid) for every probe and each
    * of its nNbr planted neighbors.
    */
  def plantedNeighbors(spark: SparkSession, nProbes: Int,
                       nNbr: Int): DataFrame =
    spark.range(nProbes.toLong * nNbr).select(
      (col("id") / nNbr).cast("long").as("qid"),
      (col("id") + nProbes).as("tid"))
}
