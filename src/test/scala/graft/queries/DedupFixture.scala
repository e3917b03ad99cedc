// The ONE synthetic near-dup corpus generator behind the dedup scale
// gates: DedupStressSpec, DeltaStressSpec and CapPlumbSpec build
// through these functions, on the same planted-clique geometry as the
// width runs recorded in SCALE.md (Dedup / similarity: 110k and 250k
// docs, 22-50x fixture), so the recall/fp the gates assert cannot
// drift from the measured one (the StreamRecipes pattern, transposed
// to dedup).
package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object DedupFixture {

  /** Synthetic document corpus with PLANTED near-dup cliques and
    * realistic shingle overlap (the smooth-signal lesson of SCALE.md's r16
    * corr panel, transposed to text: background docs share a small common
    * vocabulary — partial overlap everywhere, never hash-white
    * disjointness — while planted cluster members are 1-2 token
    * substitutions on a 200-token base, so pairwise Jaccard lands in
    * [0.961, 1.0], organically above d2's 0.95 verify threshold).
    * Layout: doc_ids [0, nClusters*cSize) are cluster members (cluster
    * cid = id div cSize), then nBackground background docs, then
    * nBoiler BOILERPLATE docs sharing one identical text (the hot
    * LSH bucket of the skew evidence; 0 in the recall gates).
    *
    * `idOffset` shifts every doc_id — the delta-probe gate plants
    * DELTA members into existing cliques by generating a second,
    * offset corpus slice whose planted texts still key off the same
    * cluster id (see [[deltaMembers]]).
    */
  def synthDocs(spark: SparkSession, nClusters: Int, cSize: Int,
                nBackground: Int, nBoiler: Int): DataFrame = {
    val L = 200
    val planted = spark.range(nClusters.toLong * cSize).select(
      col("id").as("doc_id"),
      plantedText(L, s"id div $cSize", s"id % $cSize").as("text"))
    val pc = nClusters.toLong * cSize
    val background = spark.range(nBackground.toLong).select(
      (col("id") + pc).as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, ${L - 1}), p ->
        CASE WHEN pmod(xxhash64('c', id, p), 10) < 3
          THEN concat('c', pmod(xxhash64('w', id, p), 500))
          ELSE concat('v', pmod(xxhash64('u', id, p), 2000000)) END))""")
        .as("text"))
    val boiler = spark.range(nBoiler.toLong).select(
      (col("id") + pc + nBackground).as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, ${L - 1}), p ->
        concat('hot_', p)))""").as("text"))
    withDocSchema(planted.unionByName(background).unionByName(boiler))
  }

  /** The planted-member text for (cid, member), as SQL fragments over
    * the generating range's `id`: the cluster's shared 200-token base
    * (`t<cid>_<p>` at every position) with 1-2 member-keyed
    * substitutions. Factored out so delta members generated AFTER the
    * corpus (different doc_ids, different member indices) land in the
    * SAME cliques with the same Jaccard geometry — shared base tokens
    * key off the cid VALUE alone (intersection ≥ 196 of ≤ 204 distinct
    * unigrams between any two members, J ≥ 0.96 > the 0.95 verify
    * threshold).
    */
  private def plantedText(L: Int, cidSql: String,
      memberSql: String): org.apache.spark.sql.Column =
    expr(s"""concat_ws(' ', transform(sequence(0, ${L - 1}), p ->
      CASE WHEN p = pmod(xxhash64('a', $cidSql, $memberSql), $L)
             OR p = pmod(xxhash64('b', $cidSql, $memberSql), $L)
        THEN concat('m', $cidSql, '_', $memberSql, '_', p)
        ELSE concat('t', $cidSql, '_', p) END))""")

  /** One NEW member per clique in [0, nDeltaCliques) plus `nNovel`
    * novel docs no corpus doc resembles — the delta an incremental
    * ingest batch carries. Ids start at `idStart` (past every corpus
    * id); the planted member index `cSize + 1` never collides with a
    * corpus member's, so its text is a fresh 1-2 token variant of the
    * clique base (Jaccard ≥ 0.96 against every existing member).
    */
  def deltaMembers(spark: SparkSession, nDeltaCliques: Int, cSize: Int,
                   nNovel: Int, idStart: Long): DataFrame = {
    val L = 200
    val planted = spark.range(nDeltaCliques.toLong).select(
      (col("id") + idStart).as("doc_id"),
      plantedText(L, "id", s"${cSize + 1}").as("text"))
    val novel = spark.range(nNovel.toLong).select(
      (col("id") + idStart + nDeltaCliques).as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, ${L - 1}), p ->
        concat('nv', pmod(xxhash64('q', id, p), 2000000))))""").as("text"))
    withDocSchema(planted.unionByName(novel))
  }

  private def withDocSchema(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"), lit("en").as("lang"),
      lit("stress").as("source"),
      length(col("text")).cast("long").as("n_chars"))

  /** All within-cluster (i, j) pairs — the planted truth relation. */
  def plantedPairs(spark: SparkSession, nClusters: Int,
                   cSize: Int): DataFrame = {
    val ids = spark.range(nClusters.toLong * cSize)
      .select(col("id"), (col("id") / cSize).cast("long").as("cid"))
    ids.select(col("id").as("i"), col("cid"))
      .join(ids.select(col("id").as("j"), col("cid")), Seq("cid"))
      .where(col("i") < col("j"))
      .select("i", "j")
  }
}
