package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact brute-force cosine top-k (the
  * correctness baseline) and sign-bucket LSH pruning (the scale path).
  *
  * Numeric determinism contract: components are quantized to exact
  * integer micros (`round(x · 1e6)` as long — a ~1e-6 relative
  * quantization, below float32's own resolution for unit-scale
  * embeddings), so dot products and squared norms are plain long sums:
  * exact, associative (partition order cannot change them), identical in
  * any engine, and codegen'd — unlike high-precision decimal sums, which
  * fall onto Spark's boxed BigDecimal path (measured ~5× slower on the
  * same plans). The scale factor cancels in the cosine ratio, and the
  * final cosine = dot / √(na·nb) is a fixed sequence of IEEE double ops,
  * so rank-by-cosine is deterministic without rounding tricks.
  *
  * Scale notes: dot products and norms are computed on the quantized
  * ARRAY form via codegen'd higher-order functions ([[dotq]]) — one
  * projection per candidate row, no per-dimension explode shuffle (the
  * exploded form moves dims× more rows through every join; measured 4×
  * slower on the d5 verification at sf0.1). The long (vec_id, pos, xq)
  * [[exploded]] form remains the input to band bucketing, where the
  * plane join genuinely is per-dimension. Probe sides are broadcast;
  * nothing is collected. The LSH variant prunes candidates to band
  * buckets before any join.
  */
object Similarity {

  /** Long form: one row per (id, pos, xq: long micros), pos 1-based to
    * match the oracle's `embedding[i]` indexing.
    */
  def exploded(emb: DataFrame, idCol: String): DataFrame =
    emb.select(col(idCol), posexplode(col("embedding")).as(Seq("p", "xf")))
      .select(col(idCol), (col("p") + 1).as("pos"),
        round(col("xf").cast("double") * 1e6, 0).cast("long").as("xq"))

  /** Quantized array form with exact squared norm: (idCol, q:
    * array<long> micros, sq: long) — one map-only projection, the shape
    * every cosine verification joins against. dotq(q, q) is long-exact
    * (64 dims × (1e6)² stays far under 2^63).
    */
  def withSqNorm(emb: DataFrame, idCol: String): DataFrame =
    emb.select(col(idCol), quantized(col("embedding")).as("q"))
      .withColumn("sq", dotq(col("q"), col("q")))

  /** Top-k rows per probe by (cosine desc, tid asc) — deterministic given
    * the engine-independent cosine doubles.
    */
  def topK(cos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("tid"))
    cos.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Exact cosine of candidate (i, j) pairs via the array-form dot
    * product: two equi-joins against the (vec_id, q, sq) relation and
    * one codegen'd HOF per row — no per-dimension explode shuffle.
    * Shared by every ANN re-score (e2/e4's graded paths and the width
    * harness) so the re-scoring arithmetic cannot drift.
    */
  def cosineOf(cand: DataFrame, q: DataFrame, iCol: String,
               jCol: String): DataFrame =
    cand
      .join(q.select(col("vec_id").as(iCol), col("q").as("qa"),
        col("sq").as("sqa")), Seq(iCol))
      .join(q.select(col("vec_id").as(jCol), col("q").as("qb"),
        col("sq").as("sqb")), Seq(jCol))
      .withColumn("cosine",
        dotq(col("qa"), col("qb")).cast("double") /
          sqrt(col("sqa").cast("double") * col("sqb").cast("double")))
      .drop("qa", "qb", "sqa", "sqb")

  /** LSH probe candidates: target bucket rows joined to the broadcast
    * probe buckets on (band, bucket), self-hits dropped, deduped across
    * bands. Probe side is (qid, band, bucket) — bands·|probes| rows, a
    * broadcast at any corpus size; the target side is only SCANNED
    * (map-side join), so candidate generation never shuffles the
    * corpus.
    */
  def annCandidates(bk: DataFrame, probes: DataFrame): DataFrame =
    bk.select(col("vec_id").as("tid"), col("band"), col("bucket"))
      .join(broadcast(probes), Seq("band", "bucket"))
      .where(col("tid") =!= col("qid"))
      .select("qid", "tid").distinct()

  /** The full banded-LSH ANN probe — candidates from the bucket
    * relation ([[annCandidates]]), exact integer-cosine re-score,
    * top-k per probe ([[topK]]). The ONE probe body behind e2's graded
    * query, the round-19 width runs (SCALE.md, Dedup / similarity) and
    * the CI-scale spec, so the measured geometry cannot drift from the
    * graded one (the DedupFixture pattern).
    *
    * Re-score shape (width-measured, round 19): the first cut re-used
    * [[cosineOf]], whose two equi-joins against the full (vec_id, q,
    * sq) relation sort-merge-shuffled the CORPUS per probe batch —
    * the round-19 width run measured 141 → 420 MB probe shuffle
    * across a 5× width step (corpus-bound, 3.0×) against a candidate
    * volume that grew only 1.7×. Structurally fixed the way the dedup
    * tier's delta probe was: the probe side's vectors are a |probes|-sized
    * relation fetched map-side and BROADCAST; the target side joins
    * candidates (the only relation that shuffles — delta-sized) against
    * `q` on vec_id, so when `q` is the persisted vector lake BUCKETED
    * by vec_id (the production layout; the harness builds it) the lake
    * side plans zero exchanges and the probe's shuffle is
    * candidate-sized at any corpus width.
    */
  def annTopK(bk: DataFrame, probes: DataFrame, q: DataFrame,
              k: Int): DataFrame = {
    val pv = q.join(
        broadcast(probes.select(col("qid").as("vec_id")).distinct()),
        Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("sq").as("qsq"))
    rescoredTopK(annCandidates(bk, probes), q, pv, k)
  }

  /** The ONE exact re-score + top-k every ANN family ends in, with the
    * join order that holds at width: the tid fetch joins the SLIM
    * (qid, tid) candidate relation against the vector relation FIRST —
    * attaching the 8·dims-byte probe vector before that join would
    * ride it through the candidate shuffle (measured: 86.6 MB vs the
    * slim order's candidate-sized shuffle at 200k vectors; when `q` is
    * the vec_id-bucketed lake its side plans zero exchanges). The
    * broadcast probe-vector attach (`pv` = (qid, qa, qsq)) is map-side
    * after, and the vectors are dropped before the top-k window so the
    * rank shuffle moves only (qid, tid, cosine).
    */
  def rescoredTopK(cand: DataFrame, q: DataFrame, pv: DataFrame,
                   k: Int): DataFrame = {
    val cos = cand
      .join(q.select(col("vec_id").as("tid"), col("q").as("qb"),
        col("sq").as("sqb")), Seq("tid"))
      .join(broadcast(pv), Seq("qid"))
      .withColumn("cosine",
        dotq(col("qa"), col("qb")).cast("double") /
          sqrt(col("qsq").cast("double") * col("sqb").cast("double")))
      .drop("qa", "qb", "qsq", "sqb")
    topK(cos, k)
  }

  // ----------------------------------------------------- IVF (coarse cells)

  /** The full IVF ANN probe against a LITERAL codebook — the ONE probe
    * body behind e4's graded query and the width harness's IVF arm.
    * `cents` is (cid, quantized centroid, centroid sq norm) — C·dims
    * longs of dimension metadata (the [[graft.ops.Kmeans]] codebook
    * pattern), so BOTH halves run map-only over one corpus scan:
    * assignment is an argmax over a per-row literal-centroid cosine
    * array (cos desc, cid asc tie-break — `array_max` over
    * (cos, −cid) structs), and the probe fan-out windows a
    * probe-count-sized explode (never the corpus). Candidates =
    * assignment rows in a probe's `nprobe` nearest cells, re-scored
    * with the exact integer cosine. Replaces the window-over-(n·C)
    * `ivfScores` shape (rounds 13-18), whose rank-by-vector window
    * shuffled AND cached n·C rows — fixture-invisible, but n^1.5 at
    * width once C scales ≈ √N.
    */
  def ivfTopK(q: DataFrame, cents: Seq[(Long, Seq[Long], Long)],
              nProbeIds: Long, nprobe: Int, k: Int): DataFrame = {
    val assign = q.select(col("vec_id").as("tid"),
      ivfAssign(cents).as("cell"))
    val cand = assign
      .join(broadcast(ivfProbeCells(q, cents, nProbeIds, nprobe)),
        Seq("cell"))
      .where(col("tid") =!= col("qid"))
      .select("qid", "tid")
    // same re-score shape and join ORDER as [[annTopK]], via the one
    // shared [[rescoredTopK]] body: slim candidates fetch target
    // vectors first (candidate-sized shuffle, zero lake exchange when
    // q is bucketed by vec_id), probe vectors broadcast-attach after,
    // vectors dropped before the rank window
    val pv = q.where(col("vec_id") < nProbeIds)
      .select(col("vec_id").as("qid"), col("q").as("qa"),
        col("sq").as("qsq"))
    rescoredTopK(cand, q, pv, k)
  }

  /** Cosine of the row's quantized vector (columns `q`, `sq`) to one
    * literal centroid — exact integer dot, IEEE double finish,
    * engine-mirrorable.
    */
  private def centCos(cq: Seq[Long], csq: Long): Column =
    dotq(col("q"), typedLit(cq)).cast("double") /
      sqrt(col("sq").cast("double") * lit(csq).cast("double"))

  /** The assigned cell id as a map-only column: argmax cosine over the
    * literal codebook, ties to the lowest cid (`array_max` over
    * (cos, −cid) structs). Int-typed so a `partitionBy("cell")` lake's
    * inferred partition column matches the probe side with no cast in
    * the join (casts on partition keys defeat pruning).
    */
  def ivfAssign(cents: Seq[(Long, Seq[Long], Long)]): Column = {
    val assignArr = array(cents.map { case (cid, cq, csq) =>
      struct(centCos(cq, csq).as("cos"), lit(-cid).as("negcid")) }: _*)
    (-array_max(assignArr).getField("negcid")).cast("int")
  }

  /** The `nprobe` nearest cells per probe vector (vec_id < nProbeIds):
    * a probe-count-sized explode + window — never the corpus.
    */
  def ivfProbeCells(q: DataFrame, cents: Seq[(Long, Seq[Long], Long)],
                    nProbeIds: Long, nprobe: Int): DataFrame = {
    val probeArr = array(cents.map { case (cid, cq, csq) =>
      struct(centCos(cq, csq).as("cos"), lit(cid.toInt).as("cell")) }: _*)
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("cell"))
    q.where(col("vec_id") < nProbeIds)
      .select(col("vec_id").as("qid"), explode(probeArr).as("e"))
      .select(col("qid"), col("e.cos").as("cos"), col("e.cell").as("cell"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nprobe)
      .select("qid", "cell")
  }

  /** The inverted-file LAKE probe — the physical form a production IVF
    * index serves from ([[ivfTopK]] is the same logic against the
    * un-partitioned relation). `lake` is (vec_id, q, sq, cell)
    * persisted `partitionBy("cell")`: the probed cells — the union of
    * every probe's nprobe lists, ≤ C ints of dimension metadata, the
    * codebook-collect pattern — are collected once and pushed as a
    * STATIC partition filter, so the scan lists and reads only the
    * probed cells' directories (~nprobe/C of the corpus per probe);
    * the broadcast probe-cells join then assigns candidates per probe,
    * probe vectors arrive broadcast, and the target vectors are
    * already IN the pruned scan — no corpus fetch join, nothing
    * corpus-sized shuffles.
    *
    * Why static, not dynamic, pruning (round-19 width finding): the
    * broadcast-join-on-partition-column shape DOES plant a
    * `dynamicpruningexpression(cell IN …)` filter on the scan — but at
    * runtime it pruned NOTHING in this shape (measured with a
    * stage-metrics listener: 12,242 of 12,240 corpus rows read at CI
    * scale, the full 1,000,400 at width; AQE on or off — the
    * reuse-the-join-broadcast rewrite degenerates the filter to a
    * true literal when the exchange doesn't match). The static list
    * reads 1,767 rows on the same fixture — and a serving path KNOWS
    * its posting lists, so deriving them driver-side is the honest
    * production form, not a workaround.
    */
  def ivfLakeTopK(lake: DataFrame, probesV: DataFrame,
                  probeCells: DataFrame, k: Int): DataFrame = {
    val cellIds = collectCellIds(probeCells)
    val pruned = lake.where(col("cell").isin(cellIds: _*))
    val cos = pruned.join(broadcast(probeCells), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .join(broadcast(probesV), Seq("qid"))
      .select(col("qid"), col("vec_id").as("tid"),
        (dotq(col("q"), col("qa")).cast("double") /
          sqrt(col("sq").cast("double") * col("qsq").cast("double")))
          .as("cosine"))
    topK(cos, k)
  }

  /** The IVF-PQ serving probe — the production composition e11 grades,
    * in the physical form a 100 TB index actually serves from: BOTH
    * persisted relations are cell-partitioned, so one static partition
    * filter (the probed cells, driver-derived like [[ivfLakeTopK]]'s)
    * prunes every scan in the query to ~nprobe/C of the index.
    *
    *   - `codesLake` is (vec_id, sub, code) partitioned by `cell`: the
    *     ADC phase reads CODES from the probed cells only — both
    *     cell-pruned and codes-sized (a PQ code row is 3 small ints vs
    *     the vector's dims longs), the double saving PQ exists for.
    *     Scoring is a broadcast LUT join (`lut` = (qid, sub, code,
    *     pdot, csq), M·K rows per probe — dimension metadata) + a
    *     candidate-sized (qid, tid) partial aggregate; the corpus's
    *     full vectors are never touched.
    *   - `vecLake` is (vec_id, q, sq) partitioned by `cell`: the exact
    *     re-rank fetches only the ADC top-`rerank` survivors' vectors,
    *     and since every candidate lives in a probed cell by
    *     construction, the fetch scans the SAME pruned cells — the
    *     rerank relation (rerank·|probes| rows) arrives broadcast, so
    *     nothing corpus-sized shuffles anywhere in the probe.
    *
    * The ADC ranking formula (Σ_sub lut.pdot / √(qsq · Σ_sub csq),
    * ties to the lower tid) and the exact-cosine re-rank are the same
    * arithmetic as e9/e11's graded bodies, so this lake form grades
    * against e11's oracle verbatim.
    */
  def ivfPqTopK(codesLake: DataFrame, vecLake: DataFrame, lut: DataFrame,
                probeCells: DataFrame, probesV: DataFrame,
                rerank: Int, k: Int): DataFrame = {
    val cellIds = collectCellIds(probeCells)
    val adc = codesLake.where(col("cell").isin(cellIds: _*))
      .join(broadcast(probeCells), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .select(col("qid"), col("vec_id").as("tid"), col("pdot"), col("csq"))
      .groupBy("qid", "tid")
      .agg(sum("pdot").as("adot"), sum("csq").as("tcsq"))
    val wA = Window.partitionBy("qid")
      .orderBy(col("acos").desc, col("tid"))
    val cand = adc
      .join(broadcast(probesV.select(col("qid"), col("qsq"))), Seq("qid"))
      .withColumn("acos", col("adot").cast("double") /
        sqrt(col("qsq").cast("double") * col("tcsq").cast("double")))
      .withColumn("rn", row_number().over(wA))
      .where(col("rn") <= rerank)
      .select("qid", "tid")
    val cos = vecLake.where(col("cell").isin(cellIds: _*))
      .select(col("vec_id").as("tid"), col("q"), col("sq"))
      .join(broadcast(cand), Seq("tid"))
      .join(broadcast(probesV), Seq("qid"))
      .select(col("qid"), col("tid"),
        (dotq(col("q"), col("qa")).cast("double") /
          sqrt(col("sq").cast("double") * col("qsq").cast("double")))
          .as("cosine"))
    topK(cos, k)
  }

  /** The distinct probed cell ids, collected driver-side (≤ C ints —
    * the codebook-collect pattern) for the static partition filter.
    * Cast to int BEFORE the collect, so the probe is independent of
    * partition-column type inference: a lake read back with
    * `partitionColumnTypeInference.enabled=false` presents `cell` as a
    * string, and a caller passing a long-typed cell would otherwise
    * throw ClassCastException at query build time.
    */
  def collectCellIds(probeCells: DataFrame): Seq[Integer] =
    probeCells.select(col("cell").cast("int").as("cell")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).sortBy(_.intValue).toSeq

  /** A sampled IVF codebook: the vectors with `cidStart ≤ vec_id <
    * cidStart + c` as literal centroids (cid = vec_id). Bounded
    * collect — C·(dims+2) longs of dimension metadata.
    */
  def sampledCents(q: DataFrame, cidStart: Long,
                   c: Int): Seq[(Long, Seq[Long], Long)] =
    q.where(col("vec_id") >= cidStart && col("vec_id") < cidStart + c)
      .select(col("vec_id"), col("q"), col("sq"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2)))
      .toSeq

  // ------------------------------------------------- banded hyperplane LSH

  /** Number of hyperplane bits for a corpus of `n` vectors targeting
    * ~`target` vectors per bucket: the smallest b ≥ 3 with
    * target · 2^b ≥ n. Pure integer arithmetic (no floating log2 whose
    * last-ulp could differ between engines at power-of-two boundaries);
    * [[bitsSqlCase]] mirrors the identical ladder for the oracle.
    */
  def bitsFor(n: Long, target: Long = 64L): Int = {
    var b = 3
    while (b < MaxBits && (target << b) < n) b += 1
    b
  }

  /** Upper bound on the bits ladder (target·2^20 ≈ 67M vectors — far past
    * any test scale; at 100 TB the target itself would be raised).
    */
  val MaxBits = 20

  /** DuckDB CASE expression computing [[bitsFor]] from a count column
    * expression — same integer ladder, engine-identical.
    */
  def bitsSqlCase(countExpr: String, target: Long = 64L): String =
    (3 until MaxBits).map(b =>
        s"WHEN $countExpr <= ${target << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE $MaxBits END")

  /** Seeded random hyperplanes as a relation (band, bit, pos, s) with
    * s ∈ {−1, +1}: the sign is the low bit of the 60-bit md5 hash of
    * "band:bit:p" (p 0-based; pos = p+1 matches [[exploded]]'s 1-based
    * positions). A ±1 Rademacher matrix is a valid random-projection
    * family for sign-LSH, and the md5 derivation makes every coefficient
    * reproducible in ANY engine — the DuckDB oracle regenerates the same
    * planes from the same strings instead of receiving a giant literal.
    */
  def hyperplanes(spark: SparkSession, bands: Int, bits: Int,
                  dims: Int): DataFrame = {
    val b = spark.range(bands).select(col("id").as("band"))
    val t = spark.range(bits).select(col("id").as("bit"))
    val p = spark.range(dims).select(col("id").as("p"))
    b.crossJoin(t).crossJoin(p)
      .select(col("band"), col("bit"), (col("p") + 1).as("pos"),
        (Text.hash60(concat_ws(":", col("band"), col("bit"), col("p")))
          .bitwiseAND(lit(1L)) * 2 - 1).as("s"))
  }

  /** The ±1 sign of plane (band, bit, pos 0-based), computed driver-side:
    * low bit of the 60-bit prefix of md5("band:bit:p") — the EXACT value
    * [[hyperplanes]] derives relationally (and the oracle SQL mirrors),
    * checked equal in SimilaritySpec. Materializing the bands·bits·dims
    * sign matrix on the driver (a few thousand bytes) lets bucketing run
    * as a map-only projection instead of a per-dimension plane join.
    */
  def planeSigns(bands: Int, bits: Int, dims: Int): Seq[Seq[Seq[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until bands).map(b => (0 until bits).map(t => (0 until dims).map {
      p =>
        val hex = md.digest(s"$b:$t:$p".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        (java.lang.Long.parseLong(hex, 16) & 1L) * 2 - 1
    }))
  }

  /** Map-only banded bucketing over the quantized ARRAY form (id, q):
    * bucket bit t of band b is set iff dotq(q, signs(b)(t)) > 0, with the
    * signs as array literals — no join, no explode, no shuffle; one
    * narrow (id, band, bucket) output row per band via an inline
    * struct-array explode. Integer-exact and bit-identical to
    * [[bandBuckets]] (asserted in SimilaritySpec); preferred when the
    * embedding fits an array column, which is the common case.
    */
  def bandBucketsFromSigns(embq: DataFrame, idCol: String,
                           signs: Seq[Seq[Seq[Long]]]): DataFrame = {
    val bandStructs = signs.zipWithIndex.map { case (band, b) =>
      val bucket = band.zipWithIndex.map { case (plane, t) =>
        when(dotq(col("q"), typedLit(plane)) > 0, lit(1L << t))
          .otherwise(0L)
      }.reduce(_ + _)
      struct(lit(b.toLong).as("band"), bucket.as("bucket"))
    }
    embq.select(col(idCol), explode(array(bandStructs: _*)).as("e"))
      .select(col(idCol), col("e.band").as("band"),
        col("e.bucket").as("bucket"))
  }

  /** Per-(vector, band) LSH bucket id: bit b of the bucket is set iff the
    * exact integer projection Σ_pos s(band,b,pos) · xq(pos) is positive.
    * One shuffle keyed (id, band) with `bits` conditional partial sums —
    * integer-exact, so bucketing is identical across engines. Input is
    * the long [[exploded]] form; `planes` is broadcast (bands·bits·dims
    * rows — a few thousand). Use this relational form when vectors only
    * exist exploded (e.g. [[CorrPrune]]'s long panels); prefer
    * [[bandBucketsFromSigns]] for array-column embeddings.
    */
  def bandBuckets(ex: DataFrame, idCol: String, planes: DataFrame,
                  bits: Int): DataFrame = {
    val projAggs = (0 until bits).map(b =>
      sum(when(col("bit") === b, col("s") * col("xq")).otherwise(0L))
        .as(s"pj$b"))
    ex.join(broadcast(planes), Seq("pos"))
      .groupBy(col(idCol), col("band"))
      .agg(projAggs.head, projAggs.tail: _*)
      .select(col(idCol), col("band"),
        (0 until bits).map(b =>
          when(col(s"pj$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("bucket"))
  }

  /** Number of independent band tables for an ANN probe at corpus size
    * `n`: 4·bits + 4. Each extra bit halves a band's hit probability
    * p^bits for pairs at a fixed angle, so the band count must grow with
    * the bit width to hold recall — the classic LSH amplification
    * tradeoff (recall = 1 − (1 − p^bits)^bands). The linear-in-bits ramp
    * holds measured recall@3 ≥ 0.93 on the fixture's near-random
    * neighbors (angle ≈ 67°) at both test scales; a corpus with a real
    * similarity gap needs far fewer bands for the same recall.
    */
  def bandsFor(bits: Int): Int = 4 * bits + 4

  /** Shared DuckDB CTE fragment mirroring [[hyperplanes]] +
    * [[bandBuckets]]: defines `meta(bits)`, `planes` and
    * `bk(vec_id, band, bucket)`. Expects the `x` CTE (exploded quantized
    * vectors) to be in scope. `bandsExpr` is a SQL expression for the
    * band count (a literal, or `"(SELECT 4 * bits + 4 FROM meta)"` for
    * the [[bandsFor]] ramp) — an expression, not an Int, because the
    * oracle SQL is built statically while the band count derives from
    * the corpus size at run time.
    */
  def bucketsSqlCtes(bandsExpr: String, dims: Int,
                     target: Long = 64L): String =
    s"""meta AS (
        SELECT ${bitsSqlCase("count(*)", target)} AS bits FROM embeddings),
      planes AS (
        SELECT band, bit, p + 1 AS pos,
          CASE WHEN (CAST(concat('0x',
              substr(md5(band || ':' || bit || ':' || p), 1, 15)) AS BIGINT)
              & 1) = 1 THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(range($bandsExpr)) AS band) bb
        CROSS JOIN (SELECT unnest(range((SELECT bits FROM meta)))
                    AS bit) tt
        CROSS JOIN (SELECT unnest(range($dims)) AS p) pp),
      proj AS (
        SELECT x.vec_id, pl.band, pl.bit, sum(pl.s * x.xq) AS pj
        FROM x JOIN planes pl ON pl.pos = x.pos
        GROUP BY 1, 2, 3),
      bk AS (
        SELECT vec_id, band,
          sum(CASE WHEN pj > 0 THEN (CAST(1 AS BIGINT) << bit)
              ELSE 0 END) AS bucket
        FROM proj GROUP BY 1, 2)"""

  /** Quantize a float embedding array to exact integer micros — the
    * array-form twin of [[exploded]]'s xq.
    */
  def quantized(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1e6, 0).cast("long"))

  /** Exact integer dot product of two quantized arrays — the
    * [[graft.functions.DotLongs]] kernel: one JIT-compiled primitive
    * loop per pair, no 64-way explode, no shuffle, and none of the
    * per-element lambda-interpreter cost of the previous
    * `aggregate(zip_with(...))` form (higher-order functions are
    * CodegenFallback; the swap measured e10 2.95 → 0.94 s at sf0.1 with
    * bit-identical output — LongArrayMath's scaladoc has the full
    * equivalence contract). The long sums are associative and
    * engine-exact (dims · (1e6)² ≪ 2^63).
    */
  def dotq(a: Column, b: Column): Column =
    call_function("dot_longs", a, b)

}
