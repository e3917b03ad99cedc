package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Catalog
import graft.ops.{Relational, Similarity, Text}
import graft.sources.Materialize

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` fixtures: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard), text analysis (stats/quality, language heuristic,
  * fingerprinting), similarity search (brute-force cosine top-k and a
  * banded hyperplane-LSH and IVF variants with measured recall), and the
  * multimodal binary-column plumbing.
  *
  * These go beyond the reference's own operator set (the BASELINE north
  * star): at 100 TB these are the ops a training-data curation pass runs
  * over a document lake. Every query's plan avoids all-pairs comparison —
  * near-dup candidates come from band-bucket joins (shuffle by band key),
  * similarity probes prune by bucket before any join.
  */
object LlmQueries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.load(s, dir, name)

  // ------------------------------------------------------------------ dedup

  // d1: exact + normalized content dedup with deterministic keep-first.
  // exact_dupes counts byte-identical texts (md5 of the raw text);
  // canonical_id/group_size dedup on the sorted-distinct-word signature
  // (the "normalize then hash" pass real pipelines run first). One
  // hash-shuffle per signature; keep-first = min(doc_id) per group.
  private val qD1 = Q("d1_exact_dedup",
    (s, d) => {
      val sig = T(s, d, "documents").select(col("doc_id"),
        md5(col("text")).as("exact_sig"),
        md5(array_join(array_sort(array_distinct(Text.words(col("text")))),
          "|")).as("norm_sig"))
      val wN = Window.partitionBy("norm_sig")
      val wE = Window.partitionBy("exact_sig")
      sig.withColumn("canonical_id", min("doc_id").over(wN))
        .withColumn("group_size", count(lit(1)).over(wN))
        .withColumn("exact_dupes", count(lit(1)).over(wE))
        .select(col("doc_id"), col("canonical_id"), col("group_size"),
          (col("doc_id") === col("canonical_id")).cast("int")
            .as("is_canonical"),
          col("exact_dupes"))
        .orderBy("doc_id")
    },
    Some("""WITH sig AS (
        SELECT doc_id, md5(text) AS exact_sig,
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
              '|')) AS norm_sig
        FROM documents)
      SELECT doc_id,
        min(doc_id) OVER (PARTITION BY norm_sig) AS canonical_id,
        count(*) OVER (PARTITION BY norm_sig) AS group_size,
        CAST(doc_id = min(doc_id) OVER (PARTITION BY norm_sig) AS INT)
          AS is_canonical,
        count(*) OVER (PARTITION BY exact_sig) AS exact_dupes
      FROM sig ORDER BY doc_id"""))

  // d2: MinHash + LSH near-dedup. 12 affine minhashes over one 60-bit
  // md5 per unigram shingle, 2 bands × 6 rows (tuned for the J≈0.95
  // near-identical target); candidates share a band key (the join
  // shuffles by (band, key) — never all-pairs), then exact Jaccard
  // verification keeps J >= 0.95.
  private def d2MinSql(from: Int, until: Int): String =
    (from until until).map { x =>
      val (a, b) = Text.minhashAffine(x)
      s"min(((h % ${Text.MinhashMod}) * $a + $b) % ${Text.MinhashMod})"
    }.mkString(", ")
  /** Hashed unigram shingles (doc_id, h) over a documents relation —
    * the one pass that reads the text; strings never leave the
    * projection. NOT cached here: callers cache it for the duration of
    * the set+band builds and release it, so nothing stays pinned in
    * executor memory for the JVM lifetime.
    */
  private[graft] def hashedShingles(docs: DataFrame): DataFrame =
    Text.explodeShingles(docs, "doc_id", "text", 1)
      .select(col("doc_id"), Text.hash60(col("shingle")).as("h"))

  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    hashedShingles(T(s, d, "documents"))

  /** The (sets, bands) signature pair over a hashed-shingle relation —
    * THE signature definition (12 minhashes, 2 bands × 6 rows, tuned
    * for the J≈0.95 near-identical target): the batch lake tables and
    * the streaming ingest gate ([[graft.streaming.Streams]]'s
    * incremental dedup) both build through this one function, so their
    * signatures cannot drift.
    *
    * `maxDf` (default None = the graded shape, plan byte-identical):
    * [[graft.ops.Text.capBandKeys]]'s boilerplate-bucket guard applied
    * at band-table build time, so a lake built with the cap never
    * stores the quadratic-output hot keys at all — the measured
    * AQE-invisible straggler (SCALE.md's round-18 band-join skew
    * section) becomes a build parameter instead of a query-code edit.
    */
  private[graft] def signatureTables(sh: DataFrame,
      maxDf: Option[Int] = None): (DataFrame, DataFrame) = {
    val bands = Text.bandKeys(Text.minhashSignature(sh, "doc_id", 12),
      "doc_id", 2, 6)
    (sh.groupBy("doc_id")
       .agg(array_sort(collect_list(col("h"))).as("hs"))
       .withColumn("sz", size(col("hs"))),
     maxDf.fold(bands)(Text.capBandKeys(bands, _)))
  }

  /** Bucket layout of the signature lake: the band table is bucketed by
    * its probe key (band, bkey) so d8's candidate join reads two
    * in-place scans of the same layout (zero exchange, s15's shape);
    * the set table is bucketed by doc_id so the per-side size/shingle
    * attachment joins never move it. 16 buckets, matching the panel
    * lake table.
    */
  private val DedupBuckets = 16
  private val dedupKeys = Map(
    "dedup_bands" -> Seq("band", "bkey"),
    "dedup_sets" -> Seq("doc_id"))

  /** Builds (once per JVM) BOTH persisted signature tables from a single
    * cached pass over the corpus shingles, then unpersists — the cache
    * exists only for the build's lifetime, never the session's. Both
    * are BUCKETED lake tables (see [[dedupKeys]]): at 100 TB the probe
    * joins of every later ingest batch ride the on-disk layout instead
    * of re-shuffling the corpus signatures per batch.
    */
  private def dedupTable(s: SparkSession, d: String,
                         which: String): DataFrame = {
    // bucketedTable memoizes bare names under the "bucketed" family
    if (!Materialize.isBuilt(d, "dedup_sets", "bucketed") ||
        !Materialize.isBuilt(d, "dedup_bands", "bucketed")) {
      val sh = shingleHashes(s, d).cache()
      try {
        val (sets, bands) = signatureTables(sh)
        Materialize.bucketedTable(s, d, "dedup_sets", DedupBuckets,
          dedupKeys("dedup_sets"))(sets)
        Materialize.bucketedTable(s, d, "dedup_bands", DedupBuckets,
          dedupKeys("dedup_bands"))(bands)
        ()
      } finally { sh.unpersist(); () }
    }
    // both built above — the by-name builder is never forced
    Materialize.bucketedTable(s, d, which, DedupBuckets,
      dedupKeys(which))(sys.error(s"$which already built"))
  }

  /** Persisted per-doc shingle-hash sets (doc_id, hs sorted, sz) — the
    * signature table a production near-dup pass maintains in the lake.
    * Sorted only for a canonical representation; intersection is
    * order-independent.
    */
  private[graft] def dedupSets(s: SparkSession, d: String): DataFrame =
    dedupTable(s, d, "dedup_sets")

  /** Persisted banded minhash keys (band, bkey, doc_id) — the LSH index
    * table d2 buckets by and d8 probes incrementally.
    */
  private[graft] def dedupBands(s: SparkSession, d: String): DataFrame =
    dedupTable(s, d, "dedup_bands")

  /** Banded-LSH candidate generation + exact Jaccard verification over
    * the signature lake tables — the ONE near-dup pair shape behind the
    * corpus self-dedup ([[d2Pairs]]: both band sides the same table)
    * and the incremental probe ([[deltaVerdicts]]: delta bands probe
    * the corpus). Returns (i, j, jac) with jac ≥ 0.95 at 6 dp.
    *
    * Join order is the lake-layout shape: the (band, bkey) probe runs
    * FIRST with nothing attached — when both sides scan the
    * (band, bkey)-bucketed table it plans with zero exchanges, and a
    * micro-batch-sized probe side broadcasts — then size + shingle set
    * attach to the (delta-sized) candidate relation in ONE join per
    * side against the doc_id-bucketed set table's in-place scan.
    *
    * Size-ratio prefilter: jac <= min(|A|,|B|)/max(|A|,|B|), so pairs
    * whose sizes differ by more than the threshold can never verify.
    * Margin 0.949999 (not 0.95) keeps pairs whose exact jac rounds up
    * to the 6-dp threshold, so the output is provably unchanged (the
    * oracle skips the prefilter). It cuts candidates between the
    * attachment and the O(|A|+|B|) intersection — still the expensive
    * step it exists to guard. No broadcast HINT on the set side:
    * (doc_id, sz, hs) is one row PER DOCUMENT — corpus-sized — so
    * forcing a broadcast would collect the corpus onto the driver at
    * 10⁹ docs; statistics pick the strategy.
    *
    * The verify itself is a hash-set array intersection: |cand| rows
    * each carrying two ~|doc|-long arrays, O(|A|+|B|) per pair, no
    * shuffle wider than the candidate set. This beats the
    * inverted-index count-join (candidate × postings equi-join +
    * aggregation, shuffling Σ|pair postings| rows — measured 2× slower
    * at sf0.1) whenever shingle sets fit comfortably in a row, as
    * unigram/bigram sets do; for huge per-doc sets the count-join
    * remains the fallback shape.
    */
  private[graft] def verifiedPairs(aBands: DataFrame, bBands: DataFrame,
                                   sets: DataFrame,
                                   maxDf: Option[Int] = None): DataFrame = {
    // maxDf: the boilerplate-bucket guard at probe time, for lakes
    // built WITHOUT the cap. The hot-key list is computed ONCE over
    // `aBands` (the corpus/full side — df is a property of the corpus
    // universe, and in deltaVerdicts `bBands` is a delta whose counts
    // would understate it) and anti-joined onto BOTH sides. Default
    // None is the graded shape: the fold returns the inputs untouched,
    // so the d2/d6/d8 plans are byte-identical (CapPlumbSpec).
    val (ca, cb) = maxDf.fold((aBands, bBands)) { k =>
      val hot = Text.hotBandKeys(aBands, k)
      (Text.capBandKeysWith(aBands, hot), Text.capBandKeysWith(bBands, hot))
    }
    verifiedPairsTwoSided(ca, cb, sets, sets)
  }

  /** [[verifiedPairs]]'s body with each join side attaching its OWN
    * set relation — the same plan when both are one relation (the
    * graded d2/d6/d8 shape passes `sets` twice), but the form
    * [[deltaVerdictsSplit]] needs when the probe side's signatures
    * are NOT part of the corpus lake: attaching corpus sets to `i`
    * and delta sets to `j` keeps the lake relations un-unioned, so
    * the candidate and attachment joins ride the bucketed layout in
    * place instead of shuffling the corpus set table per batch (the
    * width-measured failure mode — see deltaVerdictsSplit's note).
    */
  private[graft] def verifiedPairsTwoSided(aBands: DataFrame,
      bBands: DataFrame, aSets: DataFrame,
      bSets: DataFrame): DataFrame = {
    val a = aBands.select(col("band"), col("bkey"), col("doc_id").as("i"))
    val b = bBands.select(col("band"), col("bkey"), col("doc_id").as("j"))
    val cand = a.join(b, Seq("band", "bkey"))
      .where(col("i") < col("j"))
      .select("i", "j").distinct()
    cand
      .join(aSets.select(col("doc_id").as("i"), col("sz").as("sa"),
        col("hs").as("ha")), Seq("i"))
      .join(bSets.select(col("doc_id").as("j"), col("sz").as("sb"),
        col("hs").as("hb")), Seq("j"))
      .where(least(col("sa"), col("sb")) * 1000000L >=
        greatest(col("sa"), col("sb")) * 949999L)
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jac", round(col("inter") /
        (col("sa") + col("sb") - col("inter")), 6))
      .where(col("jac") >= 0.95)
      .select("i", "j", "jac")
  }

  /** d2's verified near-dup pair relation (i, j, jac ≥ 0.95), persisted
    * once and consumed by the pair query itself and d6's cluster
    * construction — d6's plan is components-over-a-table-scan, never a
    * re-run of the minhash pipeline.
    */
  private[queries] def d2Pairs(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "dedup_pairs") {
      val bands = dedupBands(s, d)
      verifiedPairs(bands, bands, dedupSets(s, d))
  }

  private val qD2 = Q("d2_minhash_lsh",
    (s, d) => Q.sortedSmall(d2Pairs(s, d), "i", "j"),
    Some(s"""WITH $d2SqlCtes
      SELECT i, j, jac FROM pairs ORDER BY i, j"""))

  // d2b (round 19): the CAPPED pair build on the oracle gate — the
  // boilerplate-bucket guard (`maxDf`, Text.capBandKeys plumbed
  // through verifiedPairs) graded end to end, not just spec-pinned.
  // maxDf=32 cuts exactly the fixture's two organically hot band
  // buckets (df 178 and 203 at sf0.01 — the big near-dup families;
  // the organic tail tops out at df 30), so the query is non-vacuous
  // at the gate and the df cut is integer-exact on both engines (no
  // rounding class). The oracle re-derives the cap relationally:
  // hot = band keys with df > 32, anti-joined out of the band table
  // before candidate generation, then the same verify.
  private val qD2b = Q("d2b_capped_pairs",
    (s, d) => {
      val bands = dedupBands(s, d)
      Q.sortedSmall(
        verifiedPairs(bands, bands, dedupSets(s, d), maxDf = Some(32)),
        "i", "j")
    },
    Some(s"""WITH $d2SqlCtes,
      hot AS (
        SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) > 32),
      bandsc AS (
        SELECT b.* FROM bands b WHERE NOT EXISTS (
          SELECT 1 FROM hot h WHERE h.band = b.band AND h.bkey = b.bkey)),
      candc AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        FROM bandsc a JOIN bandsc b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pairsc AS (
        SELECT i, j, jac FROM (
          SELECT c.i, c.j,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              AS jac
          FROM candc c JOIN sets a ON c.i = a.doc_id
                       JOIN sets b ON c.j = b.doc_id)
        WHERE jac >= 0.95)
      SELECT i, j, jac FROM pairsc ORDER BY i, j"""))

  private[queries] lazy val d2SqlCtes = s"""ex AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS s
        FROM documents),
      hs AS (
        SELECT doc_id,
          CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
        FROM ex),
      sig AS (
        SELECT doc_id, concat_ws('|', ${d2MinSql(0, 6)}) AS k0,
          concat_ws('|', ${d2MinSql(6, 12)}) AS k1
        FROM hs GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, k0 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, k1 FROM sig),
      cand AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      sets AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
        FROM documents),
      pairs AS (
        SELECT i, j, jac FROM (
          SELECT c.i, c.j,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              AS jac
          FROM cand c JOIN sets a ON c.i = a.doc_id
                      JOIN sets b ON c.j = b.doc_id)
        WHERE jac >= 0.95)"""

  // d6: near-dup pairs → canonical dedup clusters via connected
  // components ([[graft.ops.Components]]): every doc in a component
  // keeps/drops together, keyed by the component's min doc_id. The
  // oracle replays the same closure as a recursive CTE over the
  // identical pair relation — even the iterative operator is
  // hash-graded end to end.
  private val qD6 = Q("d6_dup_clusters",
    (s, d) => {
      val comp = graft.ops.Components.connectedComponents(
        d2Pairs(s, d).select("i", "j"), "i", "j")
      comp.select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .transform(Q.sortedSmall(_, "doc_id"))
    },
    Some(s"""WITH RECURSIVE $d2SqlCtes,
      sym AS (
        SELECT i AS a, j AS b FROM pairs
        UNION SELECT j, i FROM pairs),
      reach AS (
        SELECT a AS id, a AS r FROM sym
        UNION
        SELECT s2.b, reach.r FROM reach JOIN sym s2 ON s2.a = reach.id),
      comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      SELECT id AS doc_id, cluster_id,
        count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM comp ORDER BY doc_id"""))

  // d3: SimHash near-dedup. 60-bit weighted simhash per doc; candidate
  // pairs share one of SEVEN 9-bit pieces (piece-equality bucket join —
  // the standard "hamming distance via piecewise exact match" trick);
  // verified at hamming <= 6. Pigeonhole: 7 disjoint pieces and at most
  // 6 differing bits means at least one piece matches exactly, so recall
  // at the verify threshold is 100% — 4 pieces (the obvious 15-bit split)
  // would only guarantee hamming <= 3 and silently drop spread-out pairs.
  // The top piece is 6 real bits (60 = 6*9 + 6); masking it with the same
  // 9-bit mask is a no-op since shiftright(54) leaves only 6 bits.
  private val qD3 = Q("d3_simhash",
    (s, d) => {
      // cached: both sides of the piece self-join consume the simhash
      // relation — uncached, the full tf aggregation runs twice
      val sh = Text.simhash(T(s, d, "documents"), "doc_id", "text").cache()
      val pieces = sh.select(col("doc_id"), col("simhash"),
          explode(typedLit(Seq(0, 1, 2, 3, 4, 5, 6))).as("p"))
        .withColumn("piece", expr("shiftright(simhash, 9 * p) & 511"))
      val a = pieces.select(col("p"), col("piece"), col("doc_id").as("i"),
        col("simhash").as("sa"))
      val b = pieces.select(col("p"), col("piece"), col("doc_id").as("j"),
        col("simhash").as("sb"))
      a.join(b, Seq("p", "piece")).where(col("i") < col("j"))
        .select("i", "j", "sa", "sb").distinct()
        .withColumn("hamming", expr("bit_count(sa ^ sb)"))
        .where(col("hamming") <= 6)
        .transform(df => Q.sortedSmall(df.select("i", "j", "hamming"), "i", "j"))
    },
    Some("""WITH tf AS (
        SELECT doc_id, w, count(*) AS cnt,
          CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      bits AS (
        SELECT doc_id, b, sum(cnt * (2 * ((h >> b) & 1) - 1)) AS s
        FROM tf CROSS JOIN (SELECT unnest(range(60)) AS b) t
        GROUP BY doc_id, b),
      sh AS (
        SELECT doc_id,
          sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
            AS simhash
        FROM bits GROUP BY doc_id),
      pieces AS (
        SELECT doc_id, simhash, p, (simhash >> (9 * p)) & 511 AS piece
        FROM sh CROSS JOIN (SELECT unnest(range(7)) AS p) t),
      cand AS (
        SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
          a.simhash AS sa, b.simhash AS sb
        FROM pieces a JOIN pieces b
          ON a.p = b.p AND a.piece = b.piece AND a.doc_id < b.doc_id)
      SELECT i, j, bit_count(xor(sa, sb)) AS hamming FROM cand
      WHERE bit_count(xor(sa, sb)) <= 6 ORDER BY i, j"""))

  /** d4's document-frequency cutoff: shingles appearing in more than
    * MaxDf documents of a language are dropped from the similarity
    * universe before the posting self-join. Without it a single hot
    * shingle shared by n docs emits n(n−1)/2 candidate rows — Θ(N²)
    * within a language; with it every posting list is ≤ MaxDf long, so
    * candidate generation is ≤ MaxDf/2 · |postings| = O(N · MaxDf),
    * linear in corpus size. This is the standard max-df feature cut
    * (ultra-common shingles carry no discrimination); the Jaccard both
    * engines compute is over the SAME filtered universe, so the oracle
    * row set matches exactly. Measured on the fixture: sf0.01 output
    * identical to the unfiltered join (every df ≤ 28), sf0.1 candidates
    * 2.64M → 0.89M.
    */
  private val MaxDf = 64

  // d4: exact bigram-shingle Jaccard similarity join over the
  // discriminative-shingle universe (df ≤ MaxDf), blocked by language.
  //
  // Round-12 reshape: the old form exploded postings FIRST and did
  // everything relationally — df aggregate, anti-join, posting
  // self-join, per-pair count, two size joins — eight exchanges whose
  // fixed stage cost dominated at this per-language corpus shape
  // (measured 4.2 s at sf0.1 for 150k postings). The set algebra now
  // stays in the ARRAY domain per document until the one join that
  // genuinely needs rows: distinct bigram-hash sets are built per doc
  // (no shuffle), the hot-shingle cut is an array_except against a
  // broadcast per-lang hot list (no shuffle), sizes ride the same row
  // (no size joins), and only the PREFIX postings are exploded for the
  // candidate self-join. Exchanges: df aggregate, candidate
  // join+distinct, final single-partition sort — and the candidate
  // count is pair-bounded exactly as before (every posting list is
  // ≤ MaxDf). Same relational skeleton at 100 TB: per-doc arrays are
  // bigram SETS (bounded by doc length, not corpus), the hot list is
  // vocabulary-tail-sized, and the verify join is candidate-sized.
  /** d4's per-doc DISTINCT bigram-hash sets: xxhash64 over the word
    * PAIR (no "w1 w2" concat string allocation), distinct in hash
    * space. The hash only COLLATES (the oracle counts over raw shingle
    * strings, so hash values never cross engines — unlike d2, where
    * the md5 value feeds the minhash signature itself); a cross-bigram
    * collision inside one pair is ~2^-64 and the oracle would flag it
    * (union bound priced once in SCALE.md, "The 2⁻⁶⁴ hash-gram
    * collision class").
    * lang is folded INTO the hash: the posting self-join then keys on
    * one 8-byte long instead of (string, long), and the language
    * blocking holds because two different langs agreeing on
    * xxhash64(lang, w1, w2) is the same accepted collision class.
    * Shared with Profile's d4 phase set so the profiler measures the
    * SHIPPED stages, not a copy that can drift.
    */
  private[graft] def d4DocSets(s: SparkSession, d: String): DataFrame = {
    val w = Text.words(col("text"))
    val hs = array_distinct(
      when(size(w) >= 2,
        zip_with(slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => xxhash64(col("lang"), a, b)))
        .otherwise(array().cast("array<bigint>")))
    T(s, d, "documents").select(col("lang"), col("doc_id"), hs.as("hs"))
  }

  /** d4's df cut over [[d4DocSets]]: one aggregate over the exploded
    * sets finds the HOT shingles (df > MaxDf) — a tiny set on any real
    * vocabulary (ultra-common shingles are by definition few) —
    * collected into one per-lang array and removed by array_except
    * under a broadcast join: the posting relation is never shuffled
    * just to be filtered, and the post-cut set SIZE falls out of the
    * same row instead of a per-doc aggregate + two joins later.
    */
  private[graft] def d4FilteredSets(docsets: DataFrame): DataFrame = {
    val hot = docsets
      .select(col("lang"), explode(col("hs")).as("h"))
      .groupBy("lang", "h").agg(count(lit(1)).as("df"))
      .where(col("df") > MaxDf)
      .groupBy("lang").agg(collect_list("h").as("hot"))
    docsets.join(broadcast(hot), Seq("lang"), "left")
      .withColumn("hsf", array_except(col("hs"),
        coalesce(col("hot"), array().cast("array<bigint>"))))
      .withColumn("szf", size(col("hsf")))
      .where(col("szf") > 0)
      .select("lang", "doc_id", "hsf", "szf")
  }

  private val qD4 = Q("d4_ngram_jaccard",
    (s, d) => {
      val docsets = d4DocSets(s, d).cache()
      val setsF = d4FilteredSets(docsets).cache()
      // Intersection counts straight off the posting self-join, with
      // each side's set SIZE riding its posting rows — sizes become
      // grouping keys (they are functions of i/j), so jac falls out of
      // the aggregate with NO size joins, and lang is reattached only
      // on the threshold survivors (a ~1k-row join AQE broadcasts).
      //
      // The PPJoin positional prefix filter was implemented and A/B'd
      // here (round 12): candidates only where the first
      // szf − ⌈t·szf⌉ + 1 tokens under a global order intersect —
      // lossless, but at t = 0.10 the prefix is 90% of every set, and
      // it cut candidate pairs just 3.7% (889k → 856k with the
      // rarest-first df order; this corpus's post-MaxDf df distribution
      // is too flat for the suffix cut to bite) while adding the
      // candidate-distinct shuffle and an array-verify pass over 856k
      // pairs — measured 4.9 s vs 2.0 s for this count-join core at
      // sf0.1. Prefix filtering pays at the t ≥ 0.5 thresholds d5's
      // near-dup tiers serve, not at a 0.10 similarity sweep.
      // The posting self-join became a group-then-pair-in-array (r22,
      // guide §2.4): the SMJ form shuffled the exploded posting relation
      // TWICE (one exchange + sort per side); grouping by hash shuffles
      // it once into a sorted member list (≤ MaxDf structs — the df cut
      // bounds every group) and expands each member against its strict
      // successors with two Generate operators — the identical i < j
      // pair multiset, straight into the same partial-aggregated count.
      val post = setsF.select(col("doc_id"), col("szf"),
        explode(col("hsf")).as("h"))
      // the posting exchange is byte-small but its consumer amplifies
      // (pair explosion + count partials), so AQE's bytes-based
      // coalescing serialized it into one task (the r21 cached-plan
      // class; one 2 s task measured). The explicit repartition pins
      // core-count partitions and the groupBy reuses them — no extra
      // exchange, the pair fan-out runs core-wide at any scale.
      val byHash = post
        .repartition(post.sparkSession.sparkContext.defaultParallelism,
          col("h"))
        .groupBy(col("h"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("szf"))))
          .as("ds"))
        .where(size(col("ds")) > 1)
      val pairs = byHash
        .select(col("ds"), posexplode(col("ds")).as(Seq("pi", "a")))
        .select(col("a.doc_id").as("i"), col("a.szf").as("sa"),
          explode(slice(col("ds"), col("pi") + lit(2),
            size(col("ds")))).as("b"))
        .select(col("i"), col("sa"), col("b.doc_id").as("j"),
          col("b.szf").as("sb"))
      val inter = pairs
        .groupBy("i", "j", "sa", "sb").agg(count(lit(1)).as("inter"))
      inter
        .withColumn("jac", round(col("inter") /
          (col("sa") + col("sb") - col("inter")), 6))
        .where(col("jac") >= 0.10)
        .join(setsF.select(col("doc_id").as("i"), col("lang")), Seq("i"))
        .transform(df => Q.sortedOnce(df.select("lang", "i", "j", "jac"), "i", "j"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id, lang,
          list_distinct([array_to_string(w[i:i+1], ' ')
                         for i in range(1, len(w))]) AS s
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
              FROM documents)),
      ex AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
      keep AS (
        SELECT lang, g FROM ex GROUP BY lang, g
        HAVING count(*) <= $MaxDf),
      exf AS (SELECT e.doc_id, e.lang, e.g FROM ex e
              JOIN keep USING (lang, g)),
      sizes AS (SELECT doc_id, count(*) AS sz FROM exf GROUP BY doc_id),
      inter AS (
        SELECT a.lang, a.doc_id AS i, b.doc_id AS j, count(*) AS it
        FROM exf a JOIN exf b
          ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3)
      SELECT lang, i, j, jac FROM (
        SELECT it.lang, it.i, it.j,
          round(CAST(it.it AS DOUBLE) / (sa.sz + sb.sz - it.it), 6) AS jac
        FROM inter it JOIN sizes sa ON it.i = sa.doc_id
                      JOIN sizes sb ON it.j = sb.doc_id)
      WHERE jac >= 0.10 ORDER BY i, j"""))

  // d7: decontamination — flag training documents sharing >= 3 distinct
  // trigrams with any document of a benchmark/eval set (here: doc_id <
  // 20 stands in for the eval suite). Cross-corpus by construction,
  // unlike d4's self-join: the benchmark gram set is broadcast (eval
  // suites are small at any corpus scale), so the training side is
  // scanned map-only and the only shuffle is the per-(doc, bench) count
  // rollup. This is the standard n-gram decontamination gate run before
  // training.
  private val qD7 = Q("d7_decontaminate",
    (s, d) => {
      val docs = T(s, d, "documents")
      // trigram HASHES, never the strings (d4's idiom): the join only
      // needs identity — the oracle counts raw gram strings, and a
      // cross-gram 64-bit collision is the same accepted 2^-64 class
      // d4 documents (union bound priced once in SCALE.md, "The 2⁻⁶⁴
      // hash-gram collision class") — so each doc's trigram set is in
      // hash space with three O(1) element_at probes per position (no
      // per-position slice + array_join string allocation), and the
      // shared-gram join keys on an 8-byte long instead of a ~20-byte
      // string. Measured at sf0.1: 1.55 → 1.18 s median.
      def grams(df: DataFrame) = {
        // the words array is BOUND to a column first: a lambda that
        // referenced the split(...) expression directly re-evaluated
        // the whole split per element_at probe (O(len²) per doc —
        // measured 3× the query)
        val w = col("w")
        df.select(col("doc_id"), Text.words(col("text")).as("w"))
          .select(col("doc_id"), explode(array_distinct(
            when(size(w) >= 3,
              transform(sequence(lit(0), size(w) - 3),
                i => xxhash64(element_at(w, i + 1), element_at(w, i + 2),
                  element_at(w, i + 3))))
              .otherwise(array().cast("array<bigint>")))).as("gram"))
      }
      val bench = grams(docs.where(col("doc_id") < 20))
        .withColumnRenamed("doc_id", "bench_id")
      val train = grams(docs.where(col("doc_id") >= 20))
      train.join(broadcast(bench), Seq("gram"))
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .transform(Q.sortedSmall(_, "doc_id", "bench_id"))
    },
    Some("""WITH g AS (
        SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
          for i in range(1, len(w) - 1)]) AS gs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      bg AS (
        SELECT doc_id AS bench_id, unnest(gs) AS gram FROM g
        WHERE doc_id < 20),
      tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id >= 20)
      SELECT doc_id, bench_id, count(*) AS n_shared
      FROM tg JOIN bg USING (gram) GROUP BY 1, 2 HAVING count(*) >= 3
      ORDER BY doc_id, bench_id"""))

  // d8: INCREMENTAL near-dedup — the form a production lake actually
  // runs: a new batch (the top decile of doc_id, standing in for "docs
  // past the ingest watermark") is deduped against the existing corpus
  // WITHOUT re-pairing the corpus against itself. Only the delta's band
  // keys enter the candidate join's probe side, so the work per batch is
  // O(|delta| · bucket width), not O(|corpus|²) — re-running d2 over the
  // whole lake per batch is exactly what this avoids. The corpus side of
  // the join IS the persisted signature/band table ([[dedupBands]] /
  // [[dedupSets]]) — the plan probes a parquet scan, exactly the
  // production shape; the watermark is a one-value driver scalar (ingest
  // metadata, like a3b's panel keys). Verdicts: dup_of_corpus (matches
  // the lake), dup_of_delta (matches an earlier doc of its own batch),
  // new.
  /** d8's verdict pipeline over explicit relations, so the batch query
    * and the streaming micro-batch twin
    * ([[graft.streaming.Streams.incrementalDedupStream]]) share ONE
    * implementation. `allBands`/`allSets` = corpus ∪ delta signature
    * relations (duplicate rows are harmless — candidates are
    * `distinct`ed); `deltaBands` is the probe side; `deltaIds` the
    * (doc_id) relation being verdicted; `th` the corpus/delta id
    * watermark separating dup_of_corpus from dup_of_delta.
    */
  private[graft] def deltaVerdicts(allBands: DataFrame,
      deltaBands: DataFrame, allSets: DataFrame, deltaIds: DataFrame,
      th: Long, maxDf: Option[Int] = None): DataFrame = {
      // the shared band-probe-first candidate+verify shape
      // ([[verifiedPairs]]): the corpus band/set tables are only ever
      // scanned in place — the previous shape attached per-doc sizes to
      // the FULL band table before probing, which sort-merge-shuffled
      // corpus bands AND corpus sets on every ingest batch. maxDf
      // passes straight through to the shared probe (hot keys counted
      // over allBands, applied to both sides).
      val m = verifiedPairs(allBands, deltaBands, allSets, maxDf)
        .groupBy(col("j").as("doc_id"))
        .agg(min("i").as("match_id"), count(lit(1)).as("n_matches"))
      verdictLabels(deltaIds, m, th)
  }

  /** The verdict labeling over a per-delta-doc match aggregate —
    * shared by [[deltaVerdicts]] and [[deltaVerdictsSplit]] so the
    * two probe shapes cannot drift on what new / dup_of_corpus /
    * dup_of_delta mean.
    */
  private def verdictLabels(deltaIds: DataFrame, m: DataFrame,
                            th: Long): DataFrame =
    deltaIds.select("doc_id")
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        when(col("match_id").isNull, "new")
          .when(col("match_id") < th, "dup_of_corpus")
          .otherwise("dup_of_delta").as("verdict"))

  /** The incremental probe for a delta whose signatures are NOT rows
    * of the corpus lake — the streaming ingest gate's per-batch form,
    * and any externally-arriving batch. [[deltaVerdicts]]' single
    * probe is the right shape when the delta IS a filtered scan of
    * the lake (d8: both join sides ride the (band,bkey)/(doc_id)
    * bucket layout in place, zero exchanges above the lake scans),
    * but for an external delta that shape needs `corpus ∪ delta`
    * relations, and the union DESTROYS the lake's bucketing: the
    * set-attachment join then shuffles the CORPUS-sized set table on
    * every ingest batch — measured at width (SCALE.md's round-19
    * delta-probe run, 110k-doc corpus, 2k-doc delta): 174 MB probe
    * shuffle (the set table's size) for the union shape vs
    * delta-sized for this one.
    *
    * Decomposition: corpus-vs-delta pairs probe the UNTOUCHED lake
    * scans via [[verifiedPairsTwoSided]] (corpus sets attach to `i`
    * in place, micro-batch-sized delta relations broadcast/shuffle
    * only themselves), and delta-vs-delta pairs are a delta-sized
    * self-probe. `i < j` holds in both probes and the `i` universes
    * are disjoint (callers pass corpus relations already excluding
    * the batch's ids), so the union of the two pair relations is
    * [[deltaVerdicts]]' pair relation EXACTLY and the verdicts are
    * identical — the width harness asserts that equality on every
    * run, and the labeling is shared ([[verdictLabels]]).
    *
    * `maxDf` keeps deltaVerdicts' df notion: hot keys counted over
    * corpus ∪ delta (a key's frequency is a corpus-universe property;
    * the count aggregate's shuffle is #distinct-key-sized after
    * map-side partials, so the union here costs nothing like the
    * attachment join's did), cut from both probes' inputs.
    */
  private[graft] def deltaVerdictsSplit(cBands: DataFrame,
      cSets: DataFrame, dBands: DataFrame, dSets: DataFrame,
      deltaIds: DataFrame, th: Long,
      maxDf: Option[Int] = None): DataFrame = {
    val (cb, db) = maxDf.fold((cBands, dBands)) { k =>
      val hot = Text.hotBandKeys(cBands.unionByName(dBands), k)
      (Text.capBandKeysWith(cBands, hot), Text.capBandKeysWith(dBands, hot))
    }
    val pairs = verifiedPairsTwoSided(cb, db, cSets, dSets)
      .unionByName(verifiedPairsTwoSided(db, db, dSets, dSets))
    val m = pairs
      .groupBy(col("j").as("doc_id"))
      .agg(min("i").as("match_id"), count(lit(1)).as("n_matches"))
    verdictLabels(deltaIds, m, th)
  }

  /** d8's DuckDB mirror — shared with [[qW22]]: the streaming
    * incremental dedup drains the SAME delta (top doc_id decile) in one
    * micro-batch against state seeded from the same lake tables, so its
    * landed verdicts are d8's rows exactly and one oracle grades both.
    */
  private lazy val d8OracleSql: Option[String] =
    Some(s"""WITH $d2SqlCtes,
      th AS (SELECT 9 * max(doc_id) // 10 AS th FROM documents),
      m AS (
        SELECT j AS doc_id, min(i) AS match_id, count(*) AS n_matches
        FROM pairs, th WHERE j >= th.th GROUP BY j),
      delta AS (SELECT doc_id FROM documents, th WHERE doc_id >= th.th)
      SELECT d.doc_id, m.match_id,
        CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        CASE WHEN m.match_id IS NULL THEN 'new'
          WHEN m.match_id < (SELECT th FROM th) THEN 'dup_of_corpus'
          ELSE 'dup_of_delta' END AS verdict
      FROM delta d LEFT JOIN m ON d.doc_id = m.doc_id
      ORDER BY d.doc_id""")

  private val qD8 = Q("d8_incremental_dedup",
    (s, d) => {
      val docs = T(s, d, "documents")
      val th = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
      val bands = dedupBands(s, d)
      deltaVerdicts(bands, bands.where(col("doc_id") >= th),
          dedupSets(s, d), docs.where(col("doc_id") >= th), th)
        .orderBy("doc_id")
    },
    d8OracleSql)

  // d8b (round 19): the EXTERNAL-delta probe shape on the oracle gate
  // — [[deltaVerdictsSplit]], the form the streaming ingest gate runs
  // per micro-batch (corpus relations un-unioned so the probe's
  // shuffle stays delta-sized at width; SCALE.md's round-19
  // delta-probe run measured the union shape at 45× this one). Same
  // delta (top doc_id decile), same verdicts as d8 by the decomposition proof
  // (CapPlumbSpec pins split == single at suite scale), so d8's
  // DuckDB oracle grades this plan verbatim — what the gate checks
  // here is that the split PLAN, with corpus and delta relations
  // genuinely disjoint, lands the identical answer.
  private val qD8b = Q("d8b_external_delta",
    (s, d) => {
      val docs = T(s, d, "documents")
      val th = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
      val bands = dedupBands(s, d)
      val sets = dedupSets(s, d)
      deltaVerdictsSplit(
          bands.where(col("doc_id") < th),
          sets.where(col("doc_id") < th),
          bands.where(col("doc_id") >= th),
          sets.where(col("doc_id") >= th),
          docs.where(col("doc_id") >= th), th)
        .orderBy("doc_id")
    },
    d8OracleSql)

  // W22 (round 15): STREAMING INCREMENTAL NEAR-DEDUP on the oracle
  // gate — the last spec-only streaming operator, completing the
  // streaming surface on the hard gate (w16 ffill, w17/w18 corr, w19
  // sessions, w20 interval join, w21 stateful dedup, and now the
  // ingest-gate dedup). The staged delta is d8's exact slice (top
  // doc_id decile), coalesced to ONE file so the AvailableNow drain is
  // a single micro-batch: the stream's state (corpus signatures minus
  // the batch's ids, plus the batch's freshly computed signatures)
  // then equals d8's corpus relation exactly, and the landed verdicts
  // are d8's rows — the oracle is d8's verbatim. Cross-batch
  // incremental semantics (later batches seeing earlier deltas as
  // corpus, restart resume, per-table idempotent state appends) stay
  // covered by StreamsSpec's multi-batch and restart cases.
  private val qW22 = Q("w22_streaming_incremental_dedup",
    (s, d) => {
      val docs = T(s, d, "documents")
      val th = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
      val srcName = "w22_stream_src"
      Materialize.processTable(s, d, srcName) {
        docs.where(col("doc_id") >= th).coalesce(1)
      }
      val src = Materialize.processPath(d, srcName)
      val out = Materialize.processPath(d, "w22_verdicts")
      val ck = Materialize.processPath(d, "w22_ck")
      graft.streaming.Streams.incrementalDedupStream(s, src, d, out, ck, th)
      s.read.parquet(out)
        .select("doc_id", "match_id", "n_matches", "verdict")
        .transform(Q.sortedOnce(_, "doc_id"))
    },
    d8OracleSql)

  // d9: bloom-prefiltered decontamination — d7's problem at the 100 TB
  // posture: the benchmark side is compressed into a CONSTANT-SIZE bloom
  // sketch (built distributed by the mergeable `bloom_build` aggregate,
  // delivered as a scalar subquery — Spark's own runtime-filter
  // expression pair, surfaced via [[graft.GraftExtensions]]), the corpus
  // is prefiltered map-side by `bloom_might_contain` BEFORE any join,
  // and only the surviving sliver meets the exact gram set to kill false
  // positives. The corpus is never shuffled and never joined at full
  // width; the DuckDB oracle runs the exact join, so the sketch-then-
  // verify pipeline is graded as exactly lossless. Runs through the
  // engine's SQL surface end to end (views + extension functions).
  private val qD9 = Q("d9_bloom_decontaminate",
    (s, d) => {
      graft.Catalog.registerAll(s, d)
      // r22: grams live in xxhash64 space end to end (d7's idiom — the
      // join and the bloom only need IDENTITY; the oracle counts raw
      // strings and the 2^-64 cross-gram collision class is priced once
      // in SCALE.md, "The 2⁻⁶⁴ hash-gram collision class"): no
      // per-position slice + concat_ws string materialization on the
      // corpus side, the sketch takes the 8-byte gram id directly, and
      // the exact verify joins on a long instead of a ~20-byte string.
      // `w` stays a CTE-bound COLUMN so the split is evaluated once per
      // row, not once per element_at probe (the d7 lambda trap).
      s.sql(s"""
        WITH w AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        g AS (
          SELECT doc_id, explode(array_distinct(transform(
            sequence(1, size(w) - 2),
            i -> xxhash64(element_at(w, i), element_at(w, i + 1),
                          element_at(w, i + 2))))) AS gram
          FROM w WHERE size(w) >= 3),
        bloom AS (
          SELECT bloom_build(gram, 8192L, 131072L) AS bf
          FROM (SELECT DISTINCT gram FROM g WHERE doc_id < 20)),
        cand AS (
          SELECT doc_id, gram FROM g
          WHERE doc_id >= 20
            AND bloom_might_contain((SELECT bf FROM bloom), gram)),
        bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        SELECT doc_id, count(*) AS n_hit
        FROM cand JOIN bg USING (gram)
        GROUP BY doc_id HAVING count(*) >= 2
        ORDER BY doc_id""")
    },
    Some("""WITH g AS (
        SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
          for i in range(1, len(w) - 1)]) AS gs
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
      bg AS (
        SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id < 20),
      tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id >= 20)
      SELECT doc_id, count(*) AS n_hit
      FROM tg JOIN bg USING (gram)
      GROUP BY doc_id HAVING count(*) >= 2
      ORDER BY doc_id"""))

  // ---------------------------------------------------------- text analysis

  // t1: per-document statistics + quality score (length, type-token ratio,
  // stopword ratio, vowel/consonant-run "BPE-ish" subtoken count). Pure
  // projection — no shuffle at all; at 100 TB this is a map-only pass.
  private val qT1 = Q("t1_text_stats",
    (s, d) => {
      val w = Text.words(col("text"))
      val nTok = size(w)
      val nUniq = size(array_distinct(w))
      val nStop = size(filter(w, x => x.isin(Text.stopwords: _*)))
      T(s, d, "documents").select(col("doc_id"),
          nTok.as("n_tokens"), nUniq.as("n_uniq"), nStop.as("n_stop"),
          size(regexp_extract_all(col("text"),
            lit("[aeiou]+|[^aeiou ]+"), lit(0))).as("n_subtokens"),
          round((col("n_chars") - nTok + 1) / nTok, 6).as("avg_token_len"),
          round(nUniq / nTok, 6).as("ttr"),
          Text.qualityScore(w).as("quality"))
        .transform(Q.sortedSmall(_, "doc_id"))
    },
    Some("""SELECT doc_id, n_tokens, n_uniq, n_stop, n_subtokens,
        round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 6)
          AS avg_token_len,
        round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) AS ttr,
        round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) +
          0.4 * (CAST(n_uniq AS DOUBLE) / n_tokens) +
          0.2 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
      FROM (
        SELECT doc_id, n_chars,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_uniq,
          len(list_filter(string_split(text, ' '),
              x -> x = 'a' OR x = 'the')) AS n_stop,
          len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))
            AS n_subtokens
        FROM documents)
      ORDER BY doc_id"""))

  // t2: language-ID heuristic — score each candidate language's
  // function-word profile against the token list, argmax with
  // lexicographic tie-break. Profile table is broadcast; one map-side
  // scoring pass plus a per-doc top-1 window.
  private val qT2 = Q("t2_lang_id",
    (s, d) => {
      import s.implicits._
      val prof = Text.langProfiles.toDF("cand_lang", "profile")
      val scored = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), Text.words(col("text")).as("w"))
        .crossJoin(broadcast(prof))
        .withColumn("score", round(
          size(filter(col("w"),
            x => array_contains(col("profile"), x))) / size(col("w")), 6))
      val top = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cand_lang"))
      scored.withColumn("rn", row_number().over(top)).where(col("rn") === 1)
        .select(col("doc_id"), col("lang"),
          col("cand_lang").as("pred_lang"), col("score"),
          (col("cand_lang") === col("lang")).cast("int").as("correct"))
        .transform(Q.sortedSmall(_, "doc_id"))
    },
    Some {
      val values = Text.langProfiles.map { case (l, ws) =>
        s"('$l', [${ws.map(w => s"'$w'").mkString(", ")}])"
      }.mkString(", ")
      s"""WITH prof(cand_lang, profile) AS (VALUES $values),
        sc AS (
          SELECT doc_id, lang, cand_lang,
            round(CAST(len(list_filter(w, x -> list_contains(profile, x)))
                AS DOUBLE) / len(w), 6) AS score
          FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
                FROM documents)
          CROSS JOIN prof)
        SELECT doc_id, lang, cand_lang AS pred_lang, score,
          CAST(cand_lang = lang AS INT) AS correct
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, cand_lang) AS rn FROM sc)
        WHERE rn = 1 ORDER BY doc_id"""
    })

  // t3: winnowing fingerprint — min rolling-hash over 5-word windows
  // (B=131, M=1e9+7, word value = 60-bit md5 hash mod M). Uses the
  // custom single-pass [[graft.functions.WinnowFingerprint]] expression
  // (no k-fold explode); the relational form in Text.fingerprint computes
  // the same value and is cross-checked in FunctionsSpec.
  private val qT3 = Q("t3_fingerprint",
    (s, d) => T(s, d, "documents")
      .select(col("doc_id"),
        call_function("winnow_fingerprint", Text.words(col("text")))
          .as("fingerprint"))
      .where(col("fingerprint").isNotNull)
      .orderBy("doc_id"),
    Some("""WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      e AS (SELECT doc_id, unnest(range(len(w))) AS pos, w FROM d),
      wpos AS (
        SELECT doc_id, pos,
          CAST(concat('0x', substr(md5(w[pos + 1]), 1, 15)) AS BIGINT)
            % 1000000007 AS wh
        FROM e),
      terms AS (
        SELECT doc_id, pos - j AS i,
          wh * ([294499921, 2248091, 17161, 131, 1][j + 1]) % 1000000007
            AS term
        FROM wpos CROSS JOIN (SELECT unnest(range(5)) AS j) ofs
        WHERE pos - j >= 0),
      h AS (SELECT doc_id, i, sum(term) AS hsum, count(*) AS n
            FROM terms GROUP BY doc_id, i)
      SELECT doc_id, CAST(min(hsum % 1000000007) AS BIGINT) AS fingerprint
      FROM h WHERE n = 5 GROUP BY doc_id ORDER BY doc_id"""))

  // t4: repetition metrics (the Gopher-style quality gates): per-doc
  // bigram mass concentrated in the top gram and in any repeated gram.
  // explode → count per (doc, gram) → per-doc rollup: two key-partitioned
  // shuffles, never a per-doc O(n²) array scan — at 10k-token documents
  // the HOF form would be quadratic per row; this stays linear.
  private val qT4 = Q("t4_repetition",
    (s, d) => {
      val w = Text.words(col("text"))
      val grams = T(s, d, "documents").select(col("doc_id"),
        explode(zip_with(slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_grams"), count(lit(1)).as("n_uniq"),
          round(max("c") / sum("c"), 6).as("top_frac"),
          round(sum(when(col("c") > 1, col("c")).otherwise(0)) / sum("c"),
            6).as("dup_mass"))
        .transform(Q.sortedSmall(_, "doc_id"))
    },
    Some("""WITH grams AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             (SELECT unnest(range(1, len(w))) AS i)),
      cnt AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, count(*) AS n_uniq,
        round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac,
        round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
          / sum(c), 6) AS dup_mass
      FROM cnt GROUP BY doc_id ORDER BY doc_id"""))

  // t5: PII scrub. The fixture corpus carries no PII, so each doc gets a
  // deterministic synthetic contact line (email ×1-2 + phone) appended
  // before the scrub — the redaction then provably fires on every row and
  // the md5 of the redacted text checks the exact replacement output, not
  // just the counts. Patterns are dialect-portable (verified Java regex ≡
  // RE2 on these shapes); map-only at any scale.
  private val EmailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
  private val PhoneRe = "\\+\\d-\\d{3}-\\d{4}"
  private val qT5 = Q("t5_pii_redact",
    (s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"),
            lit("@mail.example"))).otherwise(lit("")),
        lit(" phone +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      T(s, d, "documents").select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(EmailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0)))
            .as("n_phones"),
          substring(md5(regexp_replace(
            regexp_replace(col("t"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]")), 1, 8).as("red_hash"))
        .orderBy("doc_id")
    },
    Some("""WITH aug AS (
        SELECT doc_id, text || ' contact user' || doc_id ||
          '@mail.example' ||
          CASE WHEN doc_id % 3 = 0 THEN ' cc admin' || doc_id ||
            '@mail.example' ELSE '' END ||
          ' phone +1-555-' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+'))
          AS n_emails,
        len(regexp_extract_all(t, '\+\d-\d{3}-\d{4}')) AS n_phones,
        substr(md5(regexp_replace(regexp_replace(t,
          '[a-z0-9._]+@[a-z0-9.]+\.[a-z]+', '[EMAIL]', 'g'),
          '\+\d-\d{3}-\d{4}', '[PHONE]', 'g')), 1, 8) AS red_hash
      FROM aug ORDER BY doc_id"""))

  // t6: span-level exact dedup — the C4/RefinedWeb "line dedup" pass,
  // with a line = a fixed 16-word span (the fixture corpus has no
  // newlines; real corpora swap the splitter, the relational shape is
  // identical). Every document is exploded into consecutive spans, each
  // span keeps only its GLOBAL first occurrence (keep-first over the
  // span hash — one shuffle by hash, exactly d1's dedup shape at span
  // granularity), and surviving spans are re-assembled in document
  // order. The md5 of the rebuilt text grades the reconstruction
  // byte-exactly, not just the counts. At 100 TB: explode is map-side,
  // the dedup is one hash-partitioned window, and the reassembly groups
  // by doc_id — no state ever exceeds a document.
  private val SpanWords = 16
  private val qT6 = Q("t6_span_dedup",
    (s, d) => {
      val spans = T(s, d, "documents")
        .select(col("doc_id"), Text.words(col("text")).as("ws"))
        .withColumn("n_spans",
          ceil(size(col("ws")) / lit(SpanWords.toDouble)).cast("long"))
        .select(col("doc_id"), col("ws"), col("n_spans"),
          explode(sequence(lit(0L), col("n_spans") - 1)).as("span_idx"))
        .select(col("doc_id"), col("n_spans"), col("span_idx"),
          array_join(slice(col("ws"),
            (col("span_idx") * SpanWords + 1).cast("int"), lit(SpanWords)),
            " ").as("span"))
        .withColumn("h", md5(col("span")))
      Relational.keepFirst(spans, Seq("h"),
          Seq(col("doc_id"), col("span_idx")))
        .groupBy("doc_id", "n_spans")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("span_idx"), col("span")))),
            x => x.getField("span")), " ")).as("sig"))
        .transform(Q.sortedSmall(_, "doc_id"))
    },
    Some(s"""WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      e AS (SELECT doc_id, ws,
          CAST(ceil(len(ws) / $SpanWords.0) AS BIGINT) AS n_spans FROM w),
      sp AS (SELECT doc_id, n_spans, unnest(range(n_spans)) AS span_idx,
          ws FROM e),
      sh AS (SELECT doc_id, n_spans, span_idx,
          array_to_string(ws[span_idx * $SpanWords + 1 :
            span_idx * $SpanWords + $SpanWords], ' ') AS span
        FROM sp),
      kept AS (SELECT * FROM (
          SELECT doc_id, n_spans, span_idx, span,
            row_number() OVER (PARTITION BY md5(span)
              ORDER BY doc_id, span_idx) AS rn
          FROM sh) WHERE rn = 1)
      SELECT doc_id, n_spans, count(*) AS n_kept,
        md5(string_agg(span, ' ' ORDER BY span_idx)) AS sig
      FROM kept GROUP BY doc_id, n_spans ORDER BY doc_id"""))

  // t7: corpus-level top-k bigram counts — the vocabulary/term-frequency
  // statistics a tokenizer-training (BPE-ish) pass starts from. All
  // occurrences count (term frequency, not document frequency); the
  // (count DESC, gram ASC) order is total because the gram is the group
  // key, so the k-boundary is engine-deterministic. The plan is the one
  // you want at 100 TB: map-side zip_with bigrams → partial-aggregated
  // count shuffle → TakeOrderedAndProject (per-partition top-k merged on
  // the driver), never a full sort of the vocabulary.
  private val TopK = 100
  private val qT7 = Q("t7_top_ngrams",
    (s, d) => {
      val w = Text.words(col("text"))
      T(s, d, "documents")
        .select(explode(zip_with(slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(TopK)
    },
    Some(s"""SELECT gram, count(*) AS n
      FROM (SELECT w[i] || ' ' || w[i+1] AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             (SELECT unnest(range(1, len(w))) AS i))
      GROUP BY gram ORDER BY n DESC, gram LIMIT $TopK"""))

  // t8: n-gram language-model quality score (the CCNet-style filter): a
  // bigram LM is "trained" as plain conditional counts over a reference
  // slice (doc_id < 100), and every document is scored by the mean
  // quantized conditional probability of its bigrams — the
  // perplexity-style signal real pipelines rank corpora by. The
  // probability is INTEGER-quantized (c2·10⁶ div c1, truncating), so
  // training, scoring, and the per-doc mean are exact in any engine and
  // the oracle replays them bit-for-bit — no floating log, no drift.
  // Scale shape: the trained LM is reference-corpus-sized and BROADCAST
  // (a production ref LM is bounded by construction), so scoring is a
  // map-only pass over the corpus bigram stream plus one doc-keyed
  // aggregate — no corpus-sized shuffle on the join keys.
  private val qT8 = Q("t8_lm_score",
    (s, d) => {
      def bigrams(df: DataFrame) = {
        val w = Text.words(col("text"))
        df.select(col("doc_id"), explode(zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      }
      val docs = T(s, d, "documents")
      val ref = bigrams(docs.where(col("doc_id") < 100))
      val c2 = ref.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = ref.select(split(col("bg"), " ").getItem(0).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      bigrams(docs)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(broadcast(c2), Seq("bg"), "left")
        .join(broadcast(c1), Seq("w1"), "left")
        .withColumn("pq",
          when(col("c2").isNull || col("c1").isNull, lit(0L))
            .otherwise(expr("c2 * 1000000 div c1")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("pq").as("spq"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("spq div n_bigrams").as("lm_q"))
        .orderBy("doc_id")
    },
    Some("""WITH bg AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             (SELECT unnest(range(1, len(w))) AS i)),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg WHERE doc_id < 100
        GROUP BY 1),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg WHERE doc_id < 100
        GROUP BY 1),
      sc AS (
        SELECT b.doc_id,
          CASE WHEN c2.c2 IS NULL OR c1.c1 IS NULL THEN 0
               ELSE (c2.c2 * 1000000) // c1.c1 END AS pq
        FROM bg b LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1))
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(sum(pq) // count(*) AS BIGINT) AS lm_q
      FROM sc GROUP BY 1 ORDER BY doc_id"""))

  // t9: BPE merge training — the actual tokenizer-training loop
  // (Sennrich et al., "Neural Machine Translation of Rare Words with
  // Subword Units", 2016), distributed: the sample corpus collapses to
  // a (word, freq) table (BPE trains on word frequencies — the table is
  // vocabulary-sized, not corpus-sized), words explode to character
  // tokens, and each round (1) counts adjacent token pairs weighted by
  // freq — one pair-keyed aggregate, (2) takes the global argmax
  // (count DESC, pair ASC — a driver scalar like d8's watermark),
  // (3) merges every non-overlapping occurrence left-to-right. The
  // classic greedy left-to-right overlap rule (in "aaa", merge "a a"
  // once, at the left) is relational: within each run of consecutive
  // matching positions, keep the even-indexed ones — no sequential
  // per-word scan, identical in both engines. Three rounds are graded:
  // merged pair, its count, and the post-merge token/vocab sizes —
  // a drift of one merge decision fails the gate. Scale shape: the
  // corpus-sized work is ONE word-count aggregate; every round after
  // it runs on the (distinct word × chars) relation, bounded by
  // vocabulary size at any corpus scale.
  private val BpeRounds = 3
  private val BpeSample = 200

  /** [[graft.functions.BpeTokens]] as a column: the word's token array
    * after applying `merges` in order (merge table rides as a literal).
    */
  private def bpeTokensCol(word: Column,
                           merges: Seq[(String, String)]): Column =
    call_function("bpe_tokens", word,
      typedLit(merges.map(m => Seq(m._1, m._2))))

  /** Engine string order (UTF8 binary = code-point order) for the
    * driver-side best-pair tie-break — Java's compareTo is UTF-16
    * code-unit order, which differs above the BMP.
    */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  /** The BPE learn loop over the `doc_id < BpeSample` sample: one row
    * per round — (round, merged_l, merged_r, pair_count,
    * n_tokens_after, n_vocab_after).
    *
    * Round-22 shape (guide §1.2 step 1 — fewer jobs, no per-round
    * window/cache chain): each generation's token stream is re-derived
    * from the cached sample vocabulary by the [[bpeTokensCol]]
    * expression (one linear scan per word per merge), and ONE
    * aggregation job per generation produces the (tok, nxt, cnt)
    * pair-type counts with nxt NULL on each word's last token — so the
    * same grouped rows carry this generation's stats (n_tokens = Σcnt,
    * n_vocab = distinct tok) AND the next merge's best-pair candidates
    * (nxt non-null). 1 + rounds jobs total, where the relational loop
    * paid 2 actions plus two window passes and a cache per round. The
    * grouped relation is pair-type-bounded on the FIXED learn sample
    * (the dimension-bounded metadata class — the sortedUsers idiom), so
    * the driver reduction stays KB-sized at any corpus scale. A round-21
    * fused variant over the RELATIONAL chain measured no better; this
    * one removes the chain itself (A/B'd: 2.0 → 0.6 s median at sf0.1).
    */
  private[graft] def bpeLearn(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long, Long, Long)] = {
    val w0 = T(s, d, "documents").where(col("doc_id") < BpeSample)
      .select(explode(Text.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .cache()
    // (tok, nxt, cnt) pair-type counts of the token stream after `ms`
    // merges; the expression output is BOUND to a column first so the
    // collapsed projection evaluates it once, not once per reference
    // (the d7 split() trap)
    def pairStats(ms: Seq[(String, String)]): Array[(String, String, Long)] =
      w0.select(col("freq"), bpeTokensCol(col("word"), ms).as("a"))
        .select(col("freq"), explode(zip_with(col("a"),
          slice(col("a"), lit(2), size(col("a"))),
          (x, y) => struct(x.as("tok"), y.as("nxt")))).as("pr"))
        .groupBy(col("pr.tok").as("tok"), col("pr.nxt").as("nxt"))
        .agg(sum("freq").as("cnt"))
        .collect()
        .map(r => (r.getString(0),
          if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
    var merges = Vector.empty[(String, String)]
    var grouped = pairStats(Nil)
    // a generation with no adjacent token pair (every sampled word is
    // one token) has no best pair, and no later one can either: learning
    // stops there, as the oracle's best_i is empty from that round on.
    // The iterator checks that after the previous round's merge.
    val rows = (1 to BpeRounds).iterator
      .takeWhile(_ => grouped.exists(_._2 != null)).map { i =>
      // best pair of THIS generation: max cnt, ties broken ascending on
      // (tok, nxt) in engine (UTF8 binary) order — the orderBy(cnt desc,
      // tok, nxt).limit(1) the relational loop ran
      val cands = grouped.filter(_._2 != null)
      val (l, r, cnt) = cands.reduceLeft { (p, q) =>
        if (q._3 > p._3) q
        else if (q._3 < p._3) p
        else if (utf8Lt(q._1, p._1)) q
        else if (utf8Lt(p._1, q._1)) p
        else if (utf8Lt(q._2, p._2)) q else p
      }
      merges = merges :+ ((l, r))
      grouped = pairStats(merges)
      val nt = grouped.map(_._3).sum
      val nv = grouped.map(_._1).distinct.length.toLong
      (i, l, r, cnt, nt, nv)
    }.toVector
    w0.unpersist()
    rows
  }

  private val qT9 = Q("t9_bpe_merges",
    (s, d) => {
      import s.implicits._
      bpeLearn(s, d).toDF("round", "merged_l", "merged_r", "pair_count",
          "n_tokens_after", "n_vocab_after")
        .orderBy("round")
    },
    Some {
      val rstats = (1 to BpeRounds).map { i =>
        s""",
        r$i AS (
          SELECT $i AS round, b.l AS merged_l, b.r AS merged_r,
            b.cnt AS pair_count,
            (SELECT CAST(sum(freq) AS BIGINT) FROM t${i + 1})
              AS n_tokens_after,
            (SELECT count(DISTINCT tok) FROM t${i + 1}) AS n_vocab_after
          FROM best$i b)"""
      }.mkString
      val sel = (1 to BpeRounds).map(i => s"SELECT * FROM r$i")
        .mkString(" UNION ALL ")
      bpeLearnSqlCtes + rstats + s" $sel ORDER BY round"
    })

  /** DuckDB mirror of [[bpeLearn]]: sample vocab (w0), char tokens
    * (t1), and per-round p_i / best_i / mm_i / tn_i / t_{i+1} CTEs.
    * Shared by t9's stats oracle and t10's apply-to-corpus oracle so
    * the learned merges can never drift between the two grades.
    */
  private def bpeLearnSqlCtes: String = {
    val init = s"""w0 AS (
          SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id < $BpeSample)
          GROUP BY 1),
        t1 AS (
          SELECT word, freq, pos, substr(word, pos + 1, 1) AS tok
          FROM (SELECT word, freq, unnest(range(strlen(word))) AS pos
                FROM w0))"""
    val rounds = (1 to BpeRounds).map { i =>
      s"""p$i AS (
          SELECT word, freq, pos, tok,
            lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
          FROM t$i),
        best$i AS (
          SELECT tok AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
          FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2
          ORDER BY cnt DESC, l, r LIMIT 1),
        mm$i AS (
          SELECT word, pos FROM (
            SELECT word, pos, row_number() OVER (
                PARTITION BY word, grp ORDER BY pos) AS rn2
            FROM (
              SELECT p.word, p.pos, p.pos - row_number() OVER (
                  PARTITION BY p.word ORDER BY p.pos) AS grp
              FROM p$i p, best$i b
              WHERE p.tok = b.l AND p.nxt = b.r))
          WHERE (rn2 - 1) % 2 = 0),
        tn$i AS (
          SELECT q.word, q.freq, q.pos,
            CASE WHEN m.pos IS NOT NULL THEN q.tok || q.nxt
                 ELSE q.tok END AS tok,
            CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END AS mg
          FROM p$i q LEFT JOIN mm$i m
            ON m.word = q.word AND m.pos = q.pos),
        t${i + 1} AS (
          SELECT word, freq,
            row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
            tok
          FROM (SELECT *, lag(mg) OVER (
              PARTITION BY word ORDER BY pos) AS pm FROM tn$i)
          WHERE pm IS NULL OR pm = 0)"""
    }
    (init +: rounds).mkString("WITH ", ",\n        ", "")
  }

  // t10: token-budget accounting under the learned subword vocab — the
  // production reason t9 exists. The merge table is learned ONCE on the
  // sample (memoized per fixture via Materialize.value, the persisted-
  // artifact contract every trained component here uses: codebooks,
  // signatures, now merges) and applied to the FULL corpus vocabulary —
  // vocabulary-sized relational work regardless of corpus size — then
  // per-document token counts come from one join of the corpus word
  // occurrences against the per-word token table. The oracle re-learns
  // the merges from the same sample CTEs (bpeLearnSqlCtes) and replays
  // the apply rounds on the corpus vocab, so merge decisions, overlap
  // handling and the final counts are all graded end to end.
  private val qT10 = Q("t10_bpe_tokenize",
    (s, d) => {
      val merges = graft.sources.Materialize.value(d, "bpe_merges") {
        bpeLearn(s, d).map(r => (r._2, r._3))
      }
      val docWords = graft.ops.Time.registerCached(
        T(s, d, "documents")
          .select(col("doc_id"), explode(Text.words(col("text")))
            .as("word"))
          .cache())
      // Token count per DISTINCT word straight from the bpe_tokens
      // expression (r22, guide §1.2 step 1): the per-round
      // window + join + eager-localCheckpoint merge chain (one
      // materialization job and two window passes per round — the
      // round-21 lazy-checkpoint A/B only ever traded WHERE those jobs
      // ran) is replaced by one projection over the corpus vocabulary
      // that applies every merge in a linear per-word scan, proven
      // identical to the relational fold in BpeTokensSpec. The
      // n_toks > 0 guard keeps the join semantics of the token-relation
      // form: an empty word produced no token rows there, so its
      // occurrences never joined — bpe_tokens maps it to an empty array and only
      // the empty word can be empty-tokened.
      val perWord = docWords.select("word").distinct()
        .select(col("word"),
          size(bpeTokensCol(col("word"), merges)).as("n_toks"))
        .where(col("n_toks") > 0)
      docWords.join(perWord, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_toks").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val applyInit = s""",
        dw AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        vw AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
               FROM dw GROUP BY 1),
        a1 AS (
          SELECT word, freq, pos, substr(word, pos + 1, 1) AS tok
          FROM (SELECT word, freq, unnest(range(strlen(word))) AS pos
                FROM vw))"""
      val applyRounds = (1 to BpeRounds).map { i =>
        s""",
        ap$i AS (
          SELECT word, freq, pos, tok,
            lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
          FROM a$i),
        am$i AS (
          SELECT word, pos FROM (
            SELECT word, pos, row_number() OVER (
                PARTITION BY word, grp ORDER BY pos) AS rn2
            FROM (
              SELECT p.word, p.pos, p.pos - row_number() OVER (
                  PARTITION BY p.word ORDER BY p.pos) AS grp
              FROM ap$i p, best$i b
              WHERE p.tok = b.l AND p.nxt = b.r))
          WHERE (rn2 - 1) % 2 = 0),
        an$i AS (
          SELECT q.word, q.freq, q.pos,
            CASE WHEN m.pos IS NOT NULL THEN q.tok || q.nxt
                 ELSE q.tok END AS tok,
            CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END AS mg
          FROM ap$i q LEFT JOIN am$i m
            ON m.word = q.word AND m.pos = q.pos),
        a${i + 1} AS (
          SELECT word, freq,
            row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
            tok
          FROM (SELECT *, lag(mg) OVER (
              PARTITION BY word ORDER BY pos) AS pm FROM an$i)
          WHERE pm IS NULL OR pm = 0)"""
      }.mkString
      bpeLearnSqlCtes + applyInit + applyRounds + s""",
        pw AS (SELECT word, CAST(count(*) AS BIGINT) AS n_toks
               FROM a${BpeRounds + 1} GROUP BY 1)
        SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          CAST(sum(pw.n_toks) AS BIGINT) AS n_tokens
        FROM dw JOIN pw USING (word)
        GROUP BY 1 ORDER BY 1"""
    })

  // ------------------------------------------------------ similarity search

  /** Fixture embedding dimensionality (embeddings.parquet, 64 floats). */
  private val EmbDims = 64

  /** Quantized array form (vec_id, q, sq) — cached because every cosine
    * verification joins it from two sides (N rows × ~0.5 KB).
    */
  private def embQ(s: SparkSession, d: String): DataFrame =
    Similarity.withSqNorm(T(s, d, "embeddings"), "vec_id").cache()

  /** Shared banded-LSH state for e2/e3/d5: per-(vector, band) hyperplane
    * buckets with bit width scaled to the corpus size (bits =
    * bitsFor(count)) and band count chosen by `bandsOf(bits)`. The
    * count() is a parquet-metadata scalar (bounded driver-side value,
    * like a3b's panel key set); every downstream relation is distributed.
    */
  private def lshBuckets(s: SparkSession, d: String,
                         bandsOf: Int => Int): DataFrame = {
    val bits = Similarity.bitsFor(T(s, d, "embeddings").count())
    val signs = Similarity.planeSigns(bandsOf(bits), bits, EmbDims)
    Similarity.bandBucketsFromSigns(
        Similarity.withSqNorm(T(s, d, "embeddings"), "vec_id"),
        "vec_id", signs)
      .cache()
  }

  /** Exact cosine of candidate (i, j) pairs — the shared re-score
    * ([[graft.ops.Similarity.cosineOf]]; body moved there in round 19
    * so the width harness re-scores through the identical arithmetic).
    */
  private def cosineOf(cand: DataFrame, q: DataFrame, iCol: String,
                       jCol: String): DataFrame =
    Similarity.cosineOf(cand, q, iCol, jCol)

  /** DuckDB CTE prefix shared by e1/e2: exploded (vec_id, pos, x) and
    * exact decimal squared norms.
    */
  private val embSqlPrefix =
    """x AS (
        SELECT vec_id, pos,
          CAST(round(CAST(emb[pos] AS DOUBLE) * 1000000) AS BIGINT) AS xq
        FROM (
          SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
            embedding AS emb
          FROM embeddings)),
      n AS (SELECT vec_id, sum(xq * xq) AS sq FROM x GROUP BY vec_id)"""

  /** e1's ranked result (qid, tid, rank, cosine): brute-force exact
    * cosine over the full corpus for probes vec_id < 5 — the baseline e3
    * measures e2's recall against.
    */
  private def e1Top(q: DataFrame): DataFrame = {
    // brute force = broadcast the 5 probe arrays against one scan of the
    // target arrays; each pair costs one codegen'd HOF dot product
    val cos = q.select(col("vec_id").as("tid"), col("q"), col("sq"))
      .crossJoin(broadcast(q.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qa"),
          col("sq").as("qsq"))))
      .where(col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        (Similarity.dotq(col("q"), col("qa")).cast("double") /
          sqrt(col("sq").cast("double") * col("qsq").cast("double")))
          .as("cosine"))
    Similarity.topK(cos, 3)
  }

  /** Persisted exact top-3 baseline (qid, tid, rank, cosine) — computed
    * once per fixture and read back by e1 itself and every recall grade
    * (e3/e5/e7/e9). Each grading query's plan joins a parquet scan
    * instead of re-running the brute-force baseline — the production
    * shape of a ground-truth relation (IEEE doubles round-trip parquet
    * exactly, so ranking is unchanged).
    */
  private def e1TopT(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "e1_top3")(e1Top(embQ(s, d)))

  /** Persisted e2 LSH top-3 (same layout), read by e2 and e3. */
  private def e2TopT(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "e2_top3")(e2Top(s, d, embQ(s, d)))

  /** Persisted e4 IVF top-3 (same layout), read by e4 and e5. */
  private def e4TopT(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "e4_top3")(e4Top(embQ(s, d)))

  /** e1's ranked CTE chain (expects x/n in scope): defines `ranked1`. */
  private val e1SqlCtes =
    """d1 AS (
        SELECT q.vec_id AS qid, t.vec_id AS tid,
          sum(t.xq * q.xq) AS dot
        FROM x t JOIN x q ON t.pos = q.pos
          AND q.vec_id < 5 AND t.vec_id != q.vec_id
        GROUP BY 1, 2),
      c1 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d1 JOIN n qn ON qn.vec_id = qid JOIN n tn ON tn.vec_id = tid),
      ranked1 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c1)"""

  // e1: brute-force cosine top-3 for probe vectors vec_id < 5 — the exact
  // baseline every ANN variant is measured against. Probe side is
  // broadcast; dot products shuffle by (qid, tid); exact integer-micros
  // sums keep the result engine-exact (see Similarity's determinism
  // contract).
  private val qE1 = Q("e1_cosine_topk",
    (s, d) => e1TopT(s, d)
      .select(col("qid"), col("tid"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .transform(Q.sortedSmall(_, "qid", "rank")),
    Some(s"""WITH $embSqlPrefix,
      $e1SqlCtes
      SELECT qid, tid, rank, round(cosine, 6) AS cosine
      FROM ranked1 WHERE rank <= 3 ORDER BY qid, rank"""))

  /** e2's ranked result: banded hyperplane-LSH ANN. Probes search the
    * union of their bandsFor(bits) band buckets — per-band bucket
    * population is held near the constant `target` (64) by scaling the
    * bit width with the corpus size, so per-probe candidates are
    * O(bands · target) ≈ O(log N · target), not O(N / 2^4) as the old
    * fixed 4-bit sign bucket was. Candidates are re-scored with the same
    * exact integer cosine as e1; e3 grades the resulting recall.
    */
  private def e2Top(s: SparkSession, d: String, q: DataFrame): DataFrame = {
    val bk = lshBuckets(s, d, Similarity.bandsFor)
    val probes = bk.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("band"), col("bucket"))
    // the shared probe body (candidates → exact re-score → top-k):
    // identical dataflow to the pre-round-19 inline form, now the ONE
    // implementation the width harness and CI spec also run
    Similarity.annTopK(bk, probes, q, 3)
  }

  /** e2's ranked CTE chain (expects x/n in scope): defines `ranked2`. */
  private val e2SqlCtes =
    s"""${Similarity.bucketsSqlCtes("(SELECT 4 * bits + 4 FROM meta)",
          64)},
      probes AS (
        SELECT vec_id AS qid, band, bucket FROM bk WHERE vec_id < 5),
      cand AS (
        SELECT DISTINCT p.qid, t.vec_id AS tid
        FROM bk t JOIN probes p
          ON t.band = p.band AND t.bucket = p.bucket
        WHERE t.vec_id != p.qid),
      d2 AS (
        SELECT c.qid, c.tid, sum(t.xq * q.xq) AS dot
        FROM cand c JOIN x t ON t.vec_id = c.tid
          JOIN x q ON q.vec_id = c.qid AND q.pos = t.pos
        GROUP BY 1, 2),
      c2 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d2 JOIN n qn ON qn.vec_id = qid JOIN n tn ON tn.vec_id = tid),
      ranked2 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c2)"""

  // e2: banded hyperplane-LSH ANN — candidates from bandsFor(bits)
  // independent seeded Rademacher band tables whose bit width scales with
  // corpus size (bucket population ≈ constant 64), then exact cosine
  // re-scoring. The oracle regenerates the identical md5-seeded planes.
  private val qE2 = Q("e2_ann_lsh",
    (s, d) => e2TopT(s, d)
      .select(col("qid"), col("tid"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .transform(Q.sortedSmall(_, "qid", "rank")),
    Some(s"""WITH $embSqlPrefix,
      $e2SqlCtes
      SELECT qid, tid, rank, round(cosine, 6) AS cosine
      FROM ranked2 WHERE rank <= 3 ORDER BY qid, rank"""))

  // e2b (round 19): e2's probe against the PERSISTED index lakes — the
  // physical form a production LSH index serves from, graded on e2's
  // oracle verbatim (the d8b/e4b pattern). Two lake tables: the band
  // relation as plain parquet (the probe side broadcasts into it —
  // scanned, never shuffled) and the quantized-vector relation
  // BUCKETED by vec_id (Materialize.bucketedTable), so the re-score's
  // target fetch — the join the round-19 width run caught
  // corpus-shuffling in the naive shape (141 → 420 MB, SCALE.md) —
  // rides the on-disk layout: only the slim candidate relation
  // exchanges, the vector lake plans zero exchanges (PlanGuardSpec
  // pins it in the cluster shape). Same geometry, same arithmetic,
  // same answer as e2.
  private val qE2b = Q("e2b_lsh_lake",
    (s, d) => {
      val bkL = Materialize.table(s, d, "lsh_bands") {
        val bits = Similarity.bitsFor(T(s, d, "embeddings").count())
        val signs = Similarity.planeSigns(Similarity.bandsFor(bits),
          bits, EmbDims)
        Similarity.bandBucketsFromSigns(
          Similarity.withSqNorm(T(s, d, "embeddings"), "vec_id"),
          "vec_id", signs)
      }
      val vecL = Materialize.bucketedTable(s, d, "emb_vecs", 32,
        Seq("vec_id"))(
        Similarity.withSqNorm(T(s, d, "embeddings"), "vec_id"))
      val probes = bkL.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("band"), col("bucket"))
      Similarity.annTopK(bkL, probes, vecL, 3)
        .select(col("qid"), col("tid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .transform(Q.sortedSmall(_, "qid", "rank"))
    },
    Some(s"""WITH $embSqlPrefix,
      $e2SqlCtes
      SELECT qid, tid, rank, round(cosine, 6) AS cosine
      FROM ranked2 WHERE rank <= 3 ORDER BY qid, rank"""))

  // e3: ANN recall grade — per probe, the fraction of e1's exact top-3
  // that e2's LSH top-3 recovers. This is the number that justifies (or
  // indicts) the bucketing parameters: bandsFor's 4·bits+4 ramp holds
  // recall ≥ 0.93 at both test scales on the fixture's near-random
  // neighbors (top-3 cosines ≈ 0.36-0.42, i.e. angles ≈ 67° where a
  // sign-LSH band hits with only p^bits ≈ 0.6^bits); a corpus with real
  // near-duplicates sits at far smaller angles and needs fewer bands.
  /** Per-probe recall of `approx` against the exact top-k — the ONE
    * grading construction every approximate ANN tier (e3/e5/e7/e9/e11)
    * shares: left-join exact (qid, tid) with approximate, count hits,
    * 6-dp round. Defined once so the recall definition cannot drift
    * between grades.
    */
  private def recallOf(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("qid"), col("tid"))
      .join(approx.select(col("qid"), col("tid"))
        .withColumn("hit", lit(1)), Seq("qid", "tid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_exact"), 6))
      .transform(Q.sortedSmall(_, "qid"))

  private val qE3 = Q("e3_ann_recall",
    (s, d) => recallOf(e1TopT(s, d), e2TopT(s, d)),
    Some(s"""WITH $embSqlPrefix,
      $e2SqlCtes,
      $e1SqlCtes,
      t1 AS (SELECT qid, tid FROM ranked1 WHERE rank <= 3),
      t2 AS (SELECT qid, tid FROM ranked2 WHERE rank <= 3)
      SELECT t1.qid, count(*) AS n_exact,
        CAST(sum(CASE WHEN t2.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        round(CAST(sum(CASE WHEN t2.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS recall
      FROM t1 LEFT JOIN t2 ON t1.qid = t2.qid AND t1.tid = t2.tid
      GROUP BY 1 ORDER BY t1.qid"""))

  /** IVF parameters: C sampled centroids (the first C corpus vectors — a
    * deterministic, engine-mirrorable coarse quantizer; production would
    * train k-means and scale C ≈ √N), nprobe cells searched per probe.
    * Measured on the fixture: recall@3 0.93 at sf0.01 / 1.0 at sf0.1
    * scanning ~24% of the corpus — far better than sign-LSH here because
    * Voronoi cells adapt to the data's actual directions while fixed
    * random hyperplanes cannot.
    */
  private val IvfC = 16
  private val IvfNprobe = 4

  /** e4's sampled codebook: the first C corpus vectors, collected as
    * literal centroids (C·dims longs of dimension metadata — the
    * [[graft.ops.Kmeans]] codebook pattern). Round 19 replaced the
    * window-over-(n·C) `ivfScores` shape here: ranking the full
    * vector×centroid cross product shuffled AND cached n·C rows —
    * invisible at C=16 on the fixture, n^1.5 at width once C scales
    * ≈ √N. Assignment is now a map-only argmax over the literal
    * codebook ([[graft.ops.Similarity.ivfTopK]]), identical values
    * (same exact integer dots, same IEEE cosine, same tie-break), so
    * the oracle is unchanged.
    */
  private def ivfCents(q: DataFrame): Seq[(Long, Seq[Long], Long)] =
    Similarity.sampledCents(q, 0L, IvfC)

  /** e4's ranked result: IVF ANN — each vector is assigned to its
    * nearest sampled centroid; a probe searches the vectors assigned
    * to its nprobe nearest cells; survivors are re-scored with the
    * exact integer cosine. One shared probe body with the width
    * harness ([[graft.ops.Similarity.ivfTopK]] — map-only assignment
    * against the literal codebook).
    */
  private def e4Top(q: DataFrame): DataFrame =
    Similarity.ivfTopK(q, ivfCents(q), 5L, IvfNprobe, 3)

  /** e4's ranked CTE chain (expects x/n in scope): defines `ranked4`. */
  private val e4SqlCtes =
    s"""cd AS (
        SELECT v.vec_id, c.vec_id AS cid, sum(v.xq * c.xq) AS cdot
        FROM x v JOIN x c ON c.pos = v.pos AND c.vec_id < $IvfC
        GROUP BY 1, 2),
      sc AS (
        SELECT cd.vec_id, cd.cid,
          CAST(cdot AS DOUBLE) /
            sqrt(CAST(vn.sq AS DOUBLE) * CAST(cn.sq AS DOUBLE)) AS cos
        FROM cd JOIN n vn ON vn.vec_id = cd.vec_id
                JOIN n cn ON cn.vec_id = cd.cid),
      rsc AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY cos DESC, cid) AS rn FROM sc),
      assign AS (SELECT vec_id AS tid, cid FROM rsc WHERE rn = 1),
      pcells AS (
        SELECT vec_id AS qid, cid FROM rsc
        WHERE vec_id < 5 AND rn <= $IvfNprobe),
      cand4 AS (
        SELECT p.qid, a.tid FROM assign a JOIN pcells p
          ON a.cid = p.cid WHERE a.tid != p.qid),
      d4 AS (
        SELECT c.qid, c.tid, sum(t.xq * q.xq) AS dot
        FROM cand4 c JOIN x t ON t.vec_id = c.tid
          JOIN x q ON q.vec_id = c.qid AND q.pos = t.pos
        GROUP BY 1, 2),
      c4 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d4 JOIN n qn ON qn.vec_id = qid JOIN n tn ON tn.vec_id = tid),
      ranked4 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c4)"""

  // e4: IVF ANN — sampled-centroid coarse quantizer + nprobe cell
  // search + exact re-scoring. The second ANN family next to e2's LSH;
  // e5 grades its recall the way e3 grades e2's.
  private val qE4 = Q("e4_ivf_ann",
    (s, d) => e4TopT(s, d)
      .select(col("qid"), col("tid"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .transform(Q.sortedSmall(_, "qid", "rank")),
    Some(s"""WITH $embSqlPrefix,
      $e4SqlCtes
      SELECT qid, tid, rank, round(cosine, 6) AS cosine
      FROM ranked4 WHERE rank <= 3 ORDER BY qid, rank"""))

  // e4b (round 19): the INVERTED-FILE lake probe on the oracle gate —
  // the physical form a production IVF index serves from, graded on
  // e4's oracle verbatim (the d8b pattern). The assignment relation is
  // persisted partitionBy("cell") carrying each vector's quantized
  // array + norm (Materialize.partitionedTable), and the probe pushes
  // the probed cells as a STATIC literal partition filter (collected
  // driver-side — ≤ C ints of dimension metadata; the width harness
  // measured runtime dynamic pruning a no-op in this shape, see
  // Similarity.ivfLakeTopK), so the scan lists/reads only ~nprobe/C
  // of the corpus; probe vectors broadcast, target vectors already in
  // the pruned scan. Nothing corpus-sized shuffles; same answer as e4
  // by construction (same codebook, same assignment argmax, same
  // probe fan-out, same exact re-score).
  private val qE4b = Q("e4b_ivf_lake",
    (s, d) => {
      val q = embQ(s, d)
      val cents = ivfCents(q)
      val lake = Materialize.partitionedTable(s, d, "ivf_lake",
        Seq("cell"))(
        q.select(col("vec_id"), col("q"), col("sq"),
          Similarity.ivfAssign(cents).as("cell")))
      val probesV = q.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qa"),
          col("sq").as("qsq"))
      val cells = Similarity.ivfProbeCells(q, cents, 5L, IvfNprobe)
      Similarity.ivfLakeTopK(lake, probesV, cells, 3)
        .select(col("qid"), col("tid"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .transform(Q.sortedSmall(_, "qid", "rank"))
    },
    Some(s"""WITH $embSqlPrefix,
      $e4SqlCtes
      SELECT qid, tid, rank, round(cosine, 6) AS cosine
      FROM ranked4 WHERE rank <= 3 ORDER BY qid, rank"""))

  // e5: IVF recall grade vs e1's exact top-3 (same construction as e3).
  private val qE5 = Q("e5_ivf_recall",
    (s, d) => recallOf(e1TopT(s, d), e4TopT(s, d)),
    Some(s"""WITH $embSqlPrefix,
      $e4SqlCtes,
      $e1SqlCtes,
      t1 AS (SELECT qid, tid FROM ranked1 WHERE rank <= 3),
      t4 AS (SELECT qid, tid FROM ranked4 WHERE rank <= 3)
      SELECT t1.qid, count(*) AS n_exact,
        CAST(sum(CASE WHEN t4.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        round(CAST(sum(CASE WHEN t4.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS recall
      FROM t1 LEFT JOIN t4 ON t1.qid = t4.qid AND t1.tid = t4.tid
      GROUP BY 1 ORDER BY t1.qid"""))

  // d5: embedding-cosine near-dedup — the semantic counterpart of d2/d3:
  // candidate pairs share one of 8 hyperplane band buckets (bit width
  // scaled to corpus size, so candidates are O(bands · target · N) —
  // linear in N, unlike the old fixed 4-bit bucket's O(N²/16)), verified
  // with the exact integer cosine and kept at >= 0.35. The fixture's
  // 0.35 threshold sits at a ~69° angle (near-random vectors), where
  // 8 bands recover 55-91% of qualifying pairs; at a production near-dup
  // threshold (cosine ≥ 0.9, angle ≈ 26°) the same 8 bands give ≥ 0.99
  // modeled recall. The oracle mirrors the identical planes and buckets.
  private val qD5 = Q("d5_embedding_neardup",
    (s, d) => {
      val bk = lshBuckets(s, d, _ => 8)
      val cand = bk.select(col("band"), col("bucket"), col("vec_id").as("i"))
        .join(bk.select(col("band"), col("bucket"), col("vec_id").as("j")),
          Seq("band", "bucket"))
        .where(col("i") < col("j"))
        .select("i", "j").distinct()
      cosineOf(cand, embQ(s, d), "i", "j")
        .withColumn("cosine", round(col("cosine"), 6))
        .where(col("cosine") >= 0.35)
        .transform(df => Q.sortedSmall(df.select("i", "j", "cosine"), "i", "j"))
    },
    Some(s"""WITH $embSqlPrefix,
      ${Similarity.bucketsSqlCtes("8", 64)},
      cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id),
      d AS (
        SELECT cd.i, cd.j, sum(xi.xq * xj.xq) AS dot
        FROM cand cd JOIN x xi ON xi.vec_id = cd.i
          JOIN x xj ON xj.vec_id = cd.j AND xj.pos = xi.pos
        GROUP BY 1, 2)
      SELECT i, j, cosine FROM (
        SELECT i, j, round(CAST(dot AS DOUBLE) /
          sqrt(CAST(ni.sq AS DOUBLE) * CAST(nj.sq AS DOUBLE)), 6) AS cosine
        FROM d JOIN n ni ON ni.vec_id = i JOIN n nj ON nj.vec_id = j)
      WHERE cosine >= 0.35 ORDER BY i, j"""))

  // c1: the composed curation pass — the end-to-end shape of an LLM
  // training-data pipeline: quality-score filter (t1's formula) →
  // normalized-signature dedup keep-first (d1's signature) → per-lang
  // corpus rollup. One scan, one dedup shuffle, one rollup shuffle.
  private val qC1 = Q("c1_curation_pipeline",
    (s, d) => {
      val w = Text.words(col("text"))
      val scored = T(s, d, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        md5(array_join(array_sort(array_distinct(w)), "|")).as("norm_sig"),
        Text.qualityScore(w).as("quality"))
      val kept = scored.where(col("quality") >= 0.7)
      val deduped = graft.ops.Relational.keepFirst(kept, Seq("norm_sig"),
        Seq(col("doc_id")))
      deduped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          graft.ops.Exact.davg(col("quality")).as("avg_quality"))
        .orderBy("lang")
    },
    Some(s"""WITH scored AS (
        SELECT doc_id, lang, n_chars,
          md5(array_to_string(list_sort(list_distinct(
            string_split(text, ' '))), '|')) AS norm_sig,
          ${Text.qualityScoreSql("string_split(text, ' ')")} AS quality
        FROM documents),
      kept AS (SELECT * FROM scored WHERE quality >= 0.7),
      deduped AS (
        SELECT * FROM (SELECT *, row_number() OVER (
            PARTITION BY norm_sig ORDER BY doc_id) AS rn FROM kept)
        WHERE rn = 1)
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
              / count(quality), 6) AS avg_quality
      FROM deduped GROUP BY lang ORDER BY lang"""))

  // ------------------------------------------------------------- multimodal

  // m1: multimodal binary-column plumbing — the byte-domain CONTRAST
  // tier. Real codec work lives in m5-m8 (MediaQueries/ops.Images:
  // javax.imageio decode, raster resize, channel stats); this tier
  // covers the formats the JVM has no codec for (video), where the
  // payload is opaque bytes and the graded surface is metadata +
  // deterministic byte arithmetic. The schema, batch shape, and
  // partition-local decoder lifecycle are the real thing; only the
  // codec is a stub, and nothing here claims to decode.
  private val qM1 = Q("m1_payload_metadata",
    (s, d) => graft.ops.Multimodal.decodeStub(s,
        T(s, d, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
        CAST(strlen(text) // 16 AS INT) AS n_frames,
        substr(md5(text), 1, 8) AS sample_hash
      FROM documents ORDER BY doc_id"""))

  // m2: video-frame sampling — one input object fans out to a bounded
  // set of frame rows ([[graft.ops.Multimodal.frameSample]]: typed
  // flatMap, 16-byte "frames", every 4th kept). The graded surface is
  // each sampled frame's md5, so frame boundaries, stride arithmetic,
  // and payload slicing are all byte-exact. The oracle replays the same
  // slicing with VARCHAR substr — byte-exact because the fixture corpus
  // is pure ASCII (asserted by MultimodalSpec's octet_length(text) =
  // length(text) check over the gate fixture).
  private val qM2 = Q("m2_frame_sample",
    (s, d) => graft.ops.Multimodal.frameSample(s,
        T(s, d, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")), 4)
      .select(col("doc_id"), col("frame_idx"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx"),
    Some("""SELECT doc_id, frame_idx,
        md5(substring(text, frame_idx * 16 + 1, 16)) AS frame_md5
      FROM (SELECT doc_id, text,
          unnest(range(0, strlen(text) // 16)) AS frame_idx
        FROM documents)
      WHERE frame_idx % 4 = 0
      ORDER BY doc_id, frame_idx"""))

  // m3: byte-domain downsample plumbing (contrast tier — the real
  // raster resize is m6_image_resize) — [[graft.ops.Multimodal
  // .resizeStub]]'s every-4th-byte downsample graded end to end: the
  // oracle rebuilds the same byte subsequence with character-position
  // arithmetic (byte = char on the ASCII fixture, the m2 premise) and
  // the md5 compares the full resized payload, not just its length.
  private val qM3 = Q("m3_byte_downsample",
    (s, d) => graft.ops.Multimodal.resizeStub(s,
        T(s, d, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")), 4)
      .select(col("doc_id"), col("n_bytes"),
        md5(col("payload")).as("resized_md5"))
      .orderBy("doc_id"),
    // left join, not a bare GROUP BY over the per-byte unnest: an empty
    // payload has zero unnest rows and would vanish from the oracle,
    // while the Spark side correctly emits its (0-byte, md5-of-empty) row
    Some("""SELECT d.doc_id,
        CAST((strlen(d.text) + 3) // 4 AS INT) AS n_bytes,
        md5(coalesce(r.s, '')) AS resized_md5
      FROM documents d LEFT JOIN (
        SELECT doc_id, string_agg(substr(text, i, 1), '' ORDER BY i) AS s
        FROM (SELECT doc_id, text,
            unnest(range(1, strlen(text) + 1, 4)) AS i
          FROM documents)
        GROUP BY doc_id) r USING (doc_id)
      ORDER BY d.doc_id"""))

  // m4: stub feature plumbing (contrast tier — real raster features
  // are m7_image_channel_stats) —
  // [[graft.ops.Multimodal.featureExtractStub]]'s deterministic 4-lane
  // float embedding, graded EXACTLY: each float is v/2³¹ for a 32-bit
  // md5 lane v, and v/2³¹ is exact in double (power-of-two divisor), so
  // float(v/2³¹) is the correctly-rounded float in BOTH engines; the
  // graded surface scales the float back by 2³¹ into a long, making the
  // comparison bit-exact with no fp-text round-trip. The oracle parses
  // the same md5 lanes, applies the same signed-int32 reinterpretation,
  // and replays the double→REAL→double rounding chain.
  private val qM4 = Q("m4_stub_features",
    (s, d) => graft.ops.Multimodal.featureExtractStub(s,
        T(s, d, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")))
      .select(col("doc_id"), posexplode(col("features"))
        .as(Seq("lane", "f")))
      .select(col("doc_id"), col("lane"),
        (col("f").cast("double") * 2147483648.0).cast("long")
          .as("f_scaled"))
      .orderBy("doc_id", "lane"),
    Some("""WITH lanes AS (
        SELECT doc_id, k AS lane,
          CAST(concat('0x', substr(md5(text), 8 * k + 1, 8)) AS BIGINT)
            AS v
        FROM documents, (SELECT unnest(range(4)) AS k)),
      signed AS (
        SELECT doc_id, lane,
          CASE WHEN v >= 2147483648 THEN v - 4294967296 ELSE v END AS sv
        FROM lanes)
      SELECT doc_id, CAST(lane AS INT) AS lane,
        CAST(CAST(CAST(CAST(sv AS DOUBLE) / 2147483648 AS REAL)
          AS DOUBLE) * 2147483648 AS BIGINT) AS f_scaled
      FROM signed ORDER BY doc_id, lane"""))

  /** Unrolled DuckDB replay of [[graft.ops.Kmeans]]: c0 = first-C
    * vectors; per round, assignment a_i (min exact distance, lowest cell
    * on ties) and centroid update c_i (truncating integer mean via `//`,
    * empty cells inherit). Expects the shared `x` CTE in scope.
    */
  private def kmeansSqlCtes(c: Int, iters: Int): String = {
    val init =
      s"kc0 AS (SELECT vec_id AS cell, pos, xq AS cq FROM x WHERE vec_id < $c)"
    val rounds = (1 to iters).map { i =>
      s"""ka$i AS (
        SELECT vec_id, cell FROM (
          SELECT t.vec_id, c.cell,
            row_number() OVER (PARTITION BY t.vec_id
              ORDER BY sum((t.xq - c.cq) * (t.xq - c.cq)), c.cell) AS rn
          FROM x t JOIN kc${i - 1} c ON c.pos = t.pos
          GROUP BY t.vec_id, c.cell) WHERE rn = 1),
      kc$i AS (
        SELECT cell, pos, sum(xq) // count(*) AS cq
        FROM x JOIN ka$i USING (vec_id) GROUP BY cell, pos
        UNION ALL
        SELECT cell, pos, cq FROM kc${i - 1}
        WHERE cell NOT IN (SELECT DISTINCT cell FROM ka$i))"""
    }
    (init +: rounds).mkString(",\n      ")
  }

  // e6: deterministic quantized k-means — the trained coarse quantizer
  // that replaces e4's first-C-vectors stub in a production IVF index.
  // Integer-exact throughout (distances, tie-breaks, truncating-mean
  // updates), so the oracle replays all three Lloyd rounds bit-for-bit;
  // the graded surface is the final cell assignment plus cell sizes.
  private val KmC = 16
  private val KmIters = 3

  /** Trained coarse-quantizer centroids, memoized per fixture — e6 and
    * e7 share one training run (the codebook is C·dims longs of
    * dimension metadata; production persists it beside the index).
    */
  private def kmCents(s: SparkSession, d: String): Seq[Seq[Long]] =
    Materialize.value(d, "km_cents")(
      graft.ops.Kmeans.train(embQ(s, d), "vec_id", KmC, KmIters))

  private val qE6 = Q("e6_kmeans_cells",
    (s, d) => {
      val q = embQ(s, d)
      val cents = kmCents(s, d)
      graft.ops.Kmeans.assign(q, cents)
        .select(col("vec_id"), col("cell"))
        .withColumn("cell_size",
          count(lit(1)).over(Window.partitionBy("cell")))
        .transform(Q.sortedSmall(_, "vec_id"))
    },
    Some(s"""WITH $embSqlPrefix,
      ${kmeansSqlCtes(KmC, KmIters)},
      afin AS (
        SELECT vec_id, cell FROM (
          SELECT t.vec_id, c.cell,
            row_number() OVER (PARTITION BY t.vec_id
              ORDER BY sum((t.xq - c.cq) * (t.xq - c.cq)), c.cell) AS rn
          FROM x t JOIN kc$KmIters c ON c.pos = t.pos
          GROUP BY t.vec_id, c.cell) WHERE rn = 1)
      SELECT vec_id, cell,
        count(*) OVER (PARTITION BY cell) AS cell_size
      FROM afin ORDER BY vec_id"""))

  // e7: IVF recall with the TRAINED quantizer — e5's measurement run
  // against Kmeans cells instead of e4's first-C-vectors stub. Probes
  // fan out to the KmNprobe nearest trained cells (same exact distance
  // and tie-break as assignment); the oracle replays training, cell
  // assignment, probe fan-out, exact re-scoring, and the recall join.
  private val KmNprobe = 4
  private val qE7 = Q("e7_trained_ivf_recall",
    (s, d) => {
      val q = embQ(s, d)
      val cents = kmCents(s, d)
      val assigned = graft.ops.Kmeans.assign(q, cents)
        .select(col("vec_id").as("tid"), col("cell"))
      val probes = graft.ops.Kmeans
        .nearestCells(q.where(col("vec_id") < 5), "vec_id", cents, KmNprobe)
        .select(col("vec_id").as("qid"), col("cell"))
      val cand = assigned.join(broadcast(probes), Seq("cell"))
        .where(col("tid") =!= col("qid"))
        .select("qid", "tid")
      recallOf(e1TopT(s, d),
        Similarity.topK(cosineOf(cand, q, "qid", "tid"), 3))
    },
    Some(s"""WITH $embSqlPrefix,
      ${kmeansSqlCtes(KmC, KmIters)},
      cdist AS (
        SELECT t.vec_id, c.cell, sum((t.xq - c.cq) * (t.xq - c.cq)) AS d
        FROM x t JOIN kc$KmIters c ON c.pos = t.pos GROUP BY 1, 2),
      rcd AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d, cell) AS rn FROM cdist),
      kassign AS (SELECT vec_id AS tid, cell FROM rcd WHERE rn = 1),
      kprobe AS (
        SELECT vec_id AS qid, cell FROM rcd
        WHERE vec_id < 5 AND rn <= $KmNprobe),
      cand7 AS (
        SELECT p.qid, a.tid FROM kassign a JOIN kprobe p
          ON a.cell = p.cell WHERE a.tid != p.qid),
      d7 AS (
        SELECT c.qid, c.tid, sum(t.xq * q.xq) AS dot
        FROM cand7 c JOIN x t ON t.vec_id = c.tid
          JOIN x q ON q.vec_id = c.qid AND q.pos = t.pos
        GROUP BY 1, 2),
      c7 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d7 JOIN n qn ON qn.vec_id = qid JOIN n tn ON tn.vec_id = tid),
      ranked7 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c7),
      $e1SqlCtes,
      t1 AS (SELECT qid, tid FROM ranked1 WHERE rank <= 3),
      t7 AS (SELECT qid, tid FROM ranked7 WHERE rank <= 3)
      SELECT t1.qid, count(*) AS n_exact,
        CAST(sum(CASE WHEN t7.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        round(CAST(sum(CASE WHEN t7.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS recall
      FROM t1 LEFT JOIN t7 ON t1.qid = t7.qid AND t1.tid = t7.tid
      GROUP BY 1 ORDER BY t1.qid"""))

  // e10: SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-
  // efficient learning at web-scale through semantic deduplication",
  // 2023): cluster the embeddings with the trained quantizer, compare
  // ONLY within a cluster, and drop the less-central member of every
  // near-duplicate pair (tie → higher id), keeping cluster
  // representatives. Candidates are bounded by cell population — the
  // k-means cells play the role d2's bands play for text — so the
  // within-cell self-join is O(Σ|cell|²), with |cell| held near a
  // constant in production by scaling C with the corpus (the graded
  // geometry fixes C=16 for oracle tractability; Kmeans.train takes any
  // C). Centrality = the exact integer quantization error to the
  // assigned centroid (qerr), so keep/drop decisions replay bit-for-bit.
  // This pairwise drop rule is the deterministic relational form of the
  // paper's per-cluster greedy scan; both keep one representative per
  // dense near-dup group, but the pairwise form needs no sequential
  // per-cluster loop. Scored over a bounded shard (vec_id < SemShard —
  // production semdedups per shard anyway) to keep the oracle's
  // within-cell cross join replayable.
  private val SemTau = 0.35
  private val SemShard = 1500
  private val qE10 = Q("e10_semdedup",
    (s, d) => {
      val q = embQ(s, d)
      val shard = graft.ops.Kmeans
        .assignWithDist(q.where(col("vec_id") < SemShard), kmCents(s, d))
        .select(col("vec_id"), col("cell"), col("qerr"))
      val a = shard.select(col("cell"), col("vec_id").as("i"),
        col("qerr").as("qi"))
      val bb = shard.select(col("cell"), col("vec_id").as("j"),
        col("qerr").as("qj"))
      val cand = a.join(bb, Seq("cell")).where(col("i") =!= col("j"))
      val dominated = cosineOf(cand, q, "i", "j")
        .withColumn("cosine", round(col("cosine"), 6))
        .where(col("cosine") >= SemTau &&
          (col("qj") < col("qi") ||
            (col("qj") === col("qi") && col("j") < col("i"))))
        .groupBy(col("i").as("vec_id"))
        .agg(count(lit(1)).as("n_better_dups"), min("j").as("rep_id"))
      shard.select("vec_id", "cell")
        .join(dominated, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_better_dups"), lit(0L)).as("n_better_dups"),
          col("rep_id"),
          col("n_better_dups").isNull.cast("int").as("kept"))
        .transform(Q.sortedSmall(_, "vec_id"))
    },
    Some(s"""WITH $embSqlPrefix,
      ${kmeansSqlCtes(KmC, KmIters)},
      af AS (
        SELECT vec_id, cell, CAST(d AS BIGINT) AS qerr FROM (
          SELECT t.vec_id, c.cell,
            sum((t.xq - c.cq) * (t.xq - c.cq)) AS d,
            row_number() OVER (PARTITION BY t.vec_id
              ORDER BY sum((t.xq - c.cq) * (t.xq - c.cq)), c.cell) AS rn
          FROM x t JOIN kc$KmIters c ON c.pos = t.pos
          WHERE t.vec_id < $SemShard
          GROUP BY t.vec_id, c.cell) WHERE rn = 1),
      cd AS (
        SELECT a.vec_id AS i, a.cell, a.qerr AS qi,
          b.vec_id AS j, b.qerr AS qj
        FROM af a JOIN af b
          ON a.cell = b.cell AND a.vec_id != b.vec_id),
      dt AS (
        SELECT cd.i, cd.j, cd.qi, cd.qj, sum(xi.xq * xj.xq) AS dot
        FROM cd JOIN x xi ON xi.vec_id = cd.i
          JOIN x xj ON xj.vec_id = cd.j AND xj.pos = xi.pos
        GROUP BY 1, 2, 3, 4),
      sc AS (
        SELECT i, j, qi, qj,
          round(CAST(dot AS DOUBLE) /
            sqrt(CAST(ni.sq AS DOUBLE) * CAST(nj.sq AS DOUBLE)), 6)
            AS cosine
        FROM dt JOIN n ni ON ni.vec_id = i JOIN n nj ON nj.vec_id = j),
      dom AS (
        SELECT i AS vec_id, count(*) AS n_better_dups, min(j) AS rep_id
        FROM sc
        WHERE cosine >= $SemTau
          AND (qj < qi OR (qj = qi AND j < i))
        GROUP BY 1)
      SELECT af.vec_id, af.cell,
        CAST(coalesce(dom.n_better_dups, 0) AS BIGINT) AS n_better_dups,
        dom.rep_id,
        CAST(dom.vec_id IS NULL AS INT) AS kept
      FROM af LEFT JOIN dom ON dom.vec_id = af.vec_id
      ORDER BY af.vec_id"""))

  // -------------------------------------------------- product quantization

  /** PQ geometry: PqM subspaces of EmbDims/PqM dims each, PqK centroids
    * per subspace trained by [[graft.ops.Kmeans]] (PqIters Lloyd rounds —
    * the same graded integer k-means as e6), so a vector compresses to
    * PqM·log2(PqK) = 16 bits. Production runs M=8..64 with K=256 (one
    * byte per subspace); the fixture geometry keeps the oracle's
    * per-subspace Lloyd replay tractable while exercising the identical
    * plan shape. Product quantization per Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search" (PAMI 2011).
    */
  private val PqM = 8
  private val PqSub = EmbDims / PqM
  private val PqK = 16
  private val PqIters = 2
  private val PqRerank = 20

  /** Sub-vector slice of the quantized corpus for subspace `m` — a
    * map-only projection; no shuffle.
    */
  private def pqSubVec(q: DataFrame, m: Int): DataFrame =
    q.select(col("vec_id"), slice(col("q"), m * PqSub + 1, PqSub).as("q"))

  /** Per-subspace codebooks, trained JOINTLY: the long (vec_id, sub, q)
    * form feeds [[graft.ops.Kmeans.trainProduct]], so each Lloyd round
    * is one pass over the corpus for all PqM codebooks — per-subspace
    * results identical to independent training (KmeansSpec asserts it).
    */
  private def pqCents(q: DataFrame): Seq[Seq[Seq[Long]]] = {
    val subVecs = (0 until PqM).map { m =>
      pqSubVec(q, m).select(col("vec_id"), lit(m).as("sub"), col("q"))
    }.reduce(_.union(_))
    graft.ops.Kmeans.trainProduct(subVecs, "vec_id", PqM, PqK, PqIters)
  }

  /** Trained PQ codebooks, memoized per fixture — e8's encoding and
    * e9's ADC search share one joint training run.
    */
  private def pqCentsShared(s: SparkSession, d: String): Seq[Seq[Seq[Long]]] =
    Materialize.value(d, "pq_cents")(pqCents(embQ(s, d)))

  /** Persisted PQ code table (vec_id, sub, code, qerr) — the compressed
    * representation the corpus lives in; e8 grades it and e9 searches
    * it as a parquet scan, never re-encoding.
    */
  private def pqCodesT(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "pq_codes")(
      pqCodes(embQ(s, d), pqCentsShared(s, d)))

  /** Persisted codebook relation (sub, code, cq, csq) — PqM·PqK rows of
    * dimension metadata, broadcast into e9's LUT build.
    */
  private def pqCentroidsT(s: SparkSession, d: String): DataFrame =
    Materialize.table(s, d, "pq_centroids") {
      val cents = pqCentsShared(s, d)
      val centRows = for (m <- 0 until PqM; c <- cents(m).indices)
        yield (m, c, cents(m)(c), cents(m)(c).map(x => x * x).sum)
      import s.implicits._
      centRows.toDF("sub", "code", "cq", "csq")
    }

  /** PQ encoding: one (vec_id, sub, code, qerr) row per subspace —
    * map-only assignment against broadcast centroid literals, with the
    * exact integer quantization error the codebook is judged by.
    */
  private def pqCodes(q: DataFrame, cents: Seq[Seq[Seq[Long]]]): DataFrame =
    (0 until PqM).map { m =>
      graft.ops.Kmeans.assignWithDist(pqSubVec(q, m), cents(m))
        .select(col("vec_id"), lit(m).as("sub"), col("cell").as("code"),
          col("qerr"))
    }.reduce(_.union(_))

  /** DuckDB replay of the PQ codebooks: per subspace m, a rebased slice
    * xp_m of the exploded form, the same Lloyd unroll as
    * [[kmeansSqlCtes]] (CTE names suffixed _m), and the final code+qerr
    * assignment; `pqcodes` unions the subspaces.
    */
  private def pqSqlCtes(): String = {
    val subs = (0 until PqM).map { m =>
      val xp = s"xp$m"
      val init = s"""$xp AS (
        SELECT vec_id, pos - ${m * PqSub} AS pos, xq FROM x
        WHERE pos > ${m * PqSub} AND pos <= ${(m + 1) * PqSub}),
      pkc0_$m AS (SELECT vec_id AS cell, pos, xq AS cq FROM $xp
        WHERE vec_id < $PqK)"""
      val rounds = (1 to PqIters).map { i =>
        s"""pka${i}_$m AS (
        SELECT vec_id, cell FROM (
          SELECT t.vec_id, c.cell,
            row_number() OVER (PARTITION BY t.vec_id
              ORDER BY sum((t.xq - c.cq) * (t.xq - c.cq)), c.cell) AS rn
          FROM $xp t JOIN pkc${i - 1}_$m c ON c.pos = t.pos
          GROUP BY t.vec_id, c.cell) WHERE rn = 1),
      pkc${i}_$m AS (
        SELECT cell, pos, sum(xq) // count(*) AS cq
        FROM $xp JOIN pka${i}_$m USING (vec_id) GROUP BY cell, pos
        UNION ALL
        SELECT cell, pos, cq FROM pkc${i - 1}_$m
        WHERE cell NOT IN (SELECT DISTINCT cell FROM pka${i}_$m))"""
      }
      val fin = s"""pq$m AS (
        SELECT vec_id, $m AS sub, cell AS code, CAST(d AS BIGINT) AS qerr
        FROM (
          SELECT t.vec_id, c.cell,
            sum((t.xq - c.cq) * (t.xq - c.cq)) AS d,
            row_number() OVER (PARTITION BY t.vec_id
              ORDER BY sum((t.xq - c.cq) * (t.xq - c.cq)), c.cell) AS rn
          FROM $xp t JOIN pkc${PqIters}_$m c ON c.pos = t.pos
          GROUP BY t.vec_id, c.cell) WHERE rn = 1)"""
      (init +: rounds :+ fin).mkString(",\n      ")
    }
    val union = (0 until PqM)
      .map(m => s"SELECT * FROM pq$m").mkString(" UNION ALL ")
    (subs :+ s"pqcodes AS ($union)").mkString(",\n      ")
  }

  /** Oracle CTE block for the ADC lookup table (pcent/pcn/px/plut) —
    * expects `x` and [[pqSqlCtes]]'s pkc tables in scope. Shared by the
    * e9 and e11 oracles.
    */
  private lazy val pqLutSqlCtes =
    s"""pcent AS (${(0 until PqM).map(m =>
        s"SELECT $m AS sub, cell AS code, pos, cq FROM pkc${PqIters}_$m")
        .mkString(" UNION ALL ")}),
      pcn AS (SELECT sub, code, CAST(sum(cq * cq) AS BIGINT) AS csq
        FROM pcent GROUP BY 1, 2),
      px AS (
        SELECT vec_id AS qid, CAST((pos - 1) // $PqSub AS INT) AS sub,
          ((pos - 1) % $PqSub) + 1 AS pos, xq
        FROM x WHERE vec_id < 5),
      plut AS (
        SELECT p.qid, c.sub, c.code, CAST(sum(p.xq * c.cq) AS BIGINT)
          AS pdot
        FROM px p JOIN pcent c ON c.sub = p.sub AND c.pos = p.pos
        GROUP BY 1, 2, 3)"""

  // e8: PQ encoding — the compressed representation 100 TB of embeddings
  // actually lives in (256 B/vector → PqM codes + tiny codebooks). The
  // graded surface is every code AND the exact integer quantization
  // error, so a codebook drift of one unit in one dimension fails the
  // gate. Training replays bit-for-bit in the oracle (e6's guarantee,
  // once per subspace).
  private val qE8 = Q("e8_pq_codes",
    (s, d) => pqCodesT(s, d)
      .select("vec_id", "sub", "code", "qerr")
      .transform(Q.sortedSmall(_, "vec_id", "sub")),
    Some(s"""WITH $embSqlPrefix,
      ${pqSqlCtes()}
      SELECT vec_id, sub, code, qerr FROM pqcodes ORDER BY vec_id, sub"""))

  // e9: PQ search — asymmetric distance computation (ADC): each probe
  // builds a PqM×PqK lookup table of exact sub-vector dots against the
  // broadcast codebooks (dimension metadata, like a3b's key set), every
  // target is scored by code lookup alone (its full vector is never
  // touched), the ADC top-PqRerank are re-scored with the exact integer
  // cosine, and recall@3 vs e1's exact top-3 grades the whole stack.
  // approx cosine = Σ_sub LUT[sub][code] / √(|q|²·Σ_sub |c_code|²) —
  // integer sums into one IEEE division, so ranking is engine-exact.
  /** Per-probe ADC lookup table (qid, sub, code, pdot, csq): exact
    * sub-vector dots against the persisted codebook relation — PqM·PqK
    * rows per probe, dimension metadata broadcast into the scoring
    * join. Shared by e9 (exhaustive ADC) and e11 (IVF-PQ).
    */
  private def pqLut(s: SparkSession, d: String): DataFrame =
    // ONE scan of the probe vectors against the broadcast codebook
    // relation (r22, guide §1.2): the former PqM-branch union sliced
    // the probe scan once per subspace (PqM cache scans + a union in
    // every LUT broadcast build of e9/e11/e11b); the sub index now
    // rides the broadcast side and slice() selects the probe
    // sub-vector at join time — identical dotq arithmetic per
    // (qid, sub, code)
    embQ(s, d).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("q"))
      .crossJoin(broadcast(pqCentroidsT(s, d)))
      .select(col("qid"), col("sub"), col("code"),
        Similarity.dotq(slice(col("q"), col("sub") * PqSub + 1,
          lit(PqSub)), col("cq")).as("pdot"), col("csq"))

  /** ADC rerank: rank candidates by the approximate cosine assembled
    * from summed LUT partials, keep the top [[PqRerank]] per probe —
    * the scoring/rerank pipeline e9 (corpus-wide ADC) and e11
    * (cell-pruned ADC) share, so the formula and the rerank width
    * cannot drift between the two PQ grades.
    */
  private def adcRerank(s: SparkSession, d: String,
                        adc: DataFrame): DataFrame = {
    val qn = embQ(s, d).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("sq").as("qsq"))
    val wA = Window.partitionBy("qid").orderBy(col("acos").desc, col("tid"))
    adc.join(broadcast(qn), Seq("qid"))
      .withColumn("acos", col("adot").cast("double") /
        sqrt(col("qsq").cast("double") * col("tcsq").cast("double")))
      .withColumn("rn", row_number().over(wA))
      .where(col("rn") <= PqRerank)
      .select("qid", "tid")
  }

  private val qE9 = Q("e9_pq_recall",
    (s, d) => {
      val q = embQ(s, d)
      val codes = pqCodesT(s, d).select("vec_id", "sub", "code")
      val lut = pqLut(s, d)
      val adc = codes.join(broadcast(lut), Seq("sub", "code"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("tid"), col("pdot"), col("csq"))
        .groupBy("qid", "tid")
        .agg(sum("pdot").as("adot"), sum("csq").as("tcsq"))
      val cand = adcRerank(s, d, adc)
      recallOf(e1TopT(s, d),
        Similarity.topK(cosineOf(cand, q, "qid", "tid"), 3))
    },
    Some(s"""WITH $embSqlPrefix,
      ${pqSqlCtes()},
      $pqLutSqlCtes,
      adc AS (
        SELECT l.qid, k.vec_id AS tid, CAST(sum(l.pdot) AS BIGINT) AS adot,
          CAST(sum(cn.csq) AS BIGINT) AS tcsq
        FROM pqcodes k
          JOIN plut l ON l.sub = k.sub AND l.code = k.code
          JOIN pcn cn ON cn.sub = k.sub AND cn.code = k.code
        WHERE k.vec_id != l.qid
        GROUP BY 1, 2),
      radc AS (
        SELECT qid, tid, row_number() OVER (PARTITION BY qid
            ORDER BY CAST(adot AS DOUBLE) /
              sqrt(CAST(qn.sq AS DOUBLE) * CAST(tcsq AS DOUBLE)) DESC,
            tid) AS rn
        FROM adc JOIN n qn ON qn.vec_id = qid),
      cand9 AS (SELECT qid, tid FROM radc WHERE rn <= $PqRerank),
      d9 AS (
        SELECT c.qid, c.tid, sum(t.xq * q.xq) AS dot
        FROM cand9 c JOIN x t ON t.vec_id = c.tid
          JOIN x q ON q.vec_id = c.qid AND q.pos = t.pos
        GROUP BY 1, 2),
      c9 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d9 JOIN n qn ON qn.vec_id = qid JOIN n tn ON tn.vec_id = tid),
      ranked9 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c9),
      $e1SqlCtes,
      t1 AS (SELECT qid, tid FROM ranked1 WHERE rank <= 3),
      t9 AS (SELECT qid, tid FROM ranked9 WHERE rank <= 3)
      SELECT t1.qid, count(*) AS n_exact,
        CAST(sum(CASE WHEN t9.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        round(CAST(sum(CASE WHEN t9.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS recall
      FROM t1 LEFT JOIN t9 ON t1.qid = t9.qid AND t1.tid = t9.tid
      GROUP BY 1 ORDER BY t1.qid"""))

  // e11: IVF-PQ — the production composition SCALE.md documents: the
  // trained coarse quantizer prunes to nprobe cells (e7's fan-out), the
  // survivors are scored by PQ code lookup alone against the persisted
  // code table (e9's ADC — the corpus's full vectors are never touched
  // between encoding and the final re-rank), the ADC top-PqRerank are
  // re-scored with the exact integer cosine, and recall@3 vs e1's exact
  // top-3 grades the whole two-tier index. Per probe the work is
  // O(nprobe · cell + rerank · dims) — independent of corpus size once
  // C scales with N — and every tier (training, assignment, codes, LUT,
  // ranking) replays bit-for-bit in the oracle.
  private val qE11 = Q("e11_ivfpq_recall",
    (s, d) => {
      val q = embQ(s, d)
      val cents = kmCents(s, d)
      val assigned = graft.ops.Kmeans.assign(q, cents)
        .select(col("vec_id").as("tid"), col("cell"))
      val probeCells = graft.ops.Kmeans
        .nearestCells(q.where(col("vec_id") < 5), "vec_id", cents,
          KmNprobe)
        .select(col("vec_id").as("qid"), col("cell"))
      val cand = assigned.join(broadcast(probeCells), Seq("cell"))
        .where(col("tid") =!= col("qid"))
        .select("qid", "tid")
      val codes = pqCodesT(s, d)
        .select(col("vec_id").as("tid"), col("sub"), col("code"))
      val adc = cand.join(codes, Seq("tid"))
        .join(broadcast(pqLut(s, d)), Seq("qid", "sub", "code"))
        .groupBy("qid", "tid")
        .agg(sum("pdot").as("adot"), sum("csq").as("tcsq"))
      val rer = adcRerank(s, d, adc)
      recallOf(e1TopT(s, d),
        Similarity.topK(cosineOf(rer, q, "qid", "tid"), 3))
    },
    Some(s"""WITH $embSqlPrefix,
      ${kmeansSqlCtes(KmC, KmIters)},
      ${pqSqlCtes()},
      $pqLutSqlCtes,
      cdist AS (
        SELECT t.vec_id, c.cell, sum((t.xq - c.cq) * (t.xq - c.cq)) AS d
        FROM x t JOIN kc$KmIters c ON c.pos = t.pos GROUP BY 1, 2),
      rcd AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY d, cell) AS rn FROM cdist),
      kassign AS (SELECT vec_id AS tid, cell FROM rcd WHERE rn = 1),
      kprobe AS (
        SELECT vec_id AS qid, cell FROM rcd
        WHERE vec_id < 5 AND rn <= $KmNprobe),
      cand11 AS (
        SELECT p.qid, a.tid FROM kassign a JOIN kprobe p
          ON a.cell = p.cell WHERE a.tid != p.qid),
      adc11 AS (
        SELECT c.qid, c.tid, CAST(sum(l.pdot) AS BIGINT) AS adot,
          CAST(sum(cn.csq) AS BIGINT) AS tcsq
        FROM cand11 c
          JOIN pqcodes k ON k.vec_id = c.tid
          JOIN plut l ON l.qid = c.qid AND l.sub = k.sub
            AND l.code = k.code
          JOIN pcn cn ON cn.sub = k.sub AND cn.code = k.code
        GROUP BY 1, 2),
      radc11 AS (
        SELECT qid, tid, row_number() OVER (PARTITION BY qid
            ORDER BY CAST(adot AS DOUBLE) /
              sqrt(CAST(qn.sq AS DOUBLE) * CAST(tcsq AS DOUBLE)) DESC,
            tid) AS rn
        FROM adc11 JOIN n qn ON qn.vec_id = qid),
      cnd11 AS (SELECT qid, tid FROM radc11 WHERE rn <= $PqRerank),
      d11 AS (
        SELECT c.qid, c.tid, sum(t.xq * q.xq) AS dot
        FROM cnd11 c JOIN x t ON t.vec_id = c.tid
          JOIN x q ON q.vec_id = c.qid AND q.pos = t.pos
        GROUP BY 1, 2),
      c11 AS (
        SELECT qid, tid, CAST(dot AS DOUBLE) /
          sqrt(CAST(qn.sq AS DOUBLE) * CAST(tn.sq AS DOUBLE)) AS cosine
        FROM d11 JOIN n qn ON qn.vec_id = qid
                 JOIN n tn ON tn.vec_id = tid),
      ranked11 AS (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cosine DESC, tid) AS rank FROM c11),
      $e1SqlCtes,
      t1 AS (SELECT qid, tid FROM ranked1 WHERE rank <= 3),
      t11 AS (SELECT qid, tid FROM ranked11 WHERE rank <= 3)
      SELECT t1.qid, count(*) AS n_exact,
        CAST(sum(CASE WHEN t11.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_hit,
        round(CAST(sum(CASE WHEN t11.tid IS NOT NULL THEN 1 ELSE 0 END)
          AS DOUBLE) / count(*), 6) AS recall
      FROM t1 LEFT JOIN t11 ON t1.qid = t11.qid AND t1.tid = t11.tid
      GROUP BY 1 ORDER BY t1.qid"""))

  // e7b: e7's trained-IVF probe in its production serving layout — the
  // lake twin for the TRAINED coarse quantizer (e4b covers the
  // sampled-codebook stub). The corpus is persisted partitionBy(cell)
  // under the trained assignment, the probe fan-out is the same
  // nearestCells ladder as e7, and the probe runs through ivfLakeTopK:
  // one static literal cell filter prunes the scan, probe cells and
  // vectors arrive broadcast, and the exact re-score happens inside
  // the pruned scan — no corpus fetch join (e7's cosineOf re-score is
  // a plain equi-join against the full vector relation: fine at
  // fixture scale where the candidate side broadcasts, corpus-shuffled
  // at width — the round-19 LSH finding's IVF sibling, priced in
  // SCALE.md's round-20 trained-tier run). Candidates (assigned cell
  // ∩ probed cells, self excluded) and ranking arithmetic are
  // identical to e7, so the recall output grades against e7's oracle
  // verbatim.
  private val qE7b = Q("e7b_trained_ivf_lake",
    (s, d) => {
      val q = embQ(s, d)
      val cents = kmCents(s, d)
      val lake = Materialize.partitionedTable(s, d, "trained_ivf_lake",
        Seq("cell"))(
        graft.ops.Kmeans.assign(q, cents)
          .select(col("vec_id"), col("q"), col("sq"), col("cell")))
      val probeCells = graft.ops.Kmeans
        .nearestCells(q.where(col("vec_id") < 5), "vec_id", cents,
          KmNprobe)
        .select(col("vec_id").as("qid"), col("cell"))
      val probesV = q.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qa"),
          col("sq").as("qsq"))
      recallOf(e1TopT(s, d),
        Similarity.ivfLakeTopK(lake, probesV, probeCells, 3))
    },
    qE7.oracle)

  // e11b: e11's IVF-PQ composition in its production SERVING layout —
  // the lake twin (the e2b/e4b pattern, round 20). Both persisted
  // relations are cell-partitioned: the PQ code table (what the probe
  // scores from — codes-sized AND cell-pruned) and the full-vector
  // table (what the top-PqRerank re-rank fetches from — same pruned
  // cells, since every ADC candidate lives in a probed cell by
  // construction). One static literal cell filter derived driver-side
  // (ivfLakeTopK's convention — runtime DPP measured a no-op in this
  // shape at width, round 19) prunes every scan in the probe; the LUT,
  // probe cells, probe vectors, and rerank survivors all arrive
  // broadcast, so nothing corpus-sized ever shuffles. Same ranking
  // arithmetic as e11 end to end — graded against e11's oracle
  // verbatim.
  private val qE11b = Q("e11b_ivfpq_lake",
    (s, d) => {
      val q = embQ(s, d)
      val cents = kmCents(s, d)
      def assigned = graft.ops.Kmeans.assign(q, cents)
      val codesLake = Materialize.partitionedTable(s, d,
        "ivfpq_codes_lake", Seq("cell"))(
        pqCodesT(s, d).select(col("vec_id"), col("sub"), col("code"))
          .join(assigned.select(col("vec_id"), col("cell")),
            Seq("vec_id")))
      val vecLake = Materialize.partitionedTable(s, d,
        "ivfpq_vec_lake", Seq("cell"))(
        assigned.select(col("vec_id"), col("q"), col("sq"), col("cell")))
      val probeCells = graft.ops.Kmeans
        .nearestCells(q.where(col("vec_id") < 5), "vec_id", cents,
          KmNprobe)
        .select(col("vec_id").as("qid"), col("cell"))
      val probesV = q.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("q").as("qa"),
          col("sq").as("qsq"))
      recallOf(e1TopT(s, d),
        Similarity.ivfPqTopK(codesLake, vecLake, pqLut(s, d),
          probeCells, probesV, PqRerank, 3))
    },
    qE11.oracle)

  val all: Seq[Q] =
    Seq(qD1, qD2, qD2b, qD3, qD4, qD5, qD6, qD7, qD8, qD8b, qD9, qW22,
      qT1, qT2, qT3, qT4, qT5, qT6, qT7, qT8, qT9, qT10,
      qE1, qE2, qE2b, qE3, qE4, qE4b, qE5, qE6, qE7, qE7b, qE8, qE9,
      qE10, qE11, qE11b,
      qM1, qM2, qM3, qM4, qC1)
}
