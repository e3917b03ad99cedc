package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Catalog, SparkEntry}
import graft.ops.Corr
import graft.ops.Exact.davg
import graft.sources.Sinks

/** Pipeline-level queries: the flagship session-windowed correlation
  * export (E1/W3), the partitioned CSV sink round-trip (S4/S6/S7), and
  * the graph-construction operators (E4/F13/P11/S8).
  */
object PipelineQueries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.load(s, dir, name)

  private val open930 = SparkEntry.sec("2024-01-02T09:30:00")
  private val close1600 = SparkEntry.sec("2024-01-02T16:00:00")

  // E1 (flagship pipeline as one declarative plan): market-session
  // resample+ffill for one trading day, 2h tumbling windows anchored at
  // the 09:30 open with the last window clamped to the 16:00 close
  // (correlation_matrix_exporter.py:146-152), correlation matrix per
  // window. The window is the one-pass aggregate's group key, so every
  // window's matrix comes from one co-moment aggregate over one panel
  // shuffle. The per-window square-CSV export of the same matrices is
  // pipeline.Flagship.runWideAtWidth (e1b's plan, tested in FlagshipSpec).
  // Envelope: a non-finite value or |x| > ~9×10⁹ throws (the one-pass
  // contract, CorrMatrixAgg).
  private val qE1F = Q("e1_flagship",
    (s, d) => {
      val winStart = expr(s"$open930 + ((bucket - $open930) div 7200) * 7200")
      val (users, panel) = Corr.widePanel(s, d, 8, open930, close1600, 300)
      Corr.cellRows(Corr.onePass(panel, users, Some(winStart.as("win_start"))),
          users, col("win_start"))
        .select(col("win_start"),
          least(col("win_start") + 7200, lit(close1600)).as("win_end"),
          col("i"), col("j"), round(col("rho"), 6).as("rho"))
        // linear panel → UDAF → explode chain: nothing to cache
        .transform(Q.sortedOnce(_, "win_start", "i", "j"))
    },
    Some(SparkEntry.ffillSqlCte(8, open930, close1600, 300) +
      s""" SELECT $open930 + ((a.bucket - $open930)//7200)*7200 AS win_start,
          least($open930 + ((a.bucket - $open930)//7200)*7200 + 7200,
                $close1600) AS win_end,
          a.user_id AS i, b.user_id AS j,
          round(corr(a.price, b.price), 6) AS rho
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2, 3, 4 ORDER BY win_start, i, j"""))

  // E1 at the reference's REAL width — the production shape of the
  // whole flagship job: per-window correlation matrices over every
  // fixture user (k=150 at sf0.01; k=500 of sf0.1's 1,500 — the S&P-500
  // universe width the reference README describes; note the reference
  // code itself caps the per-day universe to 3 symbols as a debug
  // measure, correlation_matrix_exporter.py:142,188). The
  // one-pass co-moment UDAF keyed BY WINDOW computes every window's
  // full matrix from a single resample shuffle: per window the state is
  // one ~6k²-long buffer (co-moments, not data, cross the
  // merge — ~12 MB at k=500), where a bucket self-join would shuffle
  // windows·buckets·k²/2 rows. Daily windows over two days; every
  // undefined (NaN) pair is graded too.
  //
  // Graded at FULL double precision: the aggregate's co-moments are
  // exact 128-bit integers, so the merge is bit-for-bit
  // order-independent and the rho doubles come from one deterministic
  // finish chain the HUGEINT oracle below reproduces bit-identically —
  // which is why there is NO round() on either side. A double-state
  // (Chan-merge) form of this query once flaked permanently at sf0.1:
  // one cell's exact rho is 31/32 = 0.96875, a precise HALF_UP boundary
  // at 4 dp, and BOTH engines' order-sensitive double accumulations
  // landed ±1 ulp around it run to run (SCALE.md's r12/r15 analysis).
  // Exact integer co-moments on both sides remove the rounding step —
  // and with it the entire boundary class, not just the known cell.
  private val qE1b = Q("e1b_flagship_wide",
    (s, d) => {
      import s.implicits._
      val jan1 = SparkEntry.jan1
      val jan3 = SparkEntry.jan3
      val winSec = 86400L
      val (users, panel) = Corr.widePanel(s, d, 500, jan1, jan3, 600)
      // Partial-buffer bound: each partition holds windows×~12 MB of
      // integer co-moment state, so uncoalesced 32 partitions would
      // serialize ~770 MB into the merge — but the merge is pure 128-bit
      // adds (no divides), so a handful of extra partials is near-free
      // while the O(k²·buckets) REDUCE loop parallelizes with
      // partitions: buckets/64 (4 partitions here, ~100 MB of transient
      // buffers), not the other one-pass tiers' buckets/256 (1
      // partition at this fixture — the whole 36M-pair-slot reduce on
      // one thread). The per-CELL finish is
      // PearsonArrays.finishRhoSlots' allocation-free 128-bit path (the
      // BigInteger chain it replaced measured ~0.4 s of this query,
      // SCALE.md).
      val nBuckets = (jan3 - jan1) / 600
      val cells = Corr.onePass(panel, users,
        Some(((col("bucket") - jan1) / winSec).cast("long").as("win")),
        Some(graft.ops.Relational.boundedPartitions(nBuckets, 64)))
      Corr.cellRows(cells, users, col("win"))
        .select("win", "i", "j", "rho")
        // sortedOnce: linear panel→UDAF→explode child, no reuse (Q.scala)
        .transform(Q.sortedOnce(_, "win", "i", "j"))
    },
    // the oracle mirrors the exact integer co-moments: per-value
    // quantization round(price·1e6) as BIGINT (the kernel family's
    // idiom, same as a3d's oracle), HUGEINT (int128) sums — exact at
    // any accumulation order — and the identical IEEE finish
    // cov/sqrt(vx·vy). CAST(v AS VARCHAR) AS DOUBLE is the correctly
    // rounded integer→double conversion (DuckDB's direct HUGEINT cast
    // composes two roundings), matching BigDecimal.doubleValue on the
    // Spark side bit for bit.
    Some(SparkEntry.ffillSqlCte(500, SparkEntry.jan1, SparkEntry.jan3,
      600) + s""",
      epairs AS (
        SELECT (a.bucket - ${SparkEntry.jan1})//86400 AS win,
          a.user_id AS i, b.user_id AS j,
          CASE WHEN a.price IS NOT NULL AND b.price IS NOT NULL
            THEN CAST(CAST(round(a.price * 1000000) AS BIGINT) AS HUGEINT)
          END AS x,
          CASE WHEN a.price IS NOT NULL AND b.price IS NOT NULL
            THEN CAST(CAST(round(b.price * 1000000) AS BIGINT) AS HUGEINT)
          END AS y
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id),
      em AS (
        SELECT win, i, j, count(x) AS n, sum(x) AS sx, sum(y) AS sy,
          sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        FROM epairs GROUP BY 1, 2, 3)
      SELECT win, i, j,
        CASE WHEN n >= 2 AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
          THEN CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE)
               / sqrt(CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(n*syy - sy*sy AS VARCHAR) AS DOUBLE))
        END AS rho
      FROM em ORDER BY win, i, j"""))

  // W3 with the reference's true session semantics: 09:30-anchored
  // tumbling 4h windows, per calendar day, clamped to 16:00 — unlike the
  // epoch-anchored w3_tumbling_4h. Pure integer arithmetic on epoch
  // seconds; one hash aggregate.
  private val qW3b = Q("w3b_session_windows",
    (s, d) => T(s, d, "events")
      .where(col("ts") >= SparkEntry.tsLit(SparkEntry.jan1) &&
             col("ts") < SparkEntry.tsLit(SparkEntry.jan31))
      .withColumn("u", unix_timestamp(col("ts")))
      .withColumn("sod", expr("u % 86400"))
      .where(col("sod") >= 34200 && col("sod") < 57600)
      .withColumn("day", expr("u div 86400 * 86400"))
      .withColumn("win_start",
        expr("day + 34200 + ((sod - 34200) div 14400) * 14400"))
      .withColumn("win_end",
        least(col("win_start") + 14400, col("day") + 57600))
      .groupBy("day", "win_start", "win_end")
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("win_start"),
    Some(s"""SELECT day, win_start,
        least(win_start + 14400, day + 57600) AS win_end,
        count(*) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM (
        SELECT value, day, day + 34200 + ((sod - 34200)//14400)*14400
            AS win_start
        FROM (
          SELECT value, ${SparkEntry.EP} % 86400 AS sod,
            ${SparkEntry.EP}//86400*86400 AS day
          FROM events
          WHERE ts >= ${SparkEntry.tsSql(SparkEntry.jan1)}
            AND ts < ${SparkEntry.tsSql(SparkEntry.jan31)})
        WHERE sod >= 34200 AND sod < 57600)
      GROUP BY day, win_start ORDER BY win_start"""))

  // S7+S4: daily aggregate -> year/month-partitioned gzip CSV write ->
  // schema'd read-back (partition columns recovered from the directory
  // layout). The oracle computes the same aggregate straight from the
  // source, so a green row proves the write+read path loses nothing
  // (dates, longs, and round-tripped doubles all survive).
  private val qS7 = Q("s7_csv_roundtrip",
    (s, d) => {
      val daily = T(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .withColumn("year", year(col("day")))
        .withColumn("month", month(col("day")))
      // fixed scratch path + overwrite: re-runs replace the files in
      // place instead of leaking one temp dir per execution
      val out = graft.sources.Materialize.path(d, "s7_csv")
      Sinks.writePartitionedGzipCsv(daily, out)
      val schema = StructType(Seq(
        StructField("day", DateType), StructField("n", LongType),
        StructField("avg_value", DoubleType),
        StructField("year", IntegerType), StructField("month", IntegerType)))
      Sinks.readCsv(s, out, schema)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("year"), col("month"), col("n"), col("avg_value"))
        .orderBy("day")
    },
    Some("""SELECT strftime(dy, '%Y-%m-%d') AS day,
        CAST(year(dy) AS INT) AS year, CAST(month(dy) AS INT) AS month,
        n, avg_value
      FROM (
        SELECT CAST(ts AS DATE) AS dy, count(*) AS n,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS avg_value
        FROM events GROUP BY 1)
      ORDER BY day"""))

  // S6 wide layout, graded end to end: the session correlation matrix
  // goes out through the reference's ACTUAL file layout — a square CSV
  // with ids as header row and index column and a unit diagonal
  // (pandas `data.corr().to_csv(fname)`, exporter:163,227-235) — is
  // read back from the CSV text, unpivoted to the long pair form, and
  // hash-compared against the oracle computing the same correlations
  // straight from the ticks. A green row proves the square layout
  // loses nothing: header/index alignment, cell order, and the 6-dp
  // double text round-trip are all on the graded path. Envelope: the
  // one-pass contract (a non-finite value or |x| > ~9×10⁹ throws).
  private val qS6w = Q("s6_wide_corr_roundtrip",
    (s, d) => {
      val (users, panel) = Corr.widePanel(s, d, 8, open930, close1600, 300)
      // the one-pass aggregate's single cells row is the square writer's
      // input; rho rounds to the graded 6 dp inside the array
      val cells = Corr.onePass(panel, users)
        .select(transform(col("cells"), c =>
          struct(c.getField("i").as("i"), c.getField("j").as("j"),
            round(c.getField("rho"), 6).as("rho"))).as("cells"))
      val out = graft.sources.Materialize.path(d, "s6_wide_matrix")
      Sinks.writeWideMatrixCsvDense(cells, users, out)
      // schema'd read from the known column order (no inference pass;
      // empty-safe) — the first (pandas-style empty-named) index column
      // maps positionally to row_id
      Sinks.readWideMatrixCsvLong(s, out, users)
        .orderBy("i", "j")
    },
    Some(SparkEntry.ffillSqlCte(8, open930, close1600, 300) +
      """ SELECT a.user_id AS i, b.user_id AS j,
          round(corr(a.price, b.price), 6) AS rho
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2 ORDER BY i, j"""))

  // S6 at the reference's real matrix width: the exporter's artifact is
  // a ~500-column square CSV (README.md:43), not the k=8 toy above. The
  // full fixture panel (k=150 at sf0.01; k=500 of sf0.1's 1,500 — the
  // reference's true width) flows through the one-pass co-moment UDAF —
  // never a per-bucket k² pair join — out to the square CSV (k+1
  // columns, ids as header + index, unit diagonal, EMPTY cells for
  // undefined pairs: 1,636 of the 11,175 pairs at sf0.01 have <2
  // complete observations), back in through the CSV reader, and is
  // unpivoted and hash-graded against the oracle correlating the raw
  // ticks — so header/index alignment, cell order, the 4-dp double text
  // round-trip AND the empty-cell (NaN) fidelity are all on the graded
  // path at real width.
  private val qS6b = Q("s6b_wide_corr_matrix",
    (s, d) => {
      val jan1 = SparkEntry.jan1
      val jan3 = SparkEntry.jan3
      val (users, panel) = Corr.widePanel(s, d, 500, jan1, jan3, 600)
      val nBuckets = (jan3 - jan1) / 600
      // the UDAF's single cells row goes STRAIGHT to the square-CSV
      // writer (ids are already known = users, i/j stay indexes);
      // rounding happens here so the file carries the graded 4-dp text
      val cells = Corr.onePass(panel, users, maxParts =
          Some(graft.ops.Relational.boundedPartitions(nBuckets, 256)))
        .select(transform(col("cells"), c =>
          struct(c.getField("i").as("i"), c.getField("j").as("j"),
            round(c.getField("rho"), 4).as("rho"))).as("cells"))
      val out = graft.sources.Materialize.path(d, "s6b_wide_matrix")
      Sinks.writeWideMatrixCsvDense(cells, users, out)
      // schema'd read (see s6): at k+1 (hundreds of) columns the
      // inference pass costs a full extra scan of the CSV; the known id
      // order IS the schema (empty-safe). sortedOnce, not sortedSmall:
      // the read-back child is linear and consumed exactly once.
      Sinks.readWideMatrixCsvLong(s, out, users)
        .transform(Q.sortedOnce(_, "i", "j"))
    },
    Some(SparkEntry.ffillSqlCte(500, SparkEntry.jan1, SparkEntry.jan3,
      600) +
      """ SELECT a.user_id AS i, b.user_id AS j,
          round(corr(a.price, b.price), 4) AS rho
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2 ORDER BY i, j"""))

  // S14: bucketed-lake co-located join — the layout tier the 100 TB
  // posture keeps promising, made concrete and plan-guarded. Two
  // tables go to the lake bucketed by the SAME key with the SAME
  // bucket count (`Materialize.bucketedTable`: bucketBy+sortBy through
  // the session catalog): the tick fact slice and the per-user profile
  // aggregate, both by user_id into 8 buckets. The join of the two and
  // the rollup after it then plan with NO shuffle exchange anywhere —
  // the on-disk layout IS the hash partitioning, which is exactly how
  // a cluster avoids re-shuffling a 100 TB fact table for every
  // enrichment join (PlanGuardSpec asserts the no-exchange plan). The
  // graded result — per user, how many of their events beat their own
  // mean — needs the join row-level, so the layout is load-bearing,
  // not decorative; the oracle recomputes it from the raw table.
  private val qS14 = Q("s14_bucketed_join",
    (s, d) => {
      val ev = graft.sources.Materialize.bucketedTable(s, d,
        "events_by_user", 8, Seq("user_id")) {
        T(s, d, "events").select("user_id", "event_id", "value")
      }
      val profiles = graft.sources.Materialize.bucketedTable(s, d,
        "user_profiles", 8, Seq("user_id")) {
        T(s, d, "events").groupBy("user_id")
          .agg(davg(col("value")).as("u_avg"))
      }
      ev.join(profiles, Seq("user_id"))
        .where(col("value") > col("u_avg"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_above"),
          round(max(col("value")), 6).as("max_value"))
        .orderBy("user_id")
    },
    Some("""WITH u AS (
        SELECT user_id,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS u_avg
        FROM events GROUP BY 1)
      SELECT e.user_id, count(*) AS n_above,
        round(max(e.value), 6) AS max_value
      FROM events e JOIN u USING (user_id)
      WHERE e.value > u.u_avg
      GROUP BY 1 ORDER BY 1"""))

  // S15: the bucketed lake tier on the FLAGSHIP path — s14's layout
  // story applied to the panel the wide-corr chain actually consumes.
  // The resampled+ffilled panel (a3c's exact geometry: 500 users,
  // jan1–jan3, 600 s grid) is written ONCE to the lake bucketed by
  // `bucket` (bucketBy+sortBy through the session catalog), and the
  // whole wide-corr chain re-reads it from there: the per-bucket
  // vector assembly — groupBy(bucket), the chain's one data-sized
  // pre-aggregation exchange — plans with NO shuffle at all, because
  // the on-disk layout IS hashpartitioning(bucket). What remains in
  // the plan is matrix-sized movement only: the co-moment UDAF's
  // final gather and the single-partition output sort. At 100 TB this
  // is the difference between re-shuffling the full panel for every
  // matrix rebuild and shuffling it exactly once at ingest
  // (PlanGuardSpec pins the zero-hash-exchange plan; the oracle is
  // a3c's verbatim, so the lake round-trip is hash-graded against the
  // in-memory chain's answer).
  private val qS15 = Q("s15_bucketed_panel",
    (s, d) => {
      val jan1 = SparkEntry.jan1
      val jan3 = SparkEntry.jan3
      val filled = graft.sources.Materialize.bucketedTable(s, d,
        "panel_by_bucket", 16, Seq("bucket")) {
        SparkEntry.resampled(s, d, 500, jan1, jan3, 600)
      }
      val users = SparkEntry.sortedUsers(filled)
      // The round-robin repartition's job is NOT update parallelism —
      // the coalesce(boundedPartitions(288, 256)) = 1 below runs
      // the UDAF update single-task ON PURPOSE (A/B'd: maxParts=32
      // parallelizes the 36M-pair update but merges 32 × ~10 MB
      // co-moment buffers, 3.3 s vs 1.8 s; same trade the r11
      // partition sweep found for a3c). Without an exchange in
      // between, though, coalesce(1) would swallow the SCAN and
      // per-bucket assembly into that one task too (Q.sortedSmall's
      // scaladoc documents the same coalesce trap) — measured 3.8 s.
      // The repartition is the stage barrier that keeps the data-sized
      // part parallel, and it moves only the ASSEMBLED matrix stream
      // (288 k-wide vector rows, ~1 MB), not the scanned ticks.
      val panel = SparkEntry.panelOf(filled, users)
        .repartition(s.sparkContext.defaultParallelism)
      Corr.cellRows(Corr.onePass(panel, users, maxParts = Some(
          graft.ops.Relational.boundedPartitions((jan3 - jan1) / 600, 256))),
          users)
        .select(col("i"), col("j"), round(col("rho"), 4).as("rho"))
        .transform(Q.sortedOnce(_, "i", "j"))
    },
    Some(SparkEntry.ffillSqlCte(500, SparkEntry.jan1, SparkEntry.jan3,
      600) + SparkEntry.corrSqlTail(4)))

  // S13/ORC: columnar-format roundtrip beyond parquet — ORC is the
  // other lake format Spark reads natively (same vectorized scan,
  // pushdown, pruning), and mixed parquet+ORC lakes are common. A slice
  // of orders goes out through the ORC writer and back through the
  // schema'd read; grading the read-back against the ORIGINAL parquet
  // table proves the write+read lossless across long, string, double
  // and timestamp columns (the timestamp graded via its formatted
  // value, the same convention as f4/f5).
  private val qS13 = Q("s13_orc_roundtrip",
    (s, d) => {
      val src = T(s, d, "orders").where(col("o_orderkey") % 97 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate")
      val out = graft.sources.Materialize.path(d, "s13_orc")
      Sinks.writeOrc(src, out)
      Sinks.readOrc(s, out, src.schema)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
            .as("o_date"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_date
      FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey"""))

  // S9/JSONL: gzip JSONL round-trip — the interchange format LLM corpora
  // ship in (one JSON doc per line). A slice of `documents` goes out
  // through the JSONL sink and back through the schema'd read (no
  // inference pass); the read-back rows are graded against the original
  // table, with the text compared by md5 so the grade covers the full
  // serialize→parse fidelity of the content column.
  private val qS9 = Q("s9_jsonl_roundtrip",
    (s, d) => {
      val docs = T(s, d, "documents")
        .where(col("doc_id") % 10 === 0)
      val out = graft.sources.Materialize.path(d, "s9_jsonl")
      Sinks.writeJsonl(docs, out)
      Sinks.readJsonl(s, out, Catalog.schemas("documents"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
      FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id"""))

  // S12: small-file compaction roundtrip — the lake-maintenance op
  // (Sinks.compactParquet, CompactSpec asserts the file-count
  // collapse) graded for LOSSLESSNESS: a deliberately fragmented write
  // (16 part files for a few hundred rows — the micro-batch accretion
  // shape) is compacted in place and read back; the oracle recomputes
  // the same rows from the source table, so a row lost, duplicated, or
  // corrupted by the rewrite-and-swap fails the hash. Setup writes are
  // memoized per JVM; the compaction itself runs once (idempotent on
  // the compacted state).
  private val qS12 = Q("s12_compact_roundtrip",
    (s, d) => {
      val out = graft.sources.Materialize.value(d, "s12_compacted") {
        val p = graft.sources.Materialize.path(d, "s12_compact")
        T(s, d, "documents").where(col("doc_id") % 7 === 0)
          .select("doc_id", "lang", "source", "n_chars")
          .repartition(16)
          .write.mode("overwrite").parquet(p)
        Sinks.compactParquet(s, p, 64L * 1024 * 1024)
        p
      }
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars
      FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id"""))

  // S11: schema-evolution read — two writer generations of the same
  // table (v2 added a column) merged into one scan via
  // [[Sinks.readParquetMerged]]; v1 rows surface the new column as NULL.
  // The oracle rebuilds the same union from the source table, so the
  // null-fill semantics and the merged column set are both graded.
  private val qS11 = Q("s11_schema_merge",
    (s, d) => {
      // the two writer generations are fixture state, not the graded
      // operator (the MERGED READ is) — materialized once per JVM at a
      // fixed path, so repeated Verify/Bench executions time the read,
      // not the setup writes, and leak nothing
      val out = graft.sources.Materialize.value(d, "s11_generations") {
        val docs = T(s, d, "documents")
        val base = graft.sources.Materialize.path(d, "s11_generations")
        docs.where(col("doc_id") % 10 === 0)
          .select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").parquet(base + "/v1")
        docs.where(col("doc_id") % 10 === 5)
          .select("doc_id", "lang", "n_chars", "source")
          .write.mode("overwrite").parquet(base + "/v2")
        base
      }
      Sinks.readParquetMerged(s, out + "/v1", out + "/v2")
        .select("doc_id", "lang", "n_chars", "source")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars,
        CASE WHEN doc_id % 10 = 5 THEN source END AS source
      FROM documents WHERE doc_id % 10 IN (0, 5) ORDER BY doc_id"""))

  // E4/F13/P11: graph edge construction — correlation matrix ->
  // threshold rho > 0 -> label->index vertex join (row_number over the
  // sorted vertex dimension) -> directed edge list both ways
  // (pyg_graphs.py:90-94: edges from adj_df > 0, tickers.index(src)).
  // The pairs come from the one-pass co-moment aggregate (k=10 here;
  // a non-finite value or |x| > ~9×10⁹ throws); the same edge list at
  // the reference's real width goes through the tier selector — qG4.
  private val qG1 = Q("g1_edges",
    (s, d) => {
      val (users, panel) = Corr.widePanel(s, d, 10,
        SparkEntry.jan1, SparkEntry.jan8, 300)
      val pairs = Corr.cellRows(Corr.onePass(panel, users), users)
        .select(col("i").as("ui"), col("j").as("uj"),
          round(col("rho"), 6).as("weight"))
        .where(col("weight") > 0)
      // vid lookup built from the collected series universe (the g3/g4
      // idiom — vertex ids are dimension metadata, same bound as
      // sortedUsers): the distributed-cumsum form (globalRowIds) paid a
      // range-repartition sampling pass + cache + triangular self-join
      // for a k-row relation; the F13 label→index join below is
      // unchanged — pairs still broadcast-join the lookup. globalRowIds
      // stays the data-sized form (c7's epoch shuffle). Measured at
      // sf0.1: 2.03 → 1.36 s median.
      import s.implicits._
      val v = users.zipWithIndex
        .map { case (u, i) => (u, i.toLong) }.toDF("user_id", "vid")
      // cached: the union consumes e in BOTH edge directions — uncached,
      // the whole corr + vertex-join tree runs twice
      val e = graft.ops.Time.registerCached(pairs
        .join(broadcast(v.select(col("user_id").as("ui"),
          col("vid").as("src"))), Seq("ui"))
        .join(broadcast(v.select(col("user_id").as("uj"),
          col("vid").as("dst"))), Seq("uj"))
        .cache())
      e.select(col("src"), col("dst"), col("weight"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst"),
          col("weight")))
        .transform(Q.sortedSmall(_, "src", "dst"))
    },
    Some(SparkEntry.ffillSqlCte(10, SparkEntry.jan1, SparkEntry.jan8, 300) +
      """, pairs AS (
        SELECT a.user_id AS ui, b.user_id AS uj,
          round(corr(a.price, b.price), 6) AS weight
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2 HAVING round(corr(a.price, b.price), 6) > 0),
      v AS (
        SELECT user_id, row_number() OVER (ORDER BY user_id) - 1 AS vid
        FROM (SELECT DISTINCT user_id FROM filled))
      SELECT vs.vid AS src, vd.vid AS dst, weight
      FROM pairs JOIN v vs ON vs.user_id = ui JOIN v vd ON vd.user_id = uj
      UNION ALL
      SELECT vd.vid AS src, vs.vid AS dst, weight
      FROM pairs JOIN v vs ON vs.user_id = ui JOIN v vd ON vd.user_id = uj
      ORDER BY src, dst"""))

  // S8/E4: graph node-feature assembly — per-vertex feature vector (mean
  // value per event type, missing -> 0.0) as a real ArrayType column plus
  // the J6-style up/down label (pyg_graphs.py:180,194-201). The array is
  // serialized to fixed %.6f CSV for the oracle hash (both engines format
  // 6-dp-rounded doubles identically); the array column itself is the
  // engine's graph-sample sink schema.
  private val qG2 = Q("g2_features",
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = T(s, d, "events")
        .where(col("user_id") < 10 &&
          col("ts") >= SparkEntry.tsLit(SparkEntry.jan1) &&
          col("ts") < SparkEntry.tsLit(SparkEntry.jan8))
      val byType = ev.groupBy("user_id")
        .pivot("event_type", types).agg(davg(col("value")))
      val halves = ev.groupBy("user_id").agg(
        davg(when(col("ts") < SparkEntry.tsLit(SparkEntry.jan5),
          col("value"))).as("h1"),
        davg(when(col("ts") >= SparkEntry.tsLit(SparkEntry.jan5),
          col("value"))).as("h2"))
      graft.ops.Relational.globalRowIds(
          byType.join(halves, Seq("user_id"))
            .withColumn("features",
              array(types.map(t => coalesce(col(t), lit(0.0))): _*)),
          "user_id", "vid")
        .select(col("vid"), col("user_id"),
          array_join(transform(col("features"),
            x => format_string("%.6f", x)), ",").as("features_csv"),
          (coalesce(col("h2"), lit(0.0)) > coalesce(col("h1"), lit(0.0)))
            .cast("int").as("label"))
        .transform(Q.sortedSmall(_, "vid"))
    },
    Some {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val f = (t: String) =>
        s"""coalesce(round(CAST(sum(CASE WHEN event_type = '$t'
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           / count(CASE WHEN event_type = '$t' THEN value END), 6), 0.0)"""
      val half = (cmp: String) =>
        s"""round(CAST(sum(CASE WHEN ts $cmp ${SparkEntry.tsSql(
          SparkEntry.jan5)}
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           / count(CASE WHEN ts $cmp ${SparkEntry.tsSql(SparkEntry.jan5)}
             THEN value END), 6)"""
      s"""WITH ev AS (
          SELECT user_id, event_type, value, ts FROM events
          WHERE user_id < 10
            AND ts >= ${SparkEntry.tsSql(SparkEntry.jan1)}
            AND ts < ${SparkEntry.tsSql(SparkEntry.jan8)}),
        agg AS (
          SELECT user_id,
            ${types.map(t => f(t) + s" AS f_$t").mkString(",\n            ")},
            ${half("<")} AS h1, ${half(">=")} AS h2
          FROM ev GROUP BY user_id)
        SELECT row_number() OVER (ORDER BY user_id) - 1 AS vid, user_id,
          concat_ws(',', ${types.map(t => s"printf('%.6f', f_$t)")
            .mkString(", ")}) AS features_csv,
          CAST(coalesce(h2, 0.0) > coalesce(h1, 0.0) AS INT) AS label
        FROM agg ORDER BY vid"""
    })

  // S8/E4 composed: the reference's per-day bundled graph sample —
  // pyg_graphs.py:197-206 saves ONE Data(x, edge_index, edge_attr, y)
  // object per period; this emits the same bundle as one relational row
  // per 7-day window: vertex features x and labels y in vid order, the
  // directed edge list (src/dst/weight) in (src, dst) order, all
  // serialized to fixed %.6f CSV so the bundle is hash-graded
  // end to end. One resample shuffle feeds every window's edges (the
  // window is a derived column, e1_flagship's trick); features/labels
  // are one aggregate over the raw ticks; the per-window ordered
  // serialization groups by window — state never exceeds one bundle
  // (vertices + edges of one sample), the same bound as the
  // reference's in-memory Data object.
  private val qG3 = Q("g3_graph_samples",
    (s, d) => {
      val jan1 = SparkEntry.jan1
      val jan15 = SparkEntry.sec("2024-01-15T00:00:00")
      val winSec = 7L * 86400L
      val types = Seq("click", "error", "purchase", "signup", "view")
      // per-window edges from the window-keyed one-pass co-moment UDAF
      // (g4's tier): ONE resample shuffle feeds a k-wide panel row per
      // bucket and co-moment state crosses the merge — never a
      // per-bucket k² pair self-join. The UDAF's 0-based index into the
      // sorted vertex dimension IS the vid (tickers.index(src),
      // pyg_graphs.py:90-94), so the label→index join costs nothing.
      val (users, panel) = Corr.widePanel(s, d, 10, jan1, jan15, 300)
      val cells = Corr.onePass(panel, users,
        Some(expr(s"(bucket - $jan1) div $winSec").as("win")))
      val e = graft.ops.Time.registerCached(
        Corr.cellRows(cells, users, col("win"))
          .select(col("win"), col("ii").cast("long").as("src"),
            col("jj").cast("long").as("dst"),
            round(col("rho"), 6).as("w"))
          .where(col("w") > 0)
          .cache())
      import s.implicits._
      val v = users.zipWithIndex
        .map { case (u, i) => (u, i.toLong) }.toDF("user_id", "vid")
      val dir = e.select(col("win"), col("src"), col("dst"), col("w"))
        .unionByName(e.select(col("win"), col("dst").as("src"),
          col("src").as("dst"), col("w")))
      def eSorted = array_sort(collect_list(struct(col("src"), col("dst"),
        col("w"))))
      val edges = dir.groupBy("win").agg(
        count(lit(1)).as("n_edges"),
        array_join(transform(eSorted,
          x => x.getField("src").cast("string")), ",").as("edge_src"),
        array_join(transform(eSorted,
          x => x.getField("dst").cast("string")), ",").as("edge_dst"),
        array_join(transform(eSorted,
          x => format_string("%.6f", x.getField("w"))), ",").as("edge_w"))
      // per-window vertex features (mean value per event type) + the
      // half-vs-half direction label, over the FULL window × vid frame
      // so a vertex with no events in a window still occupies its slot
      val ev = T(s, d, "events")
        .where(col("user_id") < 10 &&
          col("ts") >= SparkEntry.tsLit(jan1) &&
          col("ts") < SparkEntry.tsLit(jan15))
        .withColumn("u", unix_timestamp(col("ts")))
        .withColumn("win", expr(s"(u - $jan1) div $winSec"))
        .withColumn("mid", expr(s"$jan1 + win * $winSec + ${winSec / 2}"))
      val byType = ev.groupBy("win", "user_id")
        .pivot("event_type", types).agg(davg(col("value")))
      val halves = ev.groupBy("win", "user_id").agg(
        davg(when(col("u") < col("mid"), col("value"))).as("h1"),
        davg(when(col("u") >= col("mid"), col("value"))).as("h2"))
      val frame = s.range(0, (jan15 - jan1) / winSec)
        .select(col("id").as("win")).crossJoin(broadcast(v))
      val feat = frame
        .join(byType.join(halves, Seq("win", "user_id")),
          Seq("win", "user_id"), "left")
        .select(col("win"), col("vid"),
          array_join(transform(
            array(types.map(t => coalesce(col(t), lit(0.0))): _*),
            x => format_string("%.6f", x)), ",").as("fcsv"),
          (coalesce(col("h2"), lit(0.0)) > coalesce(col("h1"), lit(0.0)))
            .cast("int").as("y"))
      def vSorted = array_sort(collect_list(struct(col("vid"),
        col("fcsv"), col("y"))))
      val xs = feat.groupBy("win").agg(
        count(lit(1)).as("n_vertices"),
        array_join(transform(vSorted, x => x.getField("fcsv")), ";")
          .as("x_csv"),
        array_join(transform(vSorted,
          x => x.getField("y").cast("string")), ",").as("y_csv"))
      xs.join(edges, Seq("win"))
        .select("win", "n_vertices", "x_csv", "y_csv", "n_edges",
          "edge_src", "edge_dst", "edge_w")
        .orderBy("win")
    },
    Some {
      val jan1 = SparkEntry.jan1
      val jan15 = SparkEntry.sec("2024-01-15T00:00:00")
      val winSec = 7L * 86400L
      val types = Seq("click", "error", "purchase", "signup", "view")
      val f = (t: String) =>
        s"""round(CAST(sum(CASE WHEN event_type = '$t'
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           / count(CASE WHEN event_type = '$t' THEN value END), 6)"""
      val half = (cmp: String) =>
        s"""round(CAST(sum(CASE WHEN u $cmp mid
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           / count(CASE WHEN u $cmp mid THEN value END), 6)"""
      SparkEntry.ffillSqlCte(10, jan1, jan15, 300) + s""",
        v AS (
          SELECT user_id, row_number() OVER (ORDER BY user_id) - 1 AS vid
          FROM (SELECT DISTINCT user_id FROM filled)),
        pairs AS (
          SELECT (a.bucket - $jan1)//$winSec AS win,
            a.user_id AS ui, b.user_id AS uj,
            round(corr(a.price, b.price), 6) AS w
          FROM filled a JOIN filled b
            ON a.bucket = b.bucket AND a.user_id < b.user_id
          GROUP BY 1, 2, 3 HAVING round(corr(a.price, b.price), 6) > 0),
        dir AS (
          SELECT win, vs.vid AS src, vd.vid AS dst, w
          FROM pairs JOIN v vs ON vs.user_id = ui
                     JOIN v vd ON vd.user_id = uj
          UNION ALL
          SELECT win, vd.vid, vs.vid, w
          FROM pairs JOIN v vs ON vs.user_id = ui
                     JOIN v vd ON vd.user_id = uj),
        edges AS (
          SELECT win, count(*) AS n_edges,
            string_agg(CAST(src AS VARCHAR), ',' ORDER BY src, dst)
              AS edge_src,
            string_agg(CAST(dst AS VARCHAR), ',' ORDER BY src, dst)
              AS edge_dst,
            string_agg(printf('%.6f', w), ',' ORDER BY src, dst)
              AS edge_w
          FROM dir GROUP BY win),
        ev AS (
          SELECT user_id, event_type, value, ${SparkEntry.EP} AS u,
            (${SparkEntry.EP} - $jan1)//$winSec AS win,
            $jan1 + ((${SparkEntry.EP} - $jan1)//$winSec) * $winSec
              + ${winSec / 2} AS mid
          FROM events
          WHERE user_id < 10 AND ts >= ${SparkEntry.tsSql(jan1)}
            AND ts < ${SparkEntry.tsSql(jan15)}),
        agg AS (
          SELECT win, user_id,
            ${types.map(t => f(t) + s" AS f_$t").mkString(",\n            ")},
            ${half("<")} AS h1, ${half(">=")} AS h2
          FROM ev GROUP BY win, user_id),
        wins AS (SELECT unnest(range(${(jan15 - jan1) / winSec})) AS win),
        feat AS (
          SELECT vt.win, vt.vid,
            concat_ws(',', ${types.map(t =>
              s"printf('%.6f', coalesce(f_$t, 0.0))").mkString(", ")})
              AS fcsv,
            CAST(coalesce(h2, 0.0) > coalesce(h1, 0.0) AS INT) AS y
          FROM (SELECT w.win, v.user_id, v.vid
                FROM wins w CROSS JOIN v) vt
          LEFT JOIN agg ON agg.win = vt.win AND agg.user_id = vt.user_id),
        xs AS (
          SELECT win, count(*) AS n_vertices,
            string_agg(fcsv, ';' ORDER BY vid) AS x_csv,
            string_agg(CAST(y AS VARCHAR), ',' ORDER BY vid) AS y_csv
          FROM feat GROUP BY win)
        SELECT win, n_vertices, x_csv, y_csv, n_edges,
          edge_src, edge_dst, edge_w
        FROM xs JOIN edges USING (win) ORDER BY win"""
    })

  // E4/F13/P11 at the reference's real panel width: pyg_graphs.py:90-94
  // builds its edge list over the full S&P universe (k≈500 tickers),
  // where g1's per-bucket pair self-join would shuffle buckets·k²/2 rows
  // before aggregating — the exact blowup the one-pass co-moment UDAF
  // exists to avoid. Here the edges come from that tier at every fixture
  // user (k=150 at sf0.01; k=500 at sf0.1): ONE resample shuffle feeds a
  // k-wide panel row per bucket, the aggregate moves ~6k² longs
  // of co-moment state (not data) across the merge, and the UDAF's
  // 0-based index into the sorted vertex dimension IS the vid (the
  // reference's tickers.index(src)), so the label→index join costs
  // nothing. 4-dp rounding for the same fp-boundary-density reason as
  // a3c. PlanGuardSpec asserts the plan shape: no bucket-keyed k² join.
  private val qG4 = Q("g4_wide_edges",
    (s, d) => {
      val jan1 = SparkEntry.jan1
      val jan3 = SparkEntry.jan3
      // the automatic tier selector: k ≤ 500 resolves to the one-pass
      // co-moment UDAF whose 0-based index IS the vid (the reference's
      // tickers.index(src)). roundThenFilter is deliberately None: this query
      // needs EVERY weight > 0 edge, which the pruned tier cannot
      // deliver (LSH recall at rho ≈ 0 is near zero) — past the
      // ceiling the selector must refuse loudly rather than silently
      // truncate the edge set
      val (_, edges) = Corr.panelRho(s, d, 500, jan1, jan3, 600)
      // both edge directions from ONE pass over the cells: each kept
      // pair explodes to its two orientations inline, so the old
      // cache + self-union (which scanned the edge set twice and
      // pinned it in the block store) disappears, and the linear
      // single-consumer chain takes sortedOnce
      val w = round(col("rho"), 4)
      edges.where(w > 0)
        .select(explode(array(
          struct(col("ii").cast("long").as("src"),
            col("jj").cast("long").as("dst"), w.as("weight")),
          struct(col("jj").cast("long").as("src"),
            col("ii").cast("long").as("dst"), w.as("weight")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          col("e.weight").as("weight"))
        .transform(Q.sortedOnce(_, "src", "dst"))
    },
    Some(SparkEntry.ffillSqlCte(500, SparkEntry.jan1, SparkEntry.jan3,
      600) + s""",
      pairs AS (
        SELECT a.user_id AS ui, b.user_id AS uj,
          round(corr(a.price, b.price), 4) AS w
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2 HAVING round(corr(a.price, b.price), 4) > 0),
      v AS (
        SELECT user_id, row_number() OVER (ORDER BY user_id) - 1 AS vid
        FROM (SELECT DISTINCT user_id FROM filled))
      SELECT vs.vid AS src, vd.vid AS dst, w AS weight
      FROM pairs JOIN v vs ON vs.user_id = ui JOIN v vd ON vd.user_id = uj
      UNION ALL
      SELECT vd.vid, vs.vid, w
      FROM pairs JOIN v vs ON vs.user_id = ui JOIN v vd ON vd.user_id = uj
      ORDER BY src, dst"""))

  // W4 with the reference's true business-day semantics: weekdays only,
  // indexed densely (so a Mon..Fri week is 5 consecutive indices
  // regardless of the weekend gap), chunked 5 business days at a time,
  // incomplete tail dropped (correlation_matrix_exporter.py:172-176).
  // The calendar-day variant stays as w4_multiday_chunks.
  private val qW4b = Q("w4b_business_chunks",
    (s, d) => {
      val ev = T(s, d, "events")
        .withColumn("day", expr("unix_timestamp(ts) div 86400"))
        .withColumn("dow", expr("(day + 3) % 7")) // 0=Mon; epoch day 0 was a Thursday(=3)
        .where(col("dow") =!= 5 && col("dow") =!= 6)
      // the business-day index is CALENDAR-dimension-sized (bounded by
      // the span's weekday count at any corpus scale), so it is
      // collected and indexed driver-side like a ticker universe — the
      // distributed-cumsum form paid a sampling pass + cache +
      // self-join for a handful of rows, and the chunk count became a
      // crossJoin'd scalar subquery instead of the literal it is.
      // globalRowIds remains the operator for data-sized orders (c7).
      // Measured at sf0.1: 0.92 → 0.49 s median.
      import s.implicits._
      val dayIds = ev.select("day").distinct().as[Long].collect().sorted
      val days = dayIds.toSeq.zipWithIndex
        .map { case (dy, i) => (dy, i.toLong) }.toDF("day", "bidx")
      val nc = dayIds.length / 5
      ev.join(broadcast(days), Seq("day"))
        .withColumn("chunk", expr("bidx div 5"))
        .where(col("chunk") < nc)
        .groupBy("chunk")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          davg(col("value")).as("avg_value"))
        .orderBy("chunk")
    },
    Some(s"""WITH ev AS (
        SELECT user_id, value, ${SparkEntry.EP}//86400 AS day,
          (${SparkEntry.EP}//86400 + 3) % 7 AS dow
        FROM events),
      wd AS (SELECT * FROM ev WHERE dow NOT IN (5, 6)),
      days AS (
        SELECT day, row_number() OVER (ORDER BY day) - 1 AS bidx
        FROM (SELECT DISTINCT day FROM wd)),
      t AS (SELECT count(*)//5 AS nc FROM days)
      SELECT bidx//5 AS chunk, count(*) AS n_events,
        count(DISTINCT user_id) AS n_users,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM wd JOIN days USING (day), t
      WHERE bidx//5 < t.nc
      GROUP BY 1 ORDER BY chunk"""))

  val all: Seq[Q] =
    Seq(qE1F, qE1b, qW3b, qS7, qS6w, qS6b, qS9, qS11, qS12, qS13, qS14,
      qS15, qG1,
      qG2, qG3, qG4, qW4b)
}
