package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import graft.Catalog
import graft.functions.ExactMicros
import graft.ops.Corr

/** Structured Streaming surface (SURVEY §2.10). The reference is
  * batch-only; its closest streaming analog is the `taq_chunks.py` main
  * loop — a manual micro-batch ingest (one day per iteration, skip-empty,
  * partitioned sink, cloud_TAQ/taq_chunks.py:112-147). These are the
  * honest Spark mappings:
  *
  *   - [[windowedMeans]]: file-source micro-batch ingest with
  *     `Trigger.AvailableNow` (bounded catch-up, the direct equivalent of
  *     the reference's drain-everything loop), event-time tumbling windows
  *     with a watermark, partitioned parquet sink via foreachBatch.
  *   - [[dedupStream]]: stateful exactly-once-per-key dedup with
  *     `flatMapGroupsWithState` and a processing-time state timeout — the
  *     streaming form of A2 keep-first.
  *
  * Scale notes: the file source checkpoints its progress, so restarts
  * resume; the windowed aggregate's state is bounded by the watermark;
  * the dedup state is bounded by the timeout. All shuffles are keyed the
  * same as the batch equivalents (window/user, event_id).
  */
object Streams {

  /** Idempotent foreachBatch sink: each micro-batch OVERWRITES its own
    * `batch_id=N` subdirectory instead of appending to a shared one.
    * foreachBatch is at-least-once — a crash between the output write
    * and the checkpoint commit replays the batch — so a bare append
    * would duplicate every replayed row; overwrite-per-batch-id makes
    * the replay a byte-identical no-op. Readers `spark.read.parquet`
    * the root as usual (batch_id surfaces as a partition column they
    * can ignore).
    */
  private def idempotentWrite(batch: DataFrame, outDir: String, id: Long,
                              partitionBy: Seq[String] = Nil): Unit = {
    // this layout is batch_id=N partition dirs; a root holding FLAT
    // parquet files (the pre-round-8 append layout, or any foreign
    // writer) would mix two layouts and break partition discovery for
    // every reader — fail fast instead of corrupting the table
    val flat = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array())
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    require(flat.isEmpty,
      s"idempotentWrite: $outDir holds flat parquet files " +
        s"(${flat.head.getName}); this sink writes batch_id=N subdirs — " +
        "migrate or clear the directory before restarting the stream")
    val w = batch.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$outDir/batch_id=$id")
  }

  /** Drain a bounded stream: `Trigger.AvailableNow` in append mode,
    * `sink` called once per micro-batch with the batch id. Blocks until
    * the stream has consumed everything available at start; returns the
    * number of micro-batches run.
    */
  private def drain(df: DataFrame, checkpointDir: String)
                   (sink: (DataFrame, Long) => Unit): Long = {
    var batches = 0L
    df.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches += 1
        sink(batch, id)
      }
      .start()
      .awaitTermination()
    batches
  }

  /** Events-schema'd streaming source over a directory of parquet files
    * in the engine's *public* encoding (`ts` TimestampType) — i.e. files
    * the engine itself landed. Fixture-encoding quirks (nanos-as-long,
    * NTZ micros) are the batch catalog's concern ([[Catalog.load]]); a
    * streaming ingest dir is produced by upstream engine stages, not by
    * the fixture generator.
    */
  def eventsStream(spark: SparkSession, srcDir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(Catalog.schemas("events"))
    maxFilesPerTrigger.fold(reader)(n =>
        reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
  }

  /** 1-minute windowed per-user mean with a 1-hour watermark, written as
    * date-partitioned parquet through foreachBatch. Blocks until the
    * bounded stream drains (AvailableNow). Returns the number of
    * micro-batches executed.
    */
  def windowedMeans(spark: SparkSession, srcDir: String, outDir: String,
                    checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None): Long = {
    val agg = eventsStream(spark, srcDir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(avg("value").as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_start"), col("user_id"),
        col("avg_value"), col("n"),
        date_format(col("window.start"), "yyyy-MM-dd").as("date"))
    drain(agg, checkpointDir)(
      idempotentWrite(_, outDir, _, partitionBy = Seq("date")))
  }

  /** The flagship's correlation matrices as a STREAM: per-`span`
    * pairwise correlations over the live tick stream, as a chain of
    * three event-time stateful operators (Spark's
    * multiple-stateful-operator support) —
    *
    *   1. tumbling `bucket` windows × series: the resample cell
    *      (avg of simultaneous ticks — A1's dedup-mean);
    *   2. re-group by the same bucket window (via `window_time`):
    *      assemble the k-wide panel row, missing series as NaN — the
    *      streaming [[graft.ops.Corr.widePanel]] row;
    *   3. tumbling `span` windows over the panel rows:
    *      [[graft.ops.Corr.onePass]] keyed by the span window — the SAME
    *      co-moment aggregate the batch tiers run, its exact integer
    *      buffer now carried as streaming state (integer merges, so the
    *      batch order cannot change a bit of the result).
    *
    * ONE deliberate semantic difference from the batch flagship: no
    * forward-fill. The batch panel ffills gaps before correlating
    * (resampleFfill); here a bucket with no tick for a series stays
    * NaN and the pairwise-complete UDAF simply skips it — correlation
    * over OBSERVED cells. The filled-panel semantics ARE available as
    * a stream: [[resampleFfillStream]] produces the batch-equal
    * forward-filled grid continuously (per-series carry-forward state
    * via flatMapGroupsWithState — window functions over event order do
    * not exist in streaming); it cannot feed THIS chain directly
    * because Spark rejects a windowed aggregate downstream of
    * flatMapGroupsWithState's append stream in the same query, so a
    * filled continuous corr runs as two chained queries (ffill stream
    * → landed panel → this chain's aggregate on a panel source).
    * Consumers replacing the batch export with this single-query form
    * must know sparse series correlate over fewer observations here.
    * The spec grades stream ≡ batch over the SAME unfilled chain,
    * which is exactly the contract this function promises.
    *
    * Append mode + watermark: a span's matrix is emitted exactly once,
    * when the watermark passes its end — the continuous form of the
    * reference's per-window export loop
    * (correlation_matrix_exporter.py:227-235). State is bounded: open
    * bucket cells + open panel rows + one O(k²) co-moment buffer per
    * open span, all evicted at watermark. The series universe `users`
    * is a broadcast-sized dimension fixed upstream, exactly like the
    * batch `Corr.widePanel`'s sorted id set.
    *
    * Output rows: (window_start epoch sec, i, j: series ids, rho).
    *
    * Scale note: the panel-row assembly uses `Corr.widePanel`'s dense
    * sorted-entries fast path — when a bucket observed every series,
    * its user_id-sorted entry list is already in `users` order and the
    * row is O(k log k); buckets with MISSING series (the normal
    * streaming case, since nothing ffills here) go through the
    * [[graft.functions.DenseFromSortedEntries]] two-pointer merge,
    * O(k + entries) per bucket row (round 14 — it replaced a per-series
    * `element_at` map probe whose linear MapData scans made gapped
    * assembly O(k²) per row).
    * Restart semantics: the checkpoint + the idempotent per-batch sink
    * make a restarted drain emit each newly finalized span exactly
    * once (spec-pinned).
    *
    * Envelope: a non-finite value or |x| > ~9×10⁹ throws in the
    * aggregate's 1e-6 quantization and fails the query. A restart
    * replays the same input from the checkpoint, so it fails again
    * every time: the bad value is a poison pill until it is removed
    * from the source. The co-moment state is an `array<bigint>` buffer;
    * a checkpoint written while that state was `array<double>` (the
    * double-state aggregate this one replaced) cannot be resumed —
    * start such a query from a fresh checkpoint.
    */
  def windowedCorr(spark: SparkSession, srcDir: String, outDir: String,
                   checkpointDir: String, users: Seq[Long],
                   bucket: String = "10 minutes", span: String = "1 hour",
                   watermark: String = "1 hour",
                   maxFilesPerTrigger: Option[Int] = None): Unit = {
    val corr = windowedCorrPlan(
      eventsStream(spark, srcDir, maxFilesPerTrigger), users,
      bucket, span, Some(watermark))
    drain(corr, checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** Events-shaped streaming view of a landed [[resampleFfillStream]]
    * cell table (`ts := bucket`), for chaining into
    * [[windowedCorrFromCells]] as the SECOND query of the filled
    * continuous-corr deployment. Null leading cells surface as NaN
    * panel cells downstream — the pairwise-complete UDAF skips them,
    * exactly the batch filled chain's semantics.
    */
  def cellsAsEventsStream(spark: SparkSession,
      cellsDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("bucket", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("batch_id", LongType)))
    spark.readStream.schema(schema).parquet(cellsDir)
      .select(timestamp_seconds(col("bucket")).as("ts"), col("user_id"),
        col("value"))
  }

  /** The FILLED continuous corr — the second of the two chained
    * queries [[windowedCorr]]'s scaladoc describes: per-span corr
    * matrices over the forward-filled panel [[resampleFfillStream]]
    * lands, giving the batch flagship's ffill semantics continuously
    * (StreamsSpec grades the composition against the batch FILLED
    * chain). Same three-operator plan as windowedCorr; the `bucket`
    * duration must equal the ffill stream's grid step so stage 1's
    * dedup-mean is the identity on the landed cells.
    */
  def windowedCorrFromCells(spark: SparkSession, cellsDir: String,
      outDir: String, checkpointDir: String, users: Seq[Long],
      bucket: String = "10 minutes", span: String = "1 hour",
      watermark: String = "1 hour"): Unit = {
    val corr = windowedCorrPlan(cellsAsEventsStream(spark, cellsDir),
      users, bucket, span, Some(watermark))
    drain(corr, checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** The shared logical chain of [[windowedCorr]] — also runnable on a
    * BATCH events DataFrame (watermark omitted), which is how the spec
    * proves stream ≡ batch on the same engine-side plan.
    */
  private[graft] def windowedCorrPlan(events: DataFrame, users: Seq[Long],
      bucket: String, span: String,
      watermark: Option[String]): DataFrame = {
    val src = events.where(col("user_id").isin(users: _*))
    val marked = watermark.fold(src)(w => src.withWatermark("ts", w))
    val cells = marked
      .groupBy(window(col("ts"), bucket), col("user_id"))
      .agg(avg("value").as("v"))
    // the SAME dense/sparse vector assembly as the batch panel — one
    // shared expression builder (SparkEntry.panelValsExpr, which also
    // enforces the ascending universe the dense path's positional
    // alignment needs), so the stream ≡ batch contract cannot drift
    // between two hand-maintained copies: a complete bucket rides the
    // O(k log k) sorted-entries path, gaps (the normal case here — no
    // single-query ffill) ride the O(k + entries) sorted-entries merge
    // kernel, and null cell values become NaN in both.
    val (entries, vals) = graft.SparkEntry.panelValsExpr(users,
      col("user_id"), col("v"))
    val panel = cells
      .groupBy(window(window_time(col("window")), bucket).as("bw"))
      .agg(entries.as("es"))
      .select(col("bw"), vals(col("es")).as("vals"))
    val spans = Corr.onePass(panel, users,
      Some(window(window_time(col("bw")), span).as("hw")))
    Corr.cellRows(spans, users,
        unix_timestamp(col("hw.start")).as("window_start"))
      .select("window_start", "i", "j", "rho")
  }

  /** Event-time sessionization: per-user sessions that close after
    * `gap` of inactivity, via the built-in `session_window` aggregate —
    * Spark's native merging-session state (declarative, codegen'd,
    * watermark-bounded) rather than a hand-rolled
    * flatMapGroupsWithState; state per open session, evicted once the
    * watermark passes the session end. Append mode emits only closed
    * sessions — open ones survive in state, exactly the semantics a
    * continuous deployment wants (the spec mirrors the same cutoff on
    * its batch oracle). Returns rows (user_id, session_start epoch sec,
    * session_end epoch sec, n_events).
    */
  def sessionStream(spark: SparkSession, srcDir: String, outDir: String,
                    checkpointDir: String, gap: String = "30 minutes",
                    watermark: String = "1 hour",
                    maxFilesPerTrigger: Option[Int] = None): Unit = {
    val agg = eventsStream(spark, srcDir, maxFilesPerTrigger)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"))
    drain(agg, checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** Watermarked stream-stream interval join: 'click' events matched to
    * the same user's 'view' events within ±`window`. Both sides carry
    * watermarks and the join condition carries the time bound, so each
    * side's buffered state is evicted once the watermark clears the
    * interval — the one shape that makes an unbounded two-stream join
    * runnable forever. Inner join in append mode emits every match as
    * soon as both rows have arrived.
    */
  def clickViewJoin(spark: SparkSession, srcDir: String, outDir: String,
                    checkpointDir: String, window: String = "5 minutes",
                    watermark: String = "1 hour",
                    maxFilesPerTrigger: Option[Int] = None): Unit = {
    def side(tpe: String, suffix: String): DataFrame =
      eventsStream(spark, srcDir, maxFilesPerTrigger)
        .where(col("event_type") === tpe)
        .select(col("event_id").as(s"event_id_$suffix"),
          col("user_id").as(s"user_id_$suffix"),
          col("ts").as(s"ts_$suffix"))
        .withWatermark(s"ts_$suffix", watermark)
    val joined = side("click", "c").join(side("view", "v"),
      expr(s"""user_id_c = user_id_v AND
        ts_v BETWEEN ts_c - INTERVAL $window AND ts_c + INTERVAL $window"""))
      .select(col("event_id_c"), col("event_id_v"), col("user_id_c"),
        unix_timestamp(col("ts_c")).as("click_sec"),
        unix_timestamp(col("ts_v")).as("view_sec"))
    drain(joined, checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** Streaming incremental near-dedup — the d8 pipeline as a
    * micro-batch ingest gate: each arriving batch of documents is
    * shingled/minhashed ONCE, probed against the PERSISTED corpus
    * signature tables ([[graft.queries.LlmQueries.dedupBands]]/
    * [[graft.queries.LlmQueries.dedupSets]] — parquet scans, the lake
    * state d8's batch form reads), and its verdicts (new /
    * dup_of_corpus / dup_of_delta) append to the output. One shared
    * implementation with d8 (`LlmQueries.deltaVerdictsSplit`, whose
    * candidate/verify body and verdict labeling are d8's own —
    * `verifiedPairsTwoSided` / `verdictLabels`), so the streaming and
    * batch answers cannot drift (StreamsSpec asserts equality).
    *
    * Within-delta matches are found inside a micro-batch; across
    * micro-batches, each batch's signatures are APPENDED to
    * stream-private copies of the band/set tables after verdicting, so
    * later batches see earlier deltas as corpus — the lake maintenance
    * loop d8's scaladoc describes, made real. (Labels depend only on
    * `match_id < th`, never on which batch carried the signature, so a
    * cross-batch delta dup gets the same `dup_of_delta` verdict the
    * batch twin assigns — StreamsSpec's multi-batch equality test holds
    * exactly.) The state copies live under `checkpointDir` so the
    * shared fixture tables are never mutated; they are seeded from the
    * corpus only when absent, so a restart resumes with every earlier
    * batch's appended signatures intact (matching the checkpoint's
    * file-log position); and the append skips docs already present in
    * state, so a retried micro-batch's append is a no-op.
    *
    * `maxDf` (default None = the graded shape): the boilerplate-bucket
    * guard, passed through to the shared probe
    * (`LlmQueries.deltaVerdicts` → `verifiedPairs`) — hot band keys
    * counted over the corpus∪delta side each batch, cut from both
    * probe inputs.
    */
  def incrementalDedupStream(spark: SparkSession, srcDir: String,
                             corpusDir: String, outDir: String,
                             checkpointDir: String, th: Long,
                             maxFilesPerTrigger: Option[Int] = None,
                             maxDf: Option[Int] = None)
                            : Unit = {
    import graft.ops.Text
    // stream-owned state: seeded from the persisted corpus tables only
    // when absent — overwriting on every invocation would wipe the
    // signatures earlier batches appended while the checkpoint's file
    // log suppresses their re-processing (restart = silent data loss)
    val stBands = s"$checkpointDir/state_bands"
    val stSets = s"$checkpointDir/state_sets"
    if (!new java.io.File(stSets).exists()) {
      graft.queries.LlmQueries.dedupBands(spark, corpusDir)
        .write.mode("overwrite").parquet(stBands)
      graft.queries.LlmQueries.dedupSets(spark, corpusDir)
        .write.mode("overwrite").parquet(stSets)
    }
    val reader = spark.readStream.schema(Catalog.schemas("documents"))
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    drain(src, checkpointDir) { (batch, id) =>
      // signatures come from the SAME build as the batch lake tables
      // (LlmQueries.hashedShingles/signatureTables), so a tuning
      // change there cannot silently diverge stream from batch
      val sh = graft.queries.LlmQueries.hashedShingles(batch).cache()
      try {
        val (dSets, dBands) =
          graft.queries.LlmQueries.signatureTables(sh)
        // the state tables must not double-carry docs that are also in
        // the arriving batch (the spec replays the fixture's own top
        // decile as the delta) — anti-join the batch ids out so the
        // union is disjoint and per-pair match counts stay exact
        val ids = broadcast(batch.select("doc_id"))
        val cBands = spark.read.parquet(stBands)
          .join(ids, Seq("doc_id"), "left_anti")
        val cSets = spark.read.parquet(stSets)
          .join(ids, Seq("doc_id"), "left_anti")
        // the SPLIT probe (LlmQueries.deltaVerdictsSplit): corpus
        // state relations go in un-unioned, so at width the
        // set-attachment join never shuffles the corpus set table
        // per batch — the union shape measured 174 MB (corpus-sized)
        // per 2k-doc batch against a 110k-doc lake (SCALE.md's
        // round-19 delta-probe width run); verdicts are provably
        // identical (CapPlumbSpec pins split == single)
        idempotentWrite(graft.queries.LlmQueries.deltaVerdictsSplit(
            cBands, cSets, dBands, dSets, batch.select("doc_id"), th,
            maxDf),
          outDir, id)
        // lake maintenance: this batch's signatures become corpus for
        // every later micro-batch. Each table's append is guarded by
        // that table's OWN contents (not its sibling's), so a crash
        // between the two appends replays as a per-table no-op and a
        // doc's signatures are never duplicated — a duplicate set row
        // would double a pair's verified match count in deltaVerdicts.
        // localCheckpoint breaks the read-X-while-appending-to-X
        // dependency; released right after the appends so a
        // long-running stream does not pin two relations per batch
        val knownB = spark.read.parquet(stBands).select("doc_id")
          .distinct()
        val knownS = spark.read.parquet(stSets).select("doc_id")
        val freshB = dBands.join(knownB, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val freshS = dSets.join(knownS, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        try {
          freshB.write.mode("append").parquet(stBands)
          freshS.write.mode("append").parquet(stSets)
        } finally {
          freshB.unpersist()
          freshS.unpersist()
          ()
        }
      } finally { sh.unpersist(); () }
    }
  }

  /** One filled grid cell of [[resampleFfillStream]] — the streaming
    * twin of [[graft.ops.Time.resampleFfill]]'s output row (bucket:
    * epoch sec, key, value ffilled, None before first observation).
    */
  case class FfillCell(bucket: Long, user_id: Long, value: Option[Double])

  /** Per-series carry-forward state of [[resampleFfillStream]]:
    * open-bucket partial sums/counts (bounded by watermark/step
    * in-flight buckets per key), the next grid bucket to emit, and the
    * last observed bucket-mean to carry forward. Each sum is the exact
    * scale-6 total of its ticks' micro-units
    * ([[graft.functions.ExactMicros.micros6]], the batch
    * [[graft.ops.Exact.davg]]'s per-tick kernel), held as a
    * java.math.BigDecimal — the field types checkpoints were written
    * with, so existing checkpoints still resume. A bucket whose ticks
    * were all NaN/±Inf has a count but no sum: its mean is NULL, as in
    * batch, and the fill carries the previous mean across it. That
    * replicates the batch dedup-mean bit-for-bit — which is what lets
    * the streamed grid be graded on the SAME DuckDB oracle as the batch
    * w1 (the w16 gate row).
    */
  private[streaming] case class FfillState(
      pendSum: Map[Long, java.math.BigDecimal], pendCnt: Map[Long, Long],
      nextBucket: Long, lastValue: Option[Double])

  /** Exactly Spark's `round(try_divide(sum(value cast decimal(18,6))
    * cast double, count), 6)` — Exact.davg's arithmetic, re-played on
    * the streamed partials: the exact decimal sum's `doubleValue` (what
    * `cast(decimal as double)` returns), double division, then the
    * kernel's HALF_UP 6 dp round.
    */
  private def davgOf(sum: java.math.BigDecimal, n: Long): Double =
    ExactMicros.round6(sum.doubleValue() / n)

  /** Advance one series' filled grid to the watermark: ingest this
    * batch's ticks into open-bucket partials, then emit every grid
    * cell whose bucket END the watermark has passed — the bucket's
    * dedup-mean when observed, the carried last mean when not, None
    * before the first observation. Ticks older than the emitted prefix
    * are dropped (standard watermark late-data semantics — upstream
    * aggregates drop them silently too). Once the grid end is emitted the
    * state collapses to a tombstone that classifies every later tick
    * as late (see the emission branch for why removal would break
    * exactly-once); before that, an event-time timeout at the next
    * grid boundary past the watermark keeps pure carry-forward cells
    * flowing even when the key sees no further ticks.
    */
  private def ffillAdvance(u: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Double)],
      state: GroupState[FfillState],
      startSec: Long, endSec: Long, stepSec: Long,
      ansi: Boolean): Iterator[FfillCell] = {
    val wmSec = state.getCurrentWatermarkMs() / 1000L
    val hadState = state.exists
    val st = state.getOption.getOrElse(
      FfillState(Map.empty, Map.empty, startSec, None))
    var pendSum = st.pendSum
    var pendCnt = st.pendCnt
    rows.foreach { case (_, ts, v) =>
      val sec = ts.getTime / 1000L
      // upper grid bound checked HERE, not as a pre-watermark filter:
      // ticks past the grid end must still drive the watermark (they
      // are what finalizes the LAST grid bucket — filtered before
      // withWatermark, the watermark could never reach the grid end
      // and the final cell would stay open forever)
      val b = startSec + ((sec - startSec) / stepSec) * stepSec
      if (sec < endSec && b >= st.nextBucket) {
        // a NaN/±Inf tick is a NULL addend that still counts, as in
        // batch; |v| ≥ 1e12 fails (under ANSI) as the batch cast does
        val q = ExactMicros.micros6(v, ansi)
        if (q != ExactMicros.NullMicros)
          pendSum = pendSum.updated(b,
            pendSum.getOrElse(b, java.math.BigDecimal.ZERO)
              .add(new java.math.BigDecimal(
                java.math.BigInteger.valueOf(q), 6)))
        pendCnt = pendCnt.updated(b, pendCnt.getOrElse(b, 0L) + 1L)
      }
    }
    // batch's key universe is "keys with ≥1 in-range tick": a key
    // whose only rows were out-of-range must not enter the grid (it
    // would emit an all-null series batch does not have); it joins
    // the universe if and when an in-range tick arrives
    if (!hadState && pendCnt.isEmpty) return Iterator.empty
    // the batch grid is range(start, end, step): its LAST bucket is
    // start-aligned below end, NOT necessarily end - step (a grid
    // whose span is not a step multiple still emits the ragged final
    // bucket, and so must we)
    val lastBucket = startSec + ((endSec - 1 - startSec) / stepSec) * stepSec
    // the last grid bucket whose [b, b+step) window the watermark closed
    val frontier =
      if (wmSec < startSec + stepSec) startSec - stepSec
      else math.min(lastBucket,
        startSec + ((wmSec - stepSec - startSec) / stepSec) * stepSec)
    val out = scala.collection.mutable.ArrayBuffer.empty[FfillCell]
    var bkt = st.nextBucket
    var last = st.lastValue
    while (bkt <= frontier) {
      pendCnt.get(bkt).foreach { n =>
        pendSum.get(bkt).foreach(sum => last = Some(davgOf(sum, n)))
        pendSum -= bkt
        pendCnt -= bkt
      }
      out += FfillCell(bkt, u, last)
      bkt += stepSec
    }
    if (bkt > lastBucket) {
      // grid complete: keep a TOMBSTONE (nextBucket = grid end, no
      // pending, no timeout) instead of removing state — with state
      // gone, a late replayed tick for this key would re-create it at
      // startSec and re-emit the whole grid as duplicates. The
      // tombstone makes every later tick fall to the `b >= nextBucket`
      // late-data drop, preserving exactly-once per cell; it is one
      // tiny row per key, and the whole operator is quiescent once the
      // watermark passes the grid end anyway.
      state.update(FfillState(Map.empty, Map.empty, bkt, None))
    } else {
      state.update(FfillState(pendSum, pendCnt, bkt, last))
      state.setTimeoutTimestamp((math.max(wmSec, startSec) + stepSec) * 1000L)
    }
    out.iterator
  }

  /** The logical chain of [[resampleFfillStream]]: range filter,
    * watermark, then ONE `flatMapGroupsWithState` per series doing
    * bucket dedup-mean + grid + forward-fill together. A windowed
    * bucket aggregate BEFORE the stateful map is not an option —
    * Spark's unsupported-operations checker rejects
    * flatMapGroupsWithState downstream of an aggregation — and is not
    * needed: the in-state partials hold exactly the open buckets the
    * windowed aggregate would, bounded by watermark/step per key.
    */
  private[graft] def resampleFfillStreamPlan(events: DataFrame,
      startSec: Long, endSec: Long, stepSec: Long,
      watermark: String): org.apache.spark.sql.Dataset[FfillCell] = {
    // same fail-fast as the batch grid (Time.grid): a start off the
    // step lattice would silently mis-bucket every tick
    require(startSec % stepSec == 0,
      s"grid start $startSec is not aligned to step $stepSec")
    val spark = events.sparkSession
    import spark.implicits._
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    events
      // lower bound only: a pre-start tick would mis-bucket (integer
      // division toward zero), but ticks PAST the grid end stay in the
      // stream so their event times advance the watermark — the upper
      // bound is enforced inside ffillAdvance (see its ingest guard)
      .where(col("ts") >= timestamp_seconds(lit(startSec)))
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FfillState, FfillCell](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (u, rows, state) =>
          ffillAdvance(u, rows, state, startSec, endSec, stepSec, ansi)
      }
  }

  /** STREAMING resample+ffill — closes the one semantic difference
    * [[windowedCorr]] documents against the batch flagship: the batch
    * chain forward-fills gaps before correlating
    * ([[graft.ops.Time.resampleFfill]], the reference's
    * `resample(freq).ffill()` — correlation_matrix_exporter.py:109),
    * and this operator produces that SAME filled panel continuously.
    * Emitted cells are append-mode and watermark-final: a grid cell
    * (bucket, series) is written exactly once, when the watermark
    * passes its bucket end — observed buckets carry their dedup-mean
    * (the batch Exact.davg arithmetic, replicated bit-for-bit — see
    * [[FfillState]]), gaps carry the last mean forward, leading cells
    * before a series' first tick are null (all exactly the batch
    * output's contract, so StreamsSpec grades stream ≡ batch
    * row-for-row on the finalized prefix, and the w16 gate row grades
    * the streamed grid against the batch w1's own DuckDB oracle).
    *
    * State per series: the open-bucket partials (≤ watermark/step
    * buckets) plus one carried double — bounded regardless of run
    * length; a tombstone after the grid end is reached. Restart:
    * checkpoint + the idempotent per-batch sink give exactly-once
    * cells across drains (spec-pinned like windowedCorr's).
    */
  def resampleFfillStream(spark: SparkSession, srcDir: String,
      outDir: String, checkpointDir: String,
      startSec: Long, endSec: Long, stepSec: Long,
      watermark: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val cells = resampleFfillStreamPlan(
      eventsStream(spark, srcDir, maxFilesPerTrigger),
      startSec, endSec, stepSec, watermark)
    drain(cells.toDF(), checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** WATERMARK-BOUNDED streaming keep-first dedup — the continuous
    * deployment's form of [[dedupStream]], via Spark's built-in
    * `dropDuplicatesWithinWatermark`: each event_id's first-seen row
    * emits, duplicates arriving within `watermark` of it are dropped,
    * and the key's state is EVICTED once the watermark passes its
    * event time plus the delay — so state holds only the ids seen in
    * the trailing watermark horizon, bounded regardless of how long
    * the stream runs or how large the corpus grows (the exact property
    * [[dedupStream]]'s NoTimeout scaladoc defers to a "continuous
    * deployment" — this is that deployment's operator). The honest
    * contract at 100 TB, spec-pinned in StreamsSpec: a duplicate
    * separated from its twin by MORE than the watermark gap arrives
    * after eviction and legitimately re-emits — within-horizon
    * exactness traded for bounded state, which is the standard
    * production dedup-gate semantics (an exact forever-dedup is
    * [[incrementalDedupStream]]'s lake-backed job, not a state-store
    * job).
    */
  def dedupStreamBounded(spark: SparkSession, srcDir: String,
      outDir: String, checkpointDir: String, watermark: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val deduped = eventsStream(spark, srcDir, maxFilesPerTrigger)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("value"))
    drain(deduped, checkpointDir)(idempotentWrite(_, outDir, _))
  }

  /** Streaming keep-first dedup on event_id: emits each key's first-seen
    * row, drops repeats while state lives.
    *
    * State lifecycle: NoTimeout — correct for bounded catch-up runs
    * (AvailableNow), where state dies with the query. A continuously
    * running deployment would bound state with an event-time timeout tied
    * to a watermark instead; do NOT use ProcessingTimeTimeout together
    * with AvailableNow — pending timers make the trigger schedule
    * no-data micro-batches in a busy loop (observed live: thousands of
    * empty batches).
    */
  def dedupStream(spark: SparkSession, srcDir: String, outDir: String,
                  checkpointDir: String): Unit = {
    import spark.implicits._
    val src = eventsStream(spark, srcDir)
      .select(col("event_id"), col("user_id"), col("value"))
      .as[(Long, Long, Double)]
    val deduped = src.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.take(1)
          }
      }.toDF("event_id", "user_id", "value")
    drain(deduped, checkpointDir)(idempotentWrite(_, outDir, _))
  }
}
