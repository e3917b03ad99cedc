package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The streaming tier's oracle recipes, shared between [[StreamsSpec]]
  * (default HDFS-backed state store) and [[RocksDbStreamsSpec]]
  * (RocksDBStateStoreProvider) — ONE body per operator contract, so the
  * two provider matrices cannot drift. Each `check*` stages its own
  * input, drains under Trigger.AvailableNow, and grades the landed
  * output against the batch oracle; they read whatever
  * `spark.sql.streaming.stateStore.providerClass` the caller set, which
  * is exactly the point: at 100 TB the streaming state (w21/w22's
  * first-seen dedup keys, w17/w18's open co-moment matrices) is
  * corpus-/span-sized and belongs in RocksDB, not on-heap, and the
  * recipes must hold under both.
  */
trait StreamRecipes extends SparkTestBase {

  protected def tmp(prefix: String): String =
    scratchDir(prefix)

  /** One synthetic events row — ts is epoch SECONDS here, stored in the
    * engine's public encoding (TimestampType), the form [[Streams
    * .eventsStream]] reads: an ingest dir is landed by upstream engine
    * stages, not the fixture generator.
    */
  protected def evRow(id: Long, tsSec: Long, user: Long, value: Double,
                      tpe: String = "click") =
    org.apache.spark.sql.Row(id,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(tsSec)),
      user, tpe, value, "{}")

  /** Write rows as one parquet file named `name` under `dir` with a
    * controlled mtime — FileStreamSource orders files by modification
    * time, so mtimes pin the micro-batch order.
    */
  protected def stageFile(dir: String, name: String, mtime: Long,
                          rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val t = tmp("graft_late_stage_")
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
        graft.Catalog.schemas("events"))
      .coalesce(1).write.mode("overwrite").parquet(t)
    val part = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = Paths.get(dir, name)
    Files.copy(part.toPath, dst)
    assert(dst.toFile.setLastModified(mtime))
  }

  protected def stageEvents(): String = {
    val in = tmp("graft_stream_in_")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(in, "events.parquet"))
    in
  }

  protected def stageParquet(in: String,
      df: org.apache.spark.sql.DataFrame,
      name: String, mtime: Long): Unit = {
    val t = tmp("graft_incr_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(t)
    val part = new java.io.File(t).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val dst = Paths.get(in, name)
    Files.copy(part.toPath, dst)
    assert(dst.toFile.setLastModified(mtime))
  }

  /** Run `body` with the given state-store provider class set on the
    * session, restoring the previous value after — safe because the
    * forked test JVM runs suites sequentially. The conf is read at
    * query START and pinned in the checkpoint's OffsetSeqMetadata, so
    * every drain a recipe performs (including its restarts) runs on
    * the requested provider.
    */
  protected def withStateProvider(cls: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // ---- the eight operator oracles + the deepest restart case ----

  /** w23: windowedMeans drains the bounded stream and matches batch.
    * Returns the checkpoint dir for provider-artifact assertions.
    */
  protected def checkWindowedMeans(): String = {
    val in = stageEvents()
    val out = tmp("graft_stream_out_")
    val ck = tmp("graft_stream_ck_")
    val batches = Streams.windowedMeans(spark, in, out, ck)
    assert(batches >= 1)
    val streamed = spark.read.parquet(out)
    val ev = graft.Catalog.load(spark, "/root/testdata/sf0.001", "events")
    // append mode emits exactly the windows finalized by the watermark:
    // window.end <= max(ts) - 1h. Later windows are correctly retained
    // as open state when the bounded stream ends.
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(avg("value").as("avg_value"), count(lit(1)).as("n"))
      .where(col("window.end") <= lit(maxTs) - expr("INTERVAL 1 HOUR"))
    assert(streamed.count() == batch.count())
    assert(streamed.agg(sum("n")).head().getLong(0) ==
      batch.agg(sum("n")).head().getLong(0))
    // idempotent per-batch layout: batch_id=N dirs at the root, the
    // date= partitioning inside each
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_id="))
    assert(batchDirs.nonEmpty)
    assert(batchDirs.exists(b => Option(b.listFiles()).getOrElse(Array())
      .exists(_.getName.startsWith("date="))))
    ck
  }

  /** w19: sessionStream emits watermark-closed sessions matching batch. */
  protected def checkSessionStream(): Unit = {
    val in = stageEvents()
    val out = tmp("graft_sess_out_")
    val ck = tmp("graft_sess_ck_")
    Streams.sessionStream(spark, in, out, ck)
    val streamed = spark.read.parquet(out)
    val ev = graft.Catalog.load(spark, "/root/testdata/sf0.001", "events")
    // batch oracle: same built-in session_window aggregate, restricted to
    // sessions the final watermark (max ts - 1h) closed
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val batch = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .where(col("session_window.end") <= lit(maxTs) -
        expr("INTERVAL 1 HOUR"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"))
    assert(streamed.count() > 0)
    assert(streamed
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start").collect().toSeq ==
      batch.orderBy("user_id", "session_start").collect().toSeq)
  }

  /** w20: clickViewJoin matches the batch interval join on a bounded
    * drain.
    */
  protected def checkClickViewJoin(): Unit = {
    val in = stageEvents()
    val out = tmp("graft_ssj_out_")
    val ck = tmp("graft_ssj_ck_")
    Streams.clickViewJoin(spark, in, out, ck)
    val streamed = spark.read.parquet(out)
    val ev = graft.Catalog.load(spark, "/root/testdata/sf0.001", "events")
    def side(tpe: String, sfx: String) = ev
      .where(col("event_type") === tpe)
      .select(col("event_id").as(s"event_id_$sfx"),
        col("user_id").as(s"user_id_$sfx"), col("ts").as(s"ts_$sfx"))
    val batch = side("click", "c").join(side("view", "v"),
      expr("""user_id_c = user_id_v AND
        ts_v BETWEEN ts_c - INTERVAL 5 minutes
                 AND ts_c + INTERVAL 5 minutes"""))
    assert(streamed.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.select("event_id_c", "event_id_v").distinct().count()
      == batch.count())
  }

  /** w21: dedupStream keeps exactly one row per event_id. */
  protected def checkDedupStream(): Unit = {
    val in = stageEvents()
    // duplicate the file so every event_id arrives twice
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(in, "events_dup.parquet"))
    val out = tmp("graft_dedup_out_")
    val ck = tmp("graft_dedup_ck_")
    Streams.dedupStream(spark, in, out, ck)
    val got = spark.read.parquet(out)
    val distinctIds = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id").distinct().count()
    assert(got.count() == distinctIds)
    assert(got.select("event_id").distinct().count() == distinctIds)
  }

  /** w22: incrementalDedupStream verdicts equal d8's batch form. */
  protected def checkIncrementalDedup(): Unit = {
    val fx = "/root/testdata/sf0.001"
    val docs = graft.Catalog.load(spark, fx, "documents")
    val th = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
    // stage the top decile (d8's delta) as the arriving stream
    val in = tmp("graft_incr_in_")
    docs.where(col("doc_id") >= th)
      .write.mode("overwrite").parquet(in)
    val out = tmp("graft_incr_out_")
    val ck = tmp("graft_incr_ck_")
    Streams.incrementalDedupStream(spark, in, fx, out, ck, th)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "match_id", "n_matches", "verdict")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.SparkEntry.queries("d8_incremental_dedup")(spark, fx)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  /** w16: streamed filled grid equals batch resampleFfill on the
    * finalized prefix.
    */
  protected def checkResampleFfill(): Unit = {
    val in = tmp("graft_ffill_in_")
    val base = 1700006400L // aligned to a UTC day boundary
    val step = 600L
    val end = base + 86400L
    // three series with DIFFERENT gap structure: u0 ticks every bucket,
    // u1 skips a known mid-range (carry-forward must bridge it), u2
    // starts late (leading cells must be null). Two ticks in one
    // bucket for u0 exercise the dedup-mean.
    val rows =
      (for (t <- 0L until 43200L by step) yield
        evRow(t * 100, base + t + 30, 0L, 1.0 + 0.001 * t)) ++
      Seq(evRow(999999L, base + 630, 0L, 7.0)) ++ // 2nd tick in u0's bucket 1
      (for (t <- 0L until 43200L by step
            if t < 6000L || t >= 18000L) yield
        evRow(t * 100 + 1, base + t + 60, 1L, 2.0 + 0.002 * t)) ++
      (for (t <- 21600L until 43200L by step) yield
        evRow(t * 100 + 2, base + t + 90, 2L, 3.0 + 0.003 * t))
    stageFile(in, "ticks.parquet", base * 1000, rows)
    val out = tmp("graft_ffill_out_")
    val ck = tmp("graft_ffill_ck_")
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "30 minutes")
    val streamed = spark.read.parquet(out)
      .select("bucket", "user_id", "value")
    assert(streamed.count() > 0, "stream emitted no cells")
    // exactly-once per grid cell
    val keys = streamed.select("bucket", "user_id").collect().toSeq
    assert(keys.size == keys.toSet.size, "duplicate grid cells")
    // batch oracle: the real batch operator, same grid, same plain avg
    val ev = spark.read.schema(graft.Catalog.schemas("events"))
      .parquet(in)
    val batch = graft.ops.Time.resampleFfill(spark, ev, "user_id", "ts",
      "value", base, end, step, graft.ops.Exact.davg(col("value")))
    // finalized prefix: the final watermark is max ts - delay; every
    // bucket whose end is at or before it must have been emitted
    val maxSec = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val wm = maxSec - 1800L
    val frontier = base + ((wm - step - base) / step) * step
    val sPrefix = streamed.where(col("bucket") <= frontier)
    val bPrefix = batch.where(col("bucket") <= frontier)
    assert(sPrefix.count() > 0, "prefix compare is vacuous")
    assert(sPrefix.count() == bPrefix.count(),
      s"stream ${sPrefix.count()} cells vs batch ${bPrefix.count()}")
    // nothing streamed — prefix or not — is absent from the batch grid
    assert(streamed.join(batch.select("bucket", "user_id"),
      Seq("bucket", "user_id"), "left_anti").count() == 0)
    // cell-for-cell: null-ness exact (leading nulls + carries), values
    // equal to fp-accumulation-order tolerance
    val j = sPrefix.join(
      bPrefix.select(col("bucket"), col("user_id"),
        col("value").as("bvalue")),
      Seq("bucket", "user_id"), "full_outer")
    assert(j.where(col("value").isNull =!= col("bvalue").isNull)
      .count() == 0, "null-ness mismatch")
    val defined = j.where(col("value").isNotNull)
    assert(defined.count() > 0)
    val maxDiff = defined.agg(max(abs(col("value") - col("bvalue"))))
      .head().getDouble(0)
    assert(maxDiff < 1e-9, s"max value diff $maxDiff")
    // non-vacuity of the INTERESTING semantics: u1's gap buckets were
    // emitted as carries (value present, no raw tick in the bucket),
    // and u2 has leading nulls
    val u1gap = sPrefix.where(col("user_id") === 1L &&
      col("bucket") >= base + 6000L && col("bucket") < base + 18000L)
    assert(u1gap.count() > 0 &&
      u1gap.where(col("value").isNull).count() == 0,
      "u1's gap was not carry-filled")
    assert(sPrefix.where(col("user_id") === 2L &&
      col("value").isNull).count() > 0, "u2 has no leading nulls")
  }

  /** w17: streamed per-day corr matrices equal the batch chain up to
    * the watermark.
    */
  protected def checkWindowedCorr(): Unit = {
    // the fixture corpus is far too sparse for ANY defined pairwise
    // correlation (1000 ticks over 15 users and 30 days — no pair
    // shares two buckets even hourly), so the stream ingests staged
    // dense ticks: 3 correlated-by-construction series, one tick per
    // 5 minutes for 2.5 days. Deterministic values (distinct affine +
    // oscillating shapes per series) make every daily matrix cell
    // defined and reproducible.
    val in = tmp("graft_corr_in_")
    val base = 1700006400L // aligned to a UTC day boundary
    val users = Seq(0L, 1L, 2L)
    val rows = for {
      t <- 0L until (86400L * 5 / 2) by 300L
      u <- users
    } yield evRow(t * 10 + u, base + t, u,
      // per-series deterministic shape: affine trend + per-series
      // phase-shifted sawtooth, so no pair is exactly collinear
      u.toDouble + 0.001 * t + ((t / 300 + 7 * u) % 13).toDouble)
    stageFile(in, "ticks.parquet", base * 1000, rows)
    val out = tmp("graft_corr_out_")
    val ck = tmp("graft_corr_ck_")
    Streams.windowedCorr(spark, in, out, ck, users,
      bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    val all = spark.read.parquet(out)
      .select("window_start", "i", "j", "rho")
    assert(all.count() > 0, "stream emitted no matrices")
    // batch oracle: the same three-operator chain on the static table.
    // The watermark is computed over the FILTERED stream (the plan
    // filters to the series universe before withWatermark), so the
    // cutoff is the staged max ts minus the delay; one span width of
    // safety margin keeps the boundary span (emitted only when
    // wm >= end exactly) out of the prefix compare — the left-anti
    // check below still covers it.
    val ev = spark.read.schema(graft.Catalog.schemas("events"))
      .parquet(in)
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val span = 86400L
    val cut = unix_timestamp(lit(maxTs)) - 3600L - span
    val batchAll = Streams.windowedCorrPlan(ev, users,
        "10 minutes", "1 day", watermark = None)
    val streamed = all.where(col("window_start") + span <= cut)
    val batch = batchAll.where(col("window_start") + span <= cut)
    assert(streamed.count() > 0, "prefix compare is vacuous")
    assert(streamed.count() == batch.count(),
      s"stream ${streamed.count()} rows vs batch ${batch.count()}")
    // nothing streamed — prefix or not — is absent from the batch set
    assert(all.join(batchAll.select("window_start", "i", "j"),
      Seq("window_start", "i", "j"), "left_anti").count() == 0)
    // rho BIT-equal: the co-moments merge as exact integers, so the
    // different partial orders of stream and batch cannot move a bit;
    // undefined (null) cells agree too, and defined rhos must actually
    // be compared
    val j = streamed.join(batch
        .select(col("window_start"), col("i"), col("j"),
          col("rho").as("brho")),
      Seq("window_start", "i", "j"), "full_outer")
    assert(j.where(!(col("rho") <=> col("brho"))).count() == 0)
    val defined = j.where(col("rho").isNotNull && col("brho").isNotNull)
    assert(defined.count() > 0, "no defined rho pair in the compare")
  }

  /** w18: ffill stream chained into windowedCorrFromCells equals the
    * batch FILLED chain.
    */
  protected def checkFilledCorrChain(): Unit = {
    val in = tmp("graft_fcorr_in_")
    val base = 1700006400L
    val step = 600L
    val end = base + 86400L * 2
    val users = Seq(0L, 1L, 2L)
    // deterministic correlated series WITH GAPS: u2 skips every third
    // bucket, so the filled chain genuinely differs from the unfilled
    // one (the carry changes its correlations)
    val rows = for {
      t <- 0L until (86400L * 2) by step
      u <- users
      if u != 2L || (t / step) % 3 != 0
    } yield evRow(t * 10 + u, base + t, u,
      u.toDouble + 0.001 * t + ((t / step + 5 * u) % 11).toDouble)
    stageFile(in, "ticks.parquet", base * 1000, rows)
    val cellsOut = tmp("graft_fcorr_cells_")
    Streams.resampleFfillStream(spark, in, cellsOut, tmp("graft_fcorr_ck1_"),
      base, end, step, watermark = "1 hour")
    val corrOut = tmp("graft_fcorr_corr_")
    Streams.windowedCorrFromCells(spark, cellsOut, corrOut,
      tmp("graft_fcorr_ck2_"), users,
      bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    val streamed = spark.read.parquet(corrOut)
      .select("window_start", "i", "j", "rho")
    assert(streamed.count() > 0, "chained corr emitted nothing")
    // batch comparator: the SAME corr plan over the batch-filled panel
    val ev = spark.read.schema(graft.Catalog.schemas("events"))
      .parquet(in)
    val batchCells = graft.ops.Time.resampleFfill(spark, ev, "user_id",
        "ts", "value", base, end, step, graft.ops.Exact.davg(col("value")))
      .select(timestamp_seconds(col("bucket")).as("ts"), col("user_id"),
        col("value"))
    val batch = Streams.windowedCorrPlan(batchCells, users,
      "10 minutes", "1 day", watermark = None)
    // prefix: query 1's frontier is maxTs - 1h (minus one grid step);
    // query 2's watermark then trails that frontier by another hour —
    // spans whose end clears maxTs - 2h - step are certainly emitted;
    // one extra step of margin keeps the boundary span out
    val maxSec = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val span = 86400L
    val cut = maxSec - 7200L - 2 * step
    val sPrefix = streamed.where(col("window_start") + span <= cut)
    val bPrefix = batch.where(col("window_start") + span <= cut)
    assert(sPrefix.count() > 0, "prefix compare is vacuous")
    assert(sPrefix.count() == bPrefix.count(),
      s"stream ${sPrefix.count()} vs batch ${bPrefix.count()}")
    val j = sPrefix.join(bPrefix
        .select(col("window_start"), col("i"), col("j"),
          col("rho").as("brho")),
      Seq("window_start", "i", "j"), "full_outer")
    // bit-equal, nulls included: integer co-moment merges
    assert(j.where(!(col("rho") <=> col("brho"))).count() == 0)
    val defined = j.where(col("rho").isNotNull)
    assert(defined.count() > 0)
    // non-vacuity: the fill is load-bearing — the UNFILLED chain over
    // the same ticks disagrees with the filled one on this fixture
    val unfilled = Streams.windowedCorrPlan(ev, users,
      "10 minutes", "1 day", watermark = None)
      .where(col("window_start") + span <= cut)
      .select(col("window_start"), col("i"), col("j"),
        col("rho").as("urho"))
    val cmp = bPrefix.join(unfilled, Seq("window_start", "i", "j"))
      .where(abs(col("rho") - col("urho")) > 1e-6)
    assert(cmp.count() > 0,
      "fixture makes filled == unfilled — gap fixture broken")
  }

  /** w21's restart: first-seen dedup state survives the checkpoint —
    * replayed ids emit nothing, new ids emit exactly once. Under
    * RocksDB this is the restart that matters most at 100 TB: the
    * flatMapGroupsWithState user state being restored is the
    * corpus-sized first-seen key set. Returns the checkpoint dir.
    */
  protected def checkDedupRestart(): String = {
    val t0 = graft.SparkEntry.jan2
    val in = tmp("graft_dedup_rs_in_")
    stageFile(in, "d1.parquet", 1000000L, Seq(
      evRow(1L, t0, 1L, 1.0), evRow(2L, t0 + 10, 2L, 2.0),
      evRow(3L, t0 + 20, 3L, 3.0)))
    val out = tmp("graft_dedup_rs_out_")
    val ck = tmp("graft_dedup_rs_ck_")
    Streams.dedupStream(spark, in, out, ck)
    assert(spark.read.parquet(out).count() == 3)
    // second drain against the SAME checkpoint: ids 2 and 3 replayed
    // (identical payload), id 4 new — the flatMapGroupsWithState
    // first-seen state must have survived the restart, so only 4 emits
    stageFile(in, "d2.parquet", 2000000L, Seq(
      evRow(2L, t0 + 30, 2L, 2.0), evRow(3L, t0 + 40, 3L, 3.0),
      evRow(4L, t0 + 50, 4L, 4.0)))
    Streams.dedupStream(spark, in, out, ck)
    val got = spark.read.parquet(out)
      .select("event_id", "user_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(got == Seq((1L, 1L, 1.0), (2L, 2L, 2.0), (3L, 3L, 3.0),
      (4L, 4L, 4.0)), s"restart must add only the new id: $got")
    ck
  }

  /** w24: the WATERMARK-BOUNDED dedup's full contract — duplicates
    * within the watermark drop (in-batch and cross-batch), a
    * post-eviction duplicate re-emits. Shared with the RocksDB matrix:
    * the evicted-and-re-admitted key path exercises state REMOVAL on
    * the provider, which none of the other recipes' happy paths do.
    */
  protected def checkDedupBounded(): Unit = {

    val t0 = graft.SparkEntry.jan2
    val in = tmp("graft_dedupb_in_")
    // b1: idA, idB, an IN-BATCH duplicate of idB (payload-identical),
    // and a clock at t0+3h that drives the post-batch watermark to
    // t0+2h (delay 1h)
    stageFile(in, "b1.parquet", 1000000L, Seq(
      evRow(1L, t0, 1L, 1.0), evRow(2L, t0 + 10, 2L, 2.0),
      evRow(2L, t0 + 300, 2L, 2.0),
      evRow(100L, t0 + 10800, 9L, 1.0)))
    // b2: a CROSS-BATCH duplicate of idB 45 min after its twin — the
    // late filter (wm as of b1's batch = 0) admits it and idB's state
    // (evicted only at this batch's END, when the t0+2h watermark
    // applies) still holds, so it must drop; plus a clock-keeper
    stageFile(in, "b2.parquet", 2000000L, Seq(
      evRow(2L, t0 + 2700, 2L, 2.0),
      evRow(101L, t0 + 11400, 9L, 1.0)))
    // b3: idA AGAIN at t0+2h30m — above b3's late-filter watermark
    // (t0+2h) but its twin's state was evicted at b2's end (expires
    // t0+1h < t0+2h): the bounded contract says this RE-EMITS. A
    // distinct value makes the re-emission visible in the output.
    stageFile(in, "b3.parquet", 3000000L, Seq(
      evRow(1L, t0 + 9000, 1L, 99.0),
      evRow(102L, t0 + 14400, 9L, 1.0)))
    val out = tmp("graft_dedupb_out_")
    val ck = tmp("graft_dedupb_ck_")
    Streams.dedupStreamBounded(spark, in, out, ck,
      maxFilesPerTrigger = Some(1))
    val got = spark.read.parquet(out)
      .select("event_id", "user_id", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(got == Seq((1L, 1L, 1.0), (1L, 1L, 99.0), (2L, 2L, 2.0),
      (100L, 9L, 1.0), (101L, 9L, 1.0), (102L, 9L, 1.0)),
      s"bounded-dedup contract violated: $got")
    }

  /** The kill-and-redrain case: a span's OPEN corr-UDAF state survives
    * the checkpoint and merges the post-restart ticks — two drains
    * equal one. Returns the restart run's checkpoint dir for
    * provider-artifact assertions.
    */
  protected def checkCorrRestartMidSpan(): String = {
    // The deepest batch-boundary case the exactly-once test above does
    // not cover: kill the query while a span's CO-MOMENT state is open
    // (half its buckets aggregated), land the other half, re-drain from
    // the checkpoint. Lost or recomputed-from-scratch state would emit
    // the span's matrix from only the post-restart half; the asserts
    // compare the two-drain output row-for-row (rho included) against
    // one uninterrupted drain AND pin that the post-restart-only data
    // gives a measurably different rho — so agreement proves a real
    // cross-restart state merge, not a lucky recompute.
    val base = 1700006400L // UTC day boundary
    val users = Seq(0L, 1L)
    def ticks(fromSec: Long, untilSec: Long): Seq[org.apache.spark.sql.Row] =
      for {
        t <- fromSec until untilSec by 600L
        u <- users
      } yield evRow(t * 10 + u, base + t, u,
        u.toDouble + 0.001 * t + ((t / 600 + 7 * u) % 13).toDouble)
    val cutSec = 86400L * 3 / 2 // kill point: day 1 half-aggregated
    def run(in: String, out: String, ck: String): Unit =
      Streams.windowedCorr(spark, in, out, ck, users,
        bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    // run A: drain to the kill point, land the rest, re-drain
    val inA = tmp("graft_corr_rs_inA_")
    val outA = tmp("graft_corr_rs_outA_")
    val ckA = tmp("graft_corr_rs_ckA_")
    stageFile(inA, "d1.parquet", 1000000L, ticks(0L, cutSec))
    run(inA, outA, ckA)
    val firstSpans = spark.read.parquet(outA)
      .select("window_start").collect().map(_.getLong(0)).toSet
    // the kill really happened mid-span: day 1 is open, not emitted
    assert(firstSpans == Set(base),
      s"first drain should emit exactly day 0, got $firstSpans")
    stageFile(inA, "d2.parquet", 2000000L, ticks(cutSec, 86400L * 3))
    run(inA, outA, ckA)
    // run B: identical input, one uninterrupted drain
    val inB = tmp("graft_corr_rs_inB_")
    val outB = tmp("graft_corr_rs_outB_")
    val ckB = tmp("graft_corr_rs_ckB_")
    stageFile(inB, "d1.parquet", 1000000L, ticks(0L, cutSec))
    stageFile(inB, "d2.parquet", 2000000L, ticks(cutSec, 86400L * 3))
    run(inB, outB, ckB)
    val a = spark.read.parquet(outA).select("window_start", "i", "j", "rho")
    val b = spark.read.parquet(outB)
      .select(col("window_start"), col("i"), col("j"), col("rho").as("brho"))
    assert(a.count() == b.count(),
      s"restart drain ${a.count()} rows vs single drain ${b.count()}")
    val j = a.join(b, Seq("window_start", "i", "j"), "full_outer")
    // bit-equal, nulls included: the batch orders differ across the
    // restart, but the co-moments merge as exact integers
    assert(j.where(!(col("rho") <=> col("brho"))).count() == 0,
      "rho diverged across the restart")
    val defined = j.where(col("rho").isNotNull)
    assert(defined.count() > 0, "rho compare is vacuous")
    // day 1 crossed the restart and was emitted by the second drain
    val day1 = a.where(col("window_start") === base + 86400L)
    assert(day1.count() == 1, "day-1 span missing after restart")
    // non-vacuity of the merge: day 1 recomputed from ONLY the
    // post-restart ticks reads a different rho — state had to carry
    val ev2 = spark.read.schema(graft.Catalog.schemas("events"))
      .parquet(inB)
      .where(unix_timestamp(col("ts")) >= base + cutSec)
    val d2Only = Streams.windowedCorrPlan(ev2, users,
        "10 minutes", "1 day", watermark = None)
      .where(col("window_start") === base + 86400L)
      .head().getAs[Double]("rho")
    val merged = day1.head().getAs[Double]("rho")
    assert(math.abs(merged - d2Only) > 1e-6,
      s"fixture cannot distinguish merge from recompute: " +
        s"merged=$merged d2only=$d2Only")
    ckA
  }
}
