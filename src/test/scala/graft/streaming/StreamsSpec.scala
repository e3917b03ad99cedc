package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The streaming tier on the DEFAULT (HDFS-backed, on-heap) state store
  * provider. The eight operator oracles and the deepest restart case
  * live in [[StreamRecipes]], shared with [[RocksDbStreamsSpec]]'s
  * RocksDB matrix; the boundary/restart cases beyond that matrix stay
  * inline here.
  */
class StreamsSpec extends StreamRecipes {

  test("windowedMeans drains the bounded stream and matches batch") {
    val ck = checkWindowedMeans()
    // non-vacuity of the provider matrix: the DEFAULT provider's state
    // checkpoint is version.delta files (RocksDbStreamsSpec asserts the
    // inverse artifact shape on the same recipe)
    val arts = StreamsSpec.stateArtifacts(ck)
    assert(arts.exists(_.endsWith(".delta")),
      s"expected HDFS-backed .delta state files, got: ${arts.take(5)}")
  }

  test("sessionStream emits watermark-closed sessions matching batch") {
    checkSessionStream()
  }

  test("session cutoff boundary: a 30-minute-gap chain reaching the " +
    "watermark cutoff is excluded from the emitted (graded) set") {
    // w19's determinism rests on "a 30-minute-gap chain cannot reach
    // the slice end minus the watermark at fixture density". This pins
    // what happens if one ever DOES: each new event extends the
    // session's end past max(ts) − 1 h, so the end never falls behind
    // the watermark, the session stays open state, and the emitted
    // (graded) set simply excludes it — a fixture change creating such
    // a chain surfaces here as a understood exclusion, not as an
    // unexplained oracle mismatch.
    val jan2 = graft.SparkEntry.jan2
    val t0 = jan2 + 3600
    // user 1: a plainly closed two-event session inside the graded day
    val closedRows = Seq(evRow(1L, t0, 1L, 1.0),
      evRow(2L, t0 + 600, 1L, 1.0))
    // user 2: events every 29 min from t0 to past the next midnight —
    // every inter-event gap is under the 30-min session gap, so the
    // whole chain is ONE session whose start is inside the graded day
    // and whose end outruns the final watermark (last ts − 1 h)
    val chainRows = (0 to 50).map(i =>
      evRow(100L + i, t0 + i * 1740L, 2L, 1.0))
    val in = tmp("graft_sess_cut_in_")
    stageFile(in, "events.parquet", 1000000L, closedRows ++ chainRows)
    val out = tmp("graft_sess_cut_out_")
    val ck = tmp("graft_sess_cut_ck_")
    Streams.sessionStream(spark, in, out, ck)
    val got = spark.read.parquet(out)
    val graded = got.where(col("session_start") >= jan2 &&
      col("session_start") < jan2 + 86400)
    // the closed session is emitted and graded, exactly once
    val s1 = graded.where(col("user_id") === 1L).collect()
    assert(s1.length == 1, s1.mkString(","))
    assert(s1.head.getAs[Long]("session_start") == t0)
    assert(s1.head.getAs[Long]("session_end") == t0 + 600 + 1800)
    assert(s1.head.getAs[Long]("n_events") == 2L)
    // the cutoff-reaching chain is excluded WHOLESALE — no partial
    // session, no row at all, even though its start lies in the graded
    // window (the batch oracle would include it: that divergence is
    // precisely why w19's fixture-density argument matters)
    assert(got.where(col("user_id") === 2L).count() == 0)
  }

  test("clickViewJoin matches the batch interval join on a bounded drain") {
    checkClickViewJoin()
  }

  test("clickViewJoin multi-batch boundary: watermark-evicted click " +
    "state cannot match a later view; pre-eviction late views still " +
    "can (inner-join at-least semantics)") {
    // w20's oracle determinism rests on a single-batch drain (starting
    // watermark 0 ⇒ nothing late ⇒ inner join ≡ batch join). This pins
    // the OTHER side of that argument, with the semantics Spark
    // actually gives an inner stream-stream join: lateness handling is
    // AT-LEAST, not exact — a late view arriving while the matching
    // click is still buffered (state cleanup runs at end-of-batch, so
    // eviction lags the watermark by one batch) still emits its match,
    // erring toward the full batch join; but once the watermark-driven
    // cleanup HAS evicted the click's interval, a later matching view
    // finds nothing. The second half is the property that matters at
    // 100 TB: join state is bounded by the watermark, never by the
    // stream's length.
    val t0 = graft.SparkEntry.jan2
    val in = tmp("graft_ssj_late_in_")
    // batch 1: an early click (user 2), plus a click+view pair two
    // hours later (user 3) that matches in-batch and drives the
    // watermark to t0+2h+60s − 1h
    stageFile(in, "b1.parquet", 1000000L, Seq(
      evRow(10L, t0 + 60, 2L, 1.0),
      evRow(11L, t0 + 7200, 3L, 1.0),
      evRow(12L, t0 + 7260, 3L, 1.0, tpe = "view")))
    // batch 2: a late view for user 2 (t0+120, ~59 min below the
    // watermark, 60 s from click 10) — matches, because click 10's
    // state is evicted only at this batch's END; and an above-watermark
    // view for user 3 — the ordinary cross-batch match with click 11
    stageFile(in, "b2.parquet", 2000000L, Seq(
      evRow(13L, t0 + 120, 2L, 1.0, tpe = "view"),
      evRow(14L, t0 + 7320, 3L, 1.0, tpe = "view")))
    // batch 3: another view matching click 10 (120 s apart) — by now
    // the watermark-driven cleanup has removed the click's interval
    // from state, so NO match may emit
    stageFile(in, "b3.parquet", 3000000L, Seq(
      evRow(15L, t0 + 180, 2L, 1.0, tpe = "view")))
    val out = tmp("graft_ssj_late_out_")
    val ck = tmp("graft_ssj_late_ck_")
    Streams.clickViewJoin(spark, in, out, ck,
      maxFilesPerTrigger = Some(1))
    val got = spark.read.parquet(out)
      .select("event_id_c", "event_id_v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((11L, 12L), (11L, 14L), (10L, 13L)),
      s"expected user-3 matches + the pre-eviction late match, and " +
        s"NEVER the post-eviction view 15, got $got")
  }

  test("clickViewJoin restart between every batch: the watermark " +
    "CONTRACT survives the checkpoint — on-time cross-batch matches " +
    "emit, the process-lifetime late-row grace does not") {
    // The SAME three files as the multi-batch test, drained by three
    // separate query starts on one checkpoint. What the checkpoint
    // carries across a restart is exactly the watermark contract and
    // the state it implies, measured here against the continuous run's
    // {(11,12),(11,14),(10,13)}:
    //   * (11,14) — an ON-TIME cross-restart match: view 14 arrives
    //     above the restored watermark and finds click 11's buffered
    //     interval in the restored state store. Lost state would drop
    //     it.
    //   * (10,13) — the continuous run's pre-eviction LATE match — is
    //     correctly ABSENT: the "eviction lags the watermark by one
    //     batch" grace is a batch-timing artifact of one process
    //     lifetime, and the restarted query applies the restored
    //     watermark to its input up front. Nothing promised is lost —
    //     view 13 was below the watermark, so its emission was always
    //     best-effort — but anyone equating restart with continuation
    //     for LATE data is wrong, and this pins it.
    //   * (10,15) absent exactly as in the continuous run: a RESET
    //     watermark (the failure this test exists to catch) would
    //     wrongly re-admit click 10's interval and emit it.
    val t0 = graft.SparkEntry.jan2
    val in = tmp("graft_ssj_rs_in_")
    val out = tmp("graft_ssj_rs_out_")
    val ck = tmp("graft_ssj_rs_ck_")
    stageFile(in, "b1.parquet", 1000000L, Seq(
      evRow(10L, t0 + 60, 2L, 1.0),
      evRow(11L, t0 + 7200, 3L, 1.0),
      evRow(12L, t0 + 7260, 3L, 1.0, tpe = "view")))
    Streams.clickViewJoin(spark, in, out, ck)
    stageFile(in, "b2.parquet", 2000000L, Seq(
      evRow(13L, t0 + 120, 2L, 1.0, tpe = "view"),
      evRow(14L, t0 + 7320, 3L, 1.0, tpe = "view")))
    Streams.clickViewJoin(spark, in, out, ck)
    stageFile(in, "b3.parquet", 3000000L, Seq(
      evRow(15L, t0 + 180, 2L, 1.0, tpe = "view")))
    Streams.clickViewJoin(spark, in, out, ck)
    val got = spark.read.parquet(out)
      .select("event_id_c", "event_id_v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((11L, 12L), (11L, 14L)),
      s"restarted drains diverged from the watermark contract: $got")
  }

  test("dedupStream keeps exactly one row per event_id") {
    checkDedupStream()
  }

  test("dedupStream restart: first-seen state survives the checkpoint — " +
    "replayed ids emit nothing, new ids emit exactly once") {
    checkDedupRestart()
    ()
  }

  test("dedupStreamBounded: duplicates within the watermark drop " +
    "(in-batch and cross-batch), a post-eviction duplicate re-emits — " +
    "the bounded-state contract, both sides pinned") {
    checkDedupBounded()
  }

  test("windowedMeans drops late rows past the watermark, accepts the " +
    "rest") {
    val base = graft.SparkEntry.sec("2024-01-02T10:00:00")
    val h = 3600L
    val in = tmp("graft_late_win_in_")
    val now = System.currentTimeMillis()
    // Spark applies the late-event filter with the watermark as of the
    // PREVIOUS batch (eviction uses the updated one), so the watermark
    // advance must land a full batch before the late row arrives:
    // batch 1 (two 10:00-window rows + a 13:00 row) raises the
    // watermark (1h delay) to 12:00, batch 2 keeps the clock moving,
    // batch 3 carries the late rows.
    stageFile(in, "b1.parquet", now - 180000, Seq(
      evRow(1, base, 1, 1.0),
      evRow(2, base + 30, 1, 3.0),
      evRow(3, base + 3 * h, 1, 5.0)))
    stageFile(in, "b2.parquet", now - 120000, Seq(
      evRow(4, base + 3 * h + 1800, 1, 5.0)))
    // batch 3: a row for the long-finalized 10:00 window (2h behind the
    // 12:00 watermark -> DROPPED), a 12:45 row behind max-seen event
    // time but inside the watermark -> ACCEPTED, and a 14:00 row that
    // advances the final watermark to 13:00 so the survivor emits
    stageFile(in, "b3.parquet", now, Seq(
      evRow(5, base + 10, 1, 100.0), // late past watermark
      evRow(6, base + 2 * h + 2700, 1, 7.0), // late, within watermark
      evRow(7, base + 4 * h, 1, 9.0)))
    val out = tmp("graft_late_win_out_")
    val ck = tmp("graft_late_win_ck_")
    val batches = Streams.windowedMeans(spark, in, out, ck,
      maxFilesPerTrigger = Some(1))
    assert(batches >= 3)
    val got = spark.read.parquet(out)
      .select(unix_timestamp(col("bucket_start")).as("b"),
        col("avg_value"), col("n"))
      .orderBy("b").collect().toSeq.map(r =>
        (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // 10:00 window holds ONLY batch 1's rows (n=2, avg=2.0): the late
    // v=100 row was dropped against its already-evicted window, not
    // merged and not re-emitted. The 12:45 window emits the accepted
    // late row. The 13:00/13:30/14:00 windows stay open (the 13:00
    // watermark has not passed their ends) — exactly two closed rows.
    assert(got == Seq(
      (base, 2.0, 2L),
      (base + 2 * h + 2700, 7.0, 1L)))
  }

  test("sessionStream drops late rows past the watermark, accepts the " +
    "rest") {
    val base = graft.SparkEntry.sec("2024-01-02T10:00:00")
    val h = 3600L
    val in = tmp("graft_late_sess_in_")
    val now = System.currentTimeMillis()
    // same one-batch-lag watermark staging as the windowed test:
    // batch 1: a two-event session at 10:00-10:40 (gap 30m) + a 13:00
    // event that pushes the watermark to 12:00
    stageFile(in, "b1.parquet", now - 180000, Seq(
      evRow(1, base, 1, 1.0),
      evRow(2, base + 600, 1, 1.0),
      evRow(3, base + 3 * h, 1, 1.0)))
    // batch 2: a 13:05 event merging into the 13:00 session
    stageFile(in, "b2.parquet", now - 120000, Seq(
      evRow(4, base + 3 * h + 300, 1, 1.0)))
    // batch 3: a 10:05 row inside the long-closed first session (past
    // the watermark -> DROPPED, count stays 2), a 12:20 row inside the
    // watermark -> its own session, and a 15:00 row that advances the
    // final watermark to 14:00 so every earlier session closes
    stageFile(in, "b3.parquet", now, Seq(
      evRow(5, base + 300, 1, 1.0), // late past watermark
      evRow(6, base + 2 * h + 1200, 1, 1.0), // late, within watermark
      evRow(7, base + 5 * h, 1, 1.0)))
    val out = tmp("graft_late_sess_out_")
    val ck = tmp("graft_late_sess_ck_")
    Streams.sessionStream(spark, in, out, ck,
      maxFilesPerTrigger = Some(1))
    val got = spark.read.parquet(out)
      .select("session_start", "session_end", "n_events")
      .orderBy("session_start").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    // first session is [10:00, 10:40) with n=2 — the dropped 10:05 row
    // neither raised the count nor re-opened the session; the accepted
    // 12:20 row is its own closed session; 13:00+13:05 merged into
    // [13:00, 13:35); 15:00's session stays open
    assert(got == Seq(
      (base, base + 600 + 1800, 2L),
      (base + 2 * h + 1200, base + 2 * h + 3000, 1L),
      (base + 3 * h, base + 3 * h + 300 + 1800, 2L)))
  }

  test("incrementalDedupStream verdicts equal d8's batch form") {
    checkIncrementalDedup()
  }

  /** Synthetic fixture with a GUARANTEED within-delta dup (the sf0.001
    * fixture has none): two new top-id docs share a nonsense text absent
    * from the corpus, so the second can only be verdicted via the
    * first's signatures. Returns (fixture dir, threshold, batch d8
    * verdicts, delta docs, the split id m+2 whose verdict requires
    * cross-batch state).
    */
  private def syntheticDupFixture(): (String, Long,
      Seq[org.apache.spark.sql.Row], org.apache.spark.sql.DataFrame,
      Long) = {
    import org.apache.spark.sql.Row
    val base = graft.Catalog.load(spark, "/root/testdata/sf0.001",
      "documents")
    val m = base.agg(max("doc_id")).head().getLong(0)
    val nonsense = (1 to 40).map(i => s"zqxv$i").mkString(" ")
    val extra = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(m + 1, nonsense, "en", "synthetic", nonsense.length.toLong),
        Row(m + 2, nonsense, "en", "synthetic", nonsense.length.toLong)),
      graft.Catalog.schemas("documents"))
    val fx = tmp("graft_incr_fx_")
    base.unionByName(extra).write.mode("overwrite")
      .parquet(s"$fx/documents.parquet")
    val docs = graft.Catalog.load(spark, fx, "documents")
    val th = (m + 2) * 9 / 10
    val batch = graft.SparkEntry.queries("d8_incremental_dedup")(spark, fx)
      .collect().toSeq
    val jStar = batch.find(_.getString(3) == "dup_of_delta")
      .getOrElse(fail("synthetic within-delta dup missing"))
    assert(jStar.getLong(0) == m + 2 && jStar.getLong(1) == m + 1)
    (fx, th, batch, docs.where(col("doc_id") >= th), m + 2)
  }

  test("incrementalDedupStream multi-batch: later batches see earlier " +
    "deltas as corpus (state append)") {
    val (fx, th, batch, delta, mid) = syntheticDupFixture()
    val in = tmp("graft_incr_mb_in_")
    // two parquet files; mtimes force FileStreamSource to take the
    // lower-id file first, so every cross-file pair (i < j) has i in the
    // earlier batch — the only order under which batch-equality is the
    // documented semantics. The (m+1, m+2) pair spans the two
    // micro-batches, so m+2's verdict is only correct if batch 1's
    // signatures were appended to the stream's state
    val now = System.currentTimeMillis()
    stageParquet(in, delta.where(col("doc_id") < mid), "a_low.parquet",
      now - 120000)
    stageParquet(in, delta.where(col("doc_id") >= mid), "b_high.parquet",
      now)
    val out = tmp("graft_incr_mb_out_")
    val ck = tmp("graft_incr_mb_ck_")
    Streams.incrementalDedupStream(spark, in, fx, out, ck, th,
      maxFilesPerTrigger = Some(1))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "match_id", "n_matches", "verdict")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
  }

  test("incrementalDedupStream restart: appended state survives a second " +
    "invocation on the same checkpoint") {
    val (fx, th, batch, delta, mid) = syntheticDupFixture()
    val in = tmp("graft_incr_rs_in_")
    val out = tmp("graft_incr_rs_out_")
    val ck = tmp("graft_incr_rs_ck_")
    // invocation 1 drains only the low-id half
    stageParquet(in, delta.where(col("doc_id") < mid), "a_low.parquet",
      System.currentTimeMillis() - 120000)
    Streams.incrementalDedupStream(spark, in, fx, out, ck, th)
    // invocation 2 on the SAME checkpoint sees only the newly staged
    // high-id half (the file log suppresses re-processing) — its dup
    // verdict is only correct if invocation 1's appended signatures
    // survived, i.e. the state seed must not overwrite on restart
    stageParquet(in, delta.where(col("doc_id") >= mid), "b_high.parquet",
      System.currentTimeMillis())
    Streams.incrementalDedupStream(spark, in, fx, out, ck, th)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "match_id", "n_matches", "verdict")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
  }

  test("resampleFfillStream: streamed filled grid equals batch " +
    "resampleFfill on the finalized prefix") {
    checkResampleFfill()
  }

  test("resampleFfillStream restart: a later file extends the filled " +
    "grid exactly once") {
    val in = tmp("graft_ffill2_in_")
    val base = 1700006400L
    val step = 600L
    val end = base + 86400L * 2
    def ticks(from: Long, until: Long): Seq[org.apache.spark.sql.Row] =
      for (t <- from until until by (step * 2)) yield // every OTHER bucket
        evRow(t * 10, base + t, 5L, 1.0 + 0.01 * t)
    stageFile(in, "d0.parquet", base * 1000, ticks(0L, 86400L))
    val out = tmp("graft_ffill2_out_")
    val ck = tmp("graft_ffill2_ck_")
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "30 minutes")
    val first = spark.read.parquet(out)
      .select("bucket", "user_id").collect().toSet
    assert(first.nonEmpty, "first drain emitted nothing")
    stageFile(in, "d1.parquet", base * 1000 + 1000,
      ticks(86400L, 86400L + 43200L))
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "30 minutes")
    val all = spark.read.parquet(out)
      .select("bucket", "user_id").collect().toSeq
    assert(all.size == all.toSet.size,
      s"duplicate cells after restart: ${all.size} vs ${all.toSet.size}")
    assert(all.toSet.size > first.size, "restart emitted nothing new")
  }

  test("resampleFfillStream: a late tick replayed after the grid " +
    "completed cannot re-emit cells (tombstone state)") {
    val in = tmp("graft_ffill4_in_")
    val base = 1700006400L
    val step = 600L
    val end = base + 7200L // 12-bucket grid, completes quickly
    val rows = for (t <- 0L until 7200L by step) yield
      evRow(t * 10, base + t, 9L, 1.0 + t)
    stageFile(in, "d0.parquet", base * 1000, rows)
    // a post-grid tick (another series, ts past the grid end) drives
    // the watermark beyond the grid end — it never enters the grid
    // (ffillAdvance's upper-bound guard) but its event time finalizes
    // series 9's LAST bucket, reaching the tombstone branch
    stageFile(in, "d1.parquet", base * 1000 + 1000,
      Seq(evRow(999L, end + 120, 8L, 5.0)))
    val out = tmp("graft_ffill4_out_")
    val ck = tmp("graft_ffill4_ck_")
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "1 minute")
    val first = spark.read.parquet(out)
      .where(col("user_id") === 9L).select("bucket").collect().toSeq
    assert(first.size == 12, s"grid not complete: ${first.size} of 12")
    // now a LATE tick for the completed series 9 lands (an old
    // timestamp replayed into the source dir)
    stageFile(in, "late.parquet", base * 1000 + 2000,
      Seq(evRow(1000L, base + 600, 9L, 99.0)))
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "1 minute")
    val after = spark.read.parquet(out)
      .where(col("user_id") === 9L).select("bucket").collect().toSeq
    assert(after.size == after.toSet.size,
      s"late replay duplicated cells: ${after.size} vs ${after.toSet.size}")
    assert(after.size == 12, s"cell count changed: ${after.size}")
  }

  test("resampleFfillStream: a NaN tick is a NULL addend that still " +
    "counts, as in batch — [x, NaN] and NaN-only buckets equal " +
    "resampleFfill") {
    val in = tmp("graft_ffill_nan_in_")
    val base = 1700006400L
    val step = 600L
    val end = base + 3600L // 6-bucket grid
    val nan = Double.NaN
    stageFile(in, "d0.parquet", base * 1000, Seq(
      evRow(1L, base + 10, 3L, 1.5), evRow(2L, base + 20, 3L, nan), // [x, NaN]
      evRow(3L, base + 610, 3L, nan), // NaN only, after a mean: carried over
      evRow(4L, base + 1210, 3L, 2.25),
      evRow(5L, base + 610, 4L, nan), // NaN only, before any mean: NULL
      evRow(6L, base + 1810, 4L, 4.0)))
    // a post-grid tick of another series drives the watermark past the
    // grid end; it never enters the grid
    stageFile(in, "d1.parquet", base * 1000 + 1000,
      Seq(evRow(99L, end + 120, 8L, 5.0)))
    val out = tmp("graft_ffill_nan_out_")
    val ck = tmp("graft_ffill_nan_ck_")
    Streams.resampleFfillStream(spark, in, out, ck, base, end, step,
      watermark = "1 minute")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "user_id", "value").collect().map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val ev = spark.read.schema(graft.Catalog.schemas("events")).parquet(in)
    val batch = cells(graft.ops.Time.resampleFfill(spark, ev, "user_id",
      "ts", "value", base, end, step, graft.ops.Exact.davg(col("value"))))
    def series(u: Long, vs: Option[Double]*) =
      vs.zipWithIndex.map { case (v, k) => (base + k * step, u, v) }
    assert(batch == (series(3L, Some(0.75), Some(0.75), Some(2.25),
      Some(2.25), Some(2.25), Some(2.25)) ++
      series(4L, None, None, None, Some(4.0), Some(4.0), Some(4.0))).toSet)
    assert(cells(spark.read.parquet(out)) == batch)
  }

  test("filled continuous corr: ffill stream chained into " +
    "windowedCorrFromCells equals the batch FILLED chain") {
    checkFilledCorrChain()
  }

  test("documented limitation: a windowed aggregate cannot chain onto " +
    "the ffill stream in one query") {
    // windowedCorr's scaladoc says the filled continuous corr must run
    // as two chained queries because Spark rejects an aggregation
    // downstream of flatMapGroupsWithState in append mode. Pin that:
    // if a Spark upgrade lifts the restriction, this fails and the
    // single-query filled-corr chain should be built.
    val in = tmp("graft_ffill3_in_")
    val base = 1700006400L
    stageFile(in, "t.parquet", base * 1000,
      Seq(evRow(1L, base + 60, 0L, 1.0)))
    val cells = Streams.resampleFfillStreamPlan(
      Streams.eventsStream(spark, in), base, base + 3600, 600, "10 minutes")
    val agg = cells.toDF()
      .withColumn("ts", timestamp_seconds(col("bucket")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(avg("value").as("m"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      val q = agg.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append")
        .option("checkpointLocation", tmp("graft_ffill3_ck_"))
        .format("noop").start()
      try q.awaitTermination() finally q.stop()
    }
    // the intercept above is the real canary (a lifted restriction makes
    // it fail); this only pins that the rejection came from the
    // streaming UnsupportedOperationChecker rather than some unrelated
    // analysis error — by its error condition, with the message
    // substring as fallback so a condition rename alone can't fail it
    assert(e.getCondition == "_LEGACY_ERROR_TEMP_3102" ||
      e.getMessage.toLowerCase.contains("flatmapgroupswithstate"),
      s"condition=${e.getCondition} msg=${e.getMessage}")
  }

  test("windowedCorr: streamed per-day corr matrices equal the batch " +
    "chain up to the watermark") {
    checkWindowedCorr()
  }

  test("windowedCorr late data: an in-watermark late tick UPDATES the " +
    "open span's matrix, a beyond-watermark tick is dropped — output " +
    "equals the batch oracle restricted to admitted rows") {
    // The corr chain's multi-batch lateness contract, which the
    // single-batch oracle recipe (deterministic by design) never
    // exercises: the watermark filter in front of the FIRST stateful
    // operator (the bucket dedup-mean) admits a tick that is behind
    // max-seen event time but whose bucket the watermark has not yet
    // closed — the open day span's co-moment state must MERGE it — and
    // drops a tick whose bucket end is at or below the watermark. Both
    // directions are graded against the batch chain on exactly the
    // admitted row set, and both are pinned non-vacuous: the oracle
    // without the admitted tick, and the oracle with the dropped tick,
    // each read a measurably different rho.
    val base = 1700006400L // UTC day boundary
    val users = Seq(0L, 1L)
    // batch 1: dense correlated ticks for half of day 0, plus a clock
    // tick at t0+50000 — the batch-end watermark lands at t0+46400
    val d1 = (for {
      t <- 0L until 43200L by 600L
      u <- users
    } yield evRow(t * 10 + u, base + t, u,
      u.toDouble + 0.001 * t + ((t / 600 + 7 * u) % 13).toDouble)) :+
      evRow(900001L, base + 50000, 0L, 50.0)
    // batch 2: a pure clock-keeper — the late filter applies the
    // watermark as of TWO batches back (filter_N = wm over data through
    // batch N−2, eviction = through N−1; the windowedMeans late test
    // pins the same one-batch lag), so the 46400 watermark b1 raised
    // must sit a full batch before the late file for the filter to see
    // it. Verified live: with the late file as batch 2, BOTH ticks were
    // admitted (streamed rho matched the with-everything oracle).
    val clock2 = Seq(evRow(900006L, base + 50300, 0L, 50.0))
    // batch 3, filtered against the watermark as of batch 1 (46400):
    //   * two outlier ticks in bucket [46800, 47400) — behind max-seen
    //     (50300) but the bucket end 47400 clears the 46400 watermark:
    //     ADMITTED, and strong enough to move the day-0 rho
    //   * one outlier tick in bucket [30000, 30600), long closed by the
    //     watermark: DROPPED
    val lateIn = Seq(
      evRow(900002L, base + 47000, 0L, 500.0),
      evRow(900003L, base + 47100, 1L, -300.0))
    val lateBeyond = Seq(evRow(900004L, base + 30000, 0L, 10000.0))
    // batch 4: clock ticks pushing the final watermark to t0+106400 —
    // well past day 0's end, so the span emits in the trailing
    // eviction-only batch (whose op2/op3 late filters read the lagged
    // 46700, which the admitted bucket's 47399.999 event time clears)
    val d3 = Seq(evRow(900005L, base + 110000, 0L, 60.0))
    val in = tmp("graft_corr_late_in_")
    stageFile(in, "b1.parquet", 1000000L, d1)
    stageFile(in, "b2.parquet", 2000000L, clock2)
    stageFile(in, "b3.parquet", 3000000L, lateIn ++ lateBeyond)
    stageFile(in, "b4.parquet", 4000000L, d3)
    val out = tmp("graft_corr_late_out_")
    val ck = tmp("graft_corr_late_ck_")
    Streams.windowedCorr(spark, in, out, ck, users,
      bucket = "10 minutes", span = "1 day", watermark = "1 hour",
      maxFilesPerTrigger = Some(1))
    val got = spark.read.parquet(out)
      .select("window_start", "i", "j", "rho").collect()
    // exactly day 0, exactly one off-diagonal cell for k=2
    assert(got.map(_.getLong(0)).toSet == Set(base),
      s"expected exactly the day-0 span, got ${got.toSeq}")
    assert(got.length == 1, s"expected one (0,1) cell, got ${got.toSeq}")
    val rho = got.head.getDouble(3)
    def oracleRho(rows: Seq[org.apache.spark.sql.Row]): Double = {
      val df = spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
        graft.Catalog.schemas("events"))
      Streams.windowedCorrPlan(df, users, "10 minutes", "1 day",
          watermark = None)
        .where(col("window_start") === base)
        .head().getAs[Double]("rho")
    }
    // the streamed rho equals the batch chain over ADMITTED rows only
    val admitted = oracleRho(d1 ++ clock2 ++ lateIn ++ d3)
    assert(rho == admitted,
      s"streamed rho $rho != admitted-rows oracle $admitted")
    // non-vacuity, update side: had the late-but-in-watermark ticks
    // been dropped, the rho would differ — the merge is load-bearing
    val withoutLate = oracleRho(d1 ++ clock2 ++ d3)
    assert(math.abs(rho - withoutLate) > 1e-6,
      s"fixture cannot detect the late update: rho=$rho == $withoutLate")
    // non-vacuity, drop side: had the beyond-watermark tick been
    // admitted, the rho would differ — the drop is observable
    val withBeyond = oracleRho(d1 ++ clock2 ++ lateIn ++ lateBeyond ++ d3)
    assert(math.abs(rho - withBeyond) > 1e-6,
      s"fixture cannot detect the drop: rho=$rho == $withBeyond")
  }

  test("windowedCorr state is WATERMARK-bounded — measured in state-store " +
    "rows, not argued: emitted windows leave state, only the open tail " +
    "remains") {
    // The 100 TB claim behind every streaming operator here is "state
    // is bounded by the watermark, never by stream length". This pins
    // it numerically via StreamingQueryProgress.stateOperators: after
    // a 2.5-day drain (720 buckets, 360 panel rows, 3 spans pushed
    // THROUGH state), the three-operator chain may retain only the
    // un-evicted tail — buckets/panel rows inside the final 1-hour
    // watermark lag plus the one open span — a fixed-size set
    // independent of how long the stream ran.
    val base = 1700006400L
    val users = Seq(0L, 1L)
    val rows = for {
      t <- 0L until (86400L * 5 / 2) by 600L
      u <- users
    } yield evRow(t * 10 + u, base + t, u,
      u.toDouble + 0.001 * t + ((t / 600 + 7 * u) % 13).toDouble)
    val in = tmp("graft_corr_state_in_")
    stageFile(in, "ticks.parquet", base * 1000, rows)
    val progresses = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryProgressEvent): Unit = {
          progresses.add(e.progress); ()
        }
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
    spark.streams.addListener(listener)
    try {
      Streams.windowedCorr(spark, in, tmp("graft_corr_state_out_"),
        tmp("graft_corr_state_ck_"), users,
        bucket = "10 minutes", span = "1 day", watermark = "1 hour")
      // listener events deliver asynchronously; the reading must be
      // the FINAL batch's (the trailing no-input eviction batch —
      // batch 0's snapshot legitimately holds every open window and
      // would fail the bound), so wait specifically for a zero-input
      // progress with state, not merely for any progress
      val deadline = System.currentTimeMillis() + 30000
      def lastFinal() = {
        import scala.jdk.CollectionConverters._
        progresses.asScala.toSeq
          .filter(p => p.stateOperators.nonEmpty && p.numInputRows == 0)
          .lastOption
      }
      while (lastFinal().isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val last = lastFinal().getOrElse(
        fail("no zero-input StreamingQueryProgress with stateOperators " +
          "arrived — AvailableNow should run a trailing eviction batch"))
      val perOp = last.stateOperators.map(_.numRowsTotal).toSeq
      // the chain really is three stateful operators
      assert(perOp.length == 3, s"state operators: $perOp")
      // non-vacuous: open-tail state exists (the last hour's buckets
      // and the open day-2 span are NOT yet emitted)...
      assert(perOp.sum > 0, s"no retained state at all: $perOp")
      // ...and bounded by the watermark tail, not the stream: ~12 open
      // bucket cells + ~6 open panel rows + 1 open span, vs the ~1083
      // state rows the drain pushed through the chain. 40 = that
      // open-tail budget with slack for boundary rows; anything near
      // the through-count means eviction broke.
      assert(perOp.sum <= 40,
        s"state not watermark-bounded: $perOp (sum ${perOp.sum})")
    } finally spark.streams.removeListener(listener)
  }

  test("windowedCorr restart: a later tick file advances the stream, " +
    "each span emitted exactly once") {
    val in = tmp("graft_corr2_in_")
    val base = 1700006400L
    val users = Seq(0L, 1L)
    def ticks(fromSec: Long, untilSec: Long): Seq[org.apache.spark.sql.Row] =
      for {
        t <- fromSec until untilSec by 600L
        u <- users
      } yield evRow(t * 10 + u, base + t, u,
        u.toDouble + 0.01 * t + ((t / 600 + 3 * u) % 7).toDouble)
    stageFile(in, "day0.parquet", base * 1000, ticks(0L, 86400L * 2))
    val out = tmp("graft_corr2_out_")
    val ck = tmp("graft_corr2_ck_")
    Streams.windowedCorr(spark, in, out, ck, users,
      bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    val first = spark.read.parquet(out)
      .select("window_start", "i", "j").collect().toSet
    assert(first.nonEmpty, "first drain emitted nothing")
    // a later file lands (the continuous-deployment tick): the SAME
    // checkpoint drains only the new data; its later event times push
    // the watermark past the previously open spans
    stageFile(in, "day2.parquet", base * 1000 + 1000,
      ticks(86400L * 2, 86400L * 3))
    Streams.windowedCorr(spark, in, out, ck, users,
      bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    val rows = spark.read.parquet(out)
      .select("window_start", "i", "j").collect().toSeq
    // exactly-once per span pair: no duplicates across the two drains
    assert(rows.size == rows.toSet.size,
      s"duplicate span rows after restart: ${rows.size} vs ${rows.toSet.size}")
    // and the restart emitted NEW spans (the day-1 matrix its first
    // drain held open, now finalized by day-2's watermark)
    assert(rows.toSet.size > first.size,
      s"restart emitted nothing new (${rows.size} vs ${first.size})")
  }

  test("windowedCorr restart mid-span: a span's OPEN corr-UDAF state " +
    "survives the checkpoint and merges the post-restart ticks — two " +
    "drains equal one") {
    checkCorrRestartMidSpan()
    ()
  }

  test("filled-corr chain restart mid-input: BOTH queries (ffill cells, " +
    "windowed corr) resume from their checkpoints — two drains equal one") {
    // w18's operator is the deepest state in the repo: the ffill
    // stream's flatMapGroupsWithState carry feeding a second query's
    // windowed corr UDAF through the cells lake. Kill BOTH queries
    // mid-input (day 1's cells half-landed, its matrix state open),
    // land the rest, resume each from its own checkpoint, and compare
    // the final matrices row-for-row against one uninterrupted run of
    // the chain on identical input.
    val base = 1700006400L
    val step = 600L
    val users = Seq(0L, 1L, 2L)
    val end = base + 86400L * 3
    // correlated series WITH GAPS (u2 skips every third bucket): the
    // ffill carry is load-bearing, so losing q1's state would change
    // the filled values and thus the rho
    def ticks(fromSec: Long, untilSec: Long): Seq[org.apache.spark.sql.Row] =
      for {
        t <- fromSec until untilSec by step
        u <- users
        if u != 2L || (t / step) % 3 != 0
      } yield evRow(t * 10 + u, base + t, u,
        u.toDouble + 0.001 * t + ((t / step + 5 * u) % 11).toDouble)
    val cutSec = 86400L * 3 / 2
    def chain(in: String, cells: String, ck1: String, out: String,
              ck2: String): Unit = {
      Streams.resampleFfillStream(spark, in, cells, ck1,
        base, end, step, watermark = "1 hour")
      Streams.windowedCorrFromCells(spark, cells, out, ck2, users,
        bucket = "10 minutes", span = "1 day", watermark = "1 hour")
    }
    // run A: chain to the kill point, then resume the whole chain
    val inA = tmp("graft_fc_rs_inA_")
    val cellsA = tmp("graft_fc_rs_cellsA_")
    val outA = tmp("graft_fc_rs_outA_")
    val ck1A = tmp("graft_fc_rs_ck1A_")
    val ck2A = tmp("graft_fc_rs_ck2A_")
    stageFile(inA, "d1.parquet", 1000000L, ticks(0L, cutSec))
    chain(inA, cellsA, ck1A, outA, ck2A)
    val firstSpans = spark.read.parquet(outA)
      .select("window_start").collect().map(_.getLong(0)).toSet
    // mid-input for the SPAN state too: day 1 must still be open (its
    // end is past q2's watermark at the kill)
    assert(!firstSpans.contains(base + 86400L),
      s"day 1 already closed at the kill point: $firstSpans")
    stageFile(inA, "d2.parquet", 2000000L, ticks(cutSec, 86400L * 3))
    chain(inA, cellsA, ck1A, outA, ck2A)
    // run B: identical input, each query drains once
    val inB = tmp("graft_fc_rs_inB_")
    val cellsB = tmp("graft_fc_rs_cellsB_")
    val outB = tmp("graft_fc_rs_outB_")
    stageFile(inB, "d1.parquet", 1000000L, ticks(0L, cutSec))
    stageFile(inB, "d2.parquet", 2000000L, ticks(cutSec, 86400L * 3))
    chain(inB, cellsB, tmp("graft_fc_rs_ck1B_"), outB,
      tmp("graft_fc_rs_ck2B_"))
    val a = spark.read.parquet(outA).select("window_start", "i", "j", "rho")
    val b = spark.read.parquet(outB)
      .select(col("window_start"), col("i"), col("j"), col("rho").as("brho"))
    assert(a.count() == b.count(),
      s"restart chain ${a.count()} rows vs single chain ${b.count()}")
    val j = a.join(b, Seq("window_start", "i", "j"), "full_outer")
    // bit-equal, nulls included: integer co-moment merges
    assert(j.where(!(col("rho") <=> col("brho"))).count() == 0,
      "rho diverged across the chain restart")
    val defined = j.where(col("rho").isNotNull)
    assert(defined.count() > 0, "rho compare is vacuous")
    // the restart emitted day 1 (crossed both checkpoints' state)
    assert(spark.read.parquet(outA)
        .where(col("window_start") === base + 86400L).count() > 0,
      "day-1 span missing after the chain restart")
  }

  test("sessionStream restart mid-input: an OPEN session's merging state " +
    "survives the checkpoint and a later drain extends it — two drains " +
    "equal one") {
    // The recovery case that matters in a continuous AvailableNow
    // deployment: kill the query while a session is OPEN in state, land
    // more events INSIDE that session's gap, re-drain from the
    // checkpoint. Lost state would re-open the session at the new
    // event (wrong start, wrong n_events); the assert compares the
    // two-drain output row-for-row against one uninterrupted drain of
    // the identical input.
    val t0 = graft.SparkEntry.jan2
    def d1Rows = Seq(
      // user 1: a session fully closed by drain 1's watermark
      evRow(1L, t0, 1L, 1.0), evRow(2L, t0 + 600, 1L, 1.0),
      // user 2: last event at t0+16000 — session end t0+17800 stays
      // AHEAD of drain 1's watermark (t0+16400), so it is held open
      evRow(3L, t0 + 15500, 2L, 1.0), evRow(4L, t0 + 16000, 2L, 1.0),
      // user 9: the watermark clock — max ts t0+20000 ⇒ wm t0+16400
      evRow(5L, t0 + 20000, 9L, 1.0))
    def d2Rows = Seq(
      // user 2 again, 500 s after its last d1 event — INSIDE the 30-min
      // gap: must merge into the open session (start t0+15500, n=3)
      evRow(6L, t0 + 16500, 2L, 1.0),
      // user 3: a fresh post-restart session
      evRow(7L, t0 + 21000, 3L, 1.0), evRow(8L, t0 + 21300, 3L, 1.0),
      // clock: wm t0+26400 closes user 2 (end t0+18300), user 3
      // (end t0+23100), and user 9's first session (end t0+21800)
      evRow(9L, t0 + 30000, 9L, 1.0))
    // run A: drain, land the second file, re-drain from the checkpoint
    val inA = tmp("graft_sess_rs_inA_")
    val outA = tmp("graft_sess_rs_outA_")
    val ckA = tmp("graft_sess_rs_ckA_")
    stageFile(inA, "d1.parquet", 1000000L, d1Rows)
    Streams.sessionStream(spark, inA, outA, ckA)
    stageFile(inA, "d2.parquet", 2000000L, d2Rows)
    Streams.sessionStream(spark, inA, outA, ckA)
    // run B: the same input drained once, uninterrupted
    val inB = tmp("graft_sess_rs_inB_")
    val outB = tmp("graft_sess_rs_outB_")
    val ckB = tmp("graft_sess_rs_ckB_")
    stageFile(inB, "d1.parquet", 1000000L, d1Rows)
    stageFile(inB, "d2.parquet", 2000000L, d2Rows)
    Streams.sessionStream(spark, inB, outB, ckB)
    def rows(out: String) = spark.read.parquet(out)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val a = rows(outA)
    val b = rows(outB)
    assert(a == b, s"restart diverged from single drain:\n A=$a\n B=$b")
    // and the cross-restart merge really happened: user 2 is ONE
    // session starting at its d1 first event with all three events
    assert(a.contains((2L, t0 + 15500, t0 + 16500 + 1800, 3L)),
      s"user 2's open session did not merge across the restart: $a")
  }

  test("windowedMeans restart mid-input: an OPEN window's aggregation " +
    "state survives the checkpoint — two drains equal one") {
    // Same recovery contract for the windowed-means ingest (w23's
    // operator): a 1-minute window left open at the kill receives more
    // rows after the restart; its single emitted row must carry the
    // merged (n, avg) — lost state would emit n=1 or a duplicate row.
    val base = graft.SparkEntry.sec("2024-01-02T10:00:00")
    def d1Rows = Seq(
      // window [base, base+60): closed by drain 1's watermark
      evRow(1L, base + 10, 1L, 1.0), evRow(2L, base + 20, 1L, 3.0),
      // window [base+4980, base+5040): end AHEAD of drain 1's watermark
      // (base+3600) — held open with one row of state
      evRow(3L, base + 5000, 2L, 10.0),
      // clock: wm base+3600
      evRow(4L, base + 7200, 9L, 1.0))
    def d2Rows = Seq(
      // same open window, second row — must merge to n=2, avg=20
      evRow(5L, base + 5010, 2L, 30.0),
      // clock: wm base+8400 closes user 2's window and the first
      // clock window [base+7200, base+7260)
      evRow(6L, base + 12000, 9L, 1.0))
    val inA = tmp("graft_wm_rs_inA_")
    val outA = tmp("graft_wm_rs_outA_")
    val ckA = tmp("graft_wm_rs_ckA_")
    stageFile(inA, "d1.parquet", 1000000L, d1Rows)
    Streams.windowedMeans(spark, inA, outA, ckA)
    stageFile(inA, "d2.parquet", 2000000L, d2Rows)
    Streams.windowedMeans(spark, inA, outA, ckA)
    val inB = tmp("graft_wm_rs_inB_")
    val outB = tmp("graft_wm_rs_outB_")
    val ckB = tmp("graft_wm_rs_ckB_")
    stageFile(inB, "d1.parquet", 1000000L, d1Rows)
    stageFile(inB, "d2.parquet", 2000000L, d2Rows)
    Streams.windowedMeans(spark, inB, outB, ckB)
    def rows(out: String) = spark.read.parquet(out)
      .select(unix_timestamp(col("bucket_start")).as("b"), col("user_id"),
        col("avg_value"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq.sorted
    val a = rows(outA)
    val b = rows(outB)
    assert(a == b, s"restart diverged from single drain:\n A=$a\n B=$b")
    // the open window's state merged: user 2's minute has BOTH rows
    assert(a.contains((base + 4980, 2L, 20.0, 2L)),
      s"user 2's open window did not merge across the restart: $a")
  }
}

object StreamsSpec {
  /** Every file under a checkpoint's state/ tree — the provider's
    * on-disk artifact shape (HDFS-backed: version.delta + .snapshot;
    * RocksDB: version.zip + optional version.changelog), used by both
    * provider matrices to pin that the requested provider actually ran.
    */
  def stateArtifacts(checkpointDir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(checkpointDir, "state")
    if (!root.toFile.exists()) Seq.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toList
      } finally st.close()
    }
  }
}
