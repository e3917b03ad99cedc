package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series primitives: epoch-anchored bucketing, regular-grid
  * generation, forward/backward fill.
  *
  * Mirrors the reference's pandas `resample(freq).ffill()` chain
  * (reference TAQpipeline/correlation_matrix_exporter.py:111-116,
  * cloud_TAQ/taq_chunks.py:86-91) as two relational steps: bucket-aggregate,
  * then grid-join + gap-fill window. All bucket math is pure integer
  * arithmetic on epoch seconds so the Spark plan and the DuckDB oracle
  * agree bit-for-bit (pandas resample bins are epoch-anchored; so are
  * these).
  *
  * Scale notes: the ffill window partitions by series key (`user_id` ≈
  * permno) — at 100 TB that is a single shuffle by key, each partition
  * sorted by bucket; no driver-side loop, no per-series collect. The grid
  * is generated with a distributed `spark.range` sized by the window span,
  * not by the data, so its cost is O(grid × keys) regardless of tick
  * volume, and it parallelizes across all cores.
  */
object Time {

  // Panels cached by resampleFfill, so callers with a lifecycle boundary
  // (a pipeline run, a verify/bench harness) can release them — without
  // this every resampleFfill call leaked a cached relation for the
  // session lifetime.
  private val cachedPanels =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[DataFrame]())

  /** Unpersist every panel resampleFfill has cached since the last call.
    * Non-blocking: an in-flight job over a released panel recomputes,
    * it never sees wrong data.
    */
  def unpersistPanels(): Unit = cachedPanels.synchronized {
    cachedPanels.forEach(df => { df.unpersist(false); () })
    cachedPanels.clear()
  }

  /** Register an externally cached relation for the same lifecycle
    * release as the panels (used by [[graft.queries.Q.sortedSmall]]).
    */
  def registerCached(df: DataFrame): DataFrame = {
    cachedPanels.add(df)
    df
  }

  /** Epoch-anchored tumbling bucket start, in epoch seconds (integer math:
    * `unix_timestamp` truncates toward 0, valid for post-1970 data).
    */
  def bucketSec(ts: Column, widthSec: Long): Column = {
    val s = unix_timestamp(ts)
    s - pmod(s, lit(widthSec))
  }

  /** Regular grid of bucket-start epoch seconds [startSec, endSec) crossed
    * with the distinct series keys of `keys` (a one-column DataFrame).
    *
    * `spark.range` is a distributed leaf (one slice per core), so a year of
    * 250 ms buckets (~126 M rows) is generated in parallel — unlike an
    * `explode(sequence(...))` over a single row, which would funnel the
    * whole grid through one task. The key set (≤ a few thousand series ids)
    * is broadcast onto it.
    */
  def grid(spark: SparkSession, startSec: Long, endSec: Long,
           stepSec: Long, keys: DataFrame): DataFrame = {
    // bucketSec() is epoch-anchored; a grid starting off a step multiple
    // would silently miss every bucketed row. Fail fast instead.
    require(startSec % stepSec == 0,
      s"grid start $startSec is not aligned to step $stepSec — " +
        "bucketSec() buckets are epoch-anchored multiples of the step")
    val buckets = spark.range(startSec, endSec, stepSec)
      .select(col("id").as("bucket"))
    buckets.crossJoin(broadcast(keys))
  }

  /** Forward-fill `valueCol` within each series ordered by `orderCol`
    * (pandas `ffill`): last non-null value at or before the current row.
    */
  def ffill(df: DataFrame, keyCol: String, orderCol: String,
            valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Backward-fill (pandas `bfill`, reference notebook cell 15). */
  def bfill(df: DataFrame, keyCol: String, orderCol: String,
            valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.withColumn(valueCol, first(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Millisecond-resolution [[resampleFfill]] — the reference's finest
    * demonstrated frequency is 250 ms (notebook cell 15, README.md:12),
    * below the epoch-second bucket math above. Identical shape: one
    * bucket aggregate, a distributed `spark.range` grid in MILLIS (a
    * session of 250 ms buckets is ~10⁵-10⁶ grid rows — generated one
    * slice per core, never funneled through one task), one ffill window
    * per key. Output bucket is epoch millis.
    */
  def resampleFfillMs(spark: SparkSession, ticks: DataFrame, keyCol: String,
                      tsCol: String, valueCol: String,
                      startMs: Long, endMs: Long, stepMs: Long,
                      agg: Column, keysHint: Long = 0L): DataFrame = {
    val ems = unix_millis(col(tsCol))
    resampleFfillCore(spark, ticks, keyCol, valueCol,
      col(tsCol) >= timestamp_millis(lit(startMs)) &&
        col(tsCol) < timestamp_millis(lit(endMs)),
      ems - pmod(ems, lit(stepMs)),
      startMs, endMs, stepMs, agg, keysHint = keysHint)._2
  }

  /** Grid-width ceiling for the in-array fill path of
    * [[resampleFfillCore]]: past it a per-series dense vector stops
    * being comfortably task-sized (4M slots ≈ 32 MB of boxed doubles
    * per series) and the relational grid-join + window form takes over
    * — that form streams each series through the sort instead of
    * materializing it. Tests force the relational path by setting this
    * to 0. Fixture grids top out at 57,600 slots (w9's 250 ms session).
    */
  private[graft] var VectorFillMaxBuckets: Long = 1L << 22

  /** Aggregate one series' bucketed values into its dense filled grid
    * of `nBuckets` slots starting at `start` (the codegen'd
    * [[graft.functions.FillGrid]] over the sorted (pos, value) entries).
    * Shared by the resample core (one grid for the whole range) and
    * [[graft.pipeline.Flagship.runDailyExport]] (one grid per day, so
    * `start` is a column). Pos arithmetic is exact: buckets are
    * start-aligned step multiples and the double division is exact
    * below 2^53.
    */
  private[graft] def fillVector(bucket: Column, start: Column, step: Long,
                                nBuckets: Long, value: Column,
                                backward: Boolean = false): Column =
    call_function("fill_grid",
      array_sort(collect_list(struct(
        ((bucket - start) / step).cast("int").as("p"), value.as("v")))),
      lit(nBuckets.toInt), lit(backward))

  /** The shared resample body behind [[resampleFfill]] (epoch-second
    * buckets) and [[resampleFfillMs]] (epoch-milli buckets): tick
    * filter, bucket aggregate, gap fill — parameterized by the
    * range filter and the bucket expression so the caching/lifecycle
    * rationale lives in exactly one place.
    *
    * Fill strategy (guide §2.4 — remove shuffles outright): for any
    * grid up to [[VectorFillMaxBuckets]] slots the fill runs IN-ARRAY —
    * one aggregation per series collects its sorted (pos, value)
    * entries and the codegen'd [[graft.functions.FillGrid]] expression
    * expands them to the dense grid in a single linear pass, position-
    * exploded back to the same (bucket, key, value) rows. That replaces
    * the old relational chain — distributed grid generation, a
    * grid×keys broadcast join, and a full sort-based Window — with one
    * exchange (the per-series groupBy) and zero joins; the key-universe
    * distinct + broadcast build disappear with the grid. Measured at
    * sf0.1 on the a3c panel (489 series × 288 buckets): the
    * panel-build phase dropped ~0.9 s (see OPTIMIZATION_r21.md).
    * Output rows, values and nullability are bit-identical (the
    * expression replicates `last(v, ignoreNulls)` exactly; TimeSpec
    * pins vector ≡ window equality on gapped/null fixtures). Past the
    * ceiling — grids so wide a dense per-series vector stops being
    * task-sized — the relational window form remains the path.
    *
    * Both intermediate cachings are load-bearing:
    *  - the BUCKETED panel feeds the key-universe collect of wide
    *    consumers and the fill derivation; uncached, Spark scans +
    *    aggregates the tick table twice;
    *  - the FILLED panel is scanned twice by the pruned correlation
    *    tier (LSH bucketing and the per-series vectors); uncached, each
    *    scan re-runs the fill.
    * Both cached relations are dimension-sized (≤ grid buckets × keys
    * rows, never tick-sized — this holds at 100 TB of ticks) and are
    * registered for the same lifecycle release.
    */
  private def resampleFfillCore(spark: SparkSession, ticks: DataFrame,
                                keyCol: String, valueCol: String,
                                rangeFilter: Column, bucketExpr: Column,
                                start: Long, end: Long, step: Long,
                                agg: Column,
                                backward: Boolean = false,
                                keysHint: Long = 0L): (DataFrame, DataFrame) = {
    // same alignment contract grid() enforces: buckets are epoch-anchored
    // step multiples, so an unaligned start would mis-position every slot
    require(start % step == 0,
      s"grid start $start is not aligned to step $step — " +
        "bucketSec() buckets are epoch-anchored multiples of the step")
    val nBuckets = (end - start) / step
    // Cache partition sizing off the panel's own geometry (guide §2.2:
    // partition counts follow data size, here known a priori). Both
    // cached relations are dimension-sized; left on the static shuffle
    // partition count, their columnar cache build ran 32 per-partition
    // builder sets for a few thousand rows — measured as the dominant
    // panel cost at bench scale — while at cluster width a fixed 32 is
    // just as wrong the other way. With a caller-supplied series bound
    // the counts derive from grid cells (~8 B each): ~200k cells per
    // bucketed partition, ~4M per vector partition (vector rows are
    // dense B-slot arrays). coalesce sits ABOVE each aggregation's
    // exchange, so the map side keeps its scan parallelism and only
    // the post-shuffle finalize+cache-build collapses. keysHint 0
    // (callers that cannot bound the series count) keeps the static
    // layout.
    val cells = nBuckets * keysHint
    def sized(df: DataFrame, target: Long): DataFrame =
      if (keysHint > 0) df.coalesce(Relational.boundedPartitions(cells, target))
      else df
    val bucketed = sized(ticks.where(rangeFilter)
      .groupBy(bucketExpr.as("bucket"), col(keyCol))
      .agg(agg.as(valueCol)), 200000L)
      .cache()
    cachedPanels.add(bucketed)
    val filled = if (nBuckets <= VectorFillMaxBuckets) {
      // in-array fill: one per-series aggregation, no grid join, no
      // window sort.
      // cache the k VECTOR rows, not the k×B exploded cells: the cache
      // build (columnar materialization) then scales with the series
      // count, and each consumer pays only a codegen'd posexplode per
      // scan — measured another ~0.3 s off the a3c panel build at
      // sf0.1 vs caching the exploded rows
      val vecs = sized(bucketed.groupBy(col(keyCol))
        .agg(fillVector(col("bucket"), lit(start), step, nBuckets,
          col(valueCol), backward).as("vs")), 4000000L)
        .cache()
      cachedPanels.add(vecs)
      vecs.select(col(keyCol), posexplode(col("vs")))
        .select((col("pos").cast("long") * step + start).as("bucket"),
          col(keyCol), col("col").as(valueCol))
    } else {
      val keys = bucketed.select(keyCol).distinct()
      val g = grid(spark, start, end, step, keys)
      val joined = g.join(bucketed, Seq("bucket", keyCol), "left")
      val f = if (backward) bfill _ else ffill _
      val w = f(joined, keyCol, "bucket", valueCol).cache()
      cachedPanels.add(w)
      w
    }
    (bucketed, filled)
  }

  /** Backward-fill twin of [[resampleFfill]] — identical bucket + grid
    * + cache core (both cachings are load-bearing, see the core's
    * scaladoc), with the bfill window instead.
    */
  def resampleBfill(spark: SparkSession, ticks: DataFrame, keyCol: String,
                    tsCol: String, valueCol: String,
                    startSec: Long, endSec: Long, stepSec: Long,
                    agg: Column, keysHint: Long = 0L): DataFrame =
    resampleFfillCore(spark, ticks, keyCol, valueCol,
      col(tsCol) >= timestamp_seconds(lit(startSec)) &&
        col(tsCol) < timestamp_seconds(lit(endSec)),
      bucketSec(col(tsCol), stepSec),
      startSec, endSec, stepSec, agg, backward = true,
      keysHint = keysHint)._2

  /** Bucket + mean (the reference's dedup-mean of simultaneous ticks, A1:
    * correlation_matrix_exporter.py:109) then grid-join + ffill — the full
    * `resample(freq).ffill()` equivalent over [startSec, endSec).
    *
    * Input: (ts: timestamp, key, value). Output: (bucket: long epoch sec,
    * key, value: double ffilled, may be null before first observation).
    */
  def resampleFfill(spark: SparkSession, ticks: DataFrame, keyCol: String,
                    tsCol: String, valueCol: String,
                    startSec: Long, endSec: Long, stepSec: Long,
                    agg: Column, keysHint: Long = 0L): DataFrame =
    resampleFfillParts(spark, ticks, keyCol, tsCol, valueCol,
      startSec, endSec, stepSec, agg, keysHint)._2

  /** [[resampleFfill]] exposing BOTH cached stages as
    * `(bucketed, filled)`. The bucketed panel is the cheap prefix (tick
    * scan + bucket aggregate, no grid join, no ffill window) — callers
    * that need the series-id universe collect it from `bucketed`, so
    * the collect's first action materializes only the prefix both
    * stages share, and the grid+ffill work stays inside the consumer's
    * own action instead of riding the metadata job.
    */
  def resampleFfillParts(spark: SparkSession, ticks: DataFrame,
                         keyCol: String, tsCol: String, valueCol: String,
                         startSec: Long, endSec: Long, stepSec: Long,
                         agg: Column,
                         keysHint: Long = 0L): (DataFrame, DataFrame) =
    resampleFfillCore(spark, ticks, keyCol, valueCol,
      col(tsCol) >= timestamp_seconds(lit(startSec)) &&
        col(tsCol) < timestamp_seconds(lit(endSec)),
      bucketSec(col(tsCol), stepSec),
      startSec, endSec, stepSec, agg, keysHint = keysHint)
}
