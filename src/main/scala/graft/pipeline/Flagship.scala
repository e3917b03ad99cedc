package graft.pipeline

import java.time.{DayOfWeek, LocalDate}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Catalog
import graft.ops.{Corr, Exact, Time}
import graft.sources.Sinks

/** One window's outcome in the export loop (reference exporter's
  * per-window append, correlation_matrix_exporter.py:153-167).
  */
case class WindowResult(winStart: Long, winEnd: Long, ok: Boolean,
                        rows: Long, path: String, error: String)

/** The reference's flagship end-to-end pipeline (E1,
  * TAQpipeline/correlation_matrix_exporter.py:128-235): universe snapshot →
  * tick filter → resample+ffill → per-window correlation matrix → one CSV
  * per window, with per-window failure tolerance (the reference swallows
  * any window error and continues — bare except at :125-126,169-170).
  *
  * Spark-first shape: the session's panel is resampled and
  * forward-filled ONCE, every window's matrix comes out of one
  * window-keyed aggregate job, and the driver loop only steers the
  * per-window sinks — the reference's one-file-per-window output
  * contract ([[runWideAtWidth]]).
  */
object Flagship {

  /** F9: parse the reference's pandas-style interval literals ("4h",
    * "3d", "250ms", "1s", "5min") to milliseconds
    * (correlation_matrix_exporter.py:130,135 `pd.to_timedelta`).
    */
  def parseIntervalMs(s: String): Long = {
    val m = "^(\\d+)\\s*(ms|s|sec|min|m|h|d)$".r
      .findFirstMatchIn(s.trim.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(
        s"unparseable interval literal: '$s'"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n
      case "s" | "sec" => n * 1000L
      case "min" | "m" => n * 60000L
      case "h" => n * 3600000L
      case "d" => n * 86400000L
    }
  }

  /** Intra-day session windows anchored at the open, last window clamped
    * to the close (exporter:146-152: `next_dt = min(next_dt, end_dt)`).
    */
  def sessionWindows(openSec: Long, closeSec: Long,
                     stepSec: Long): Seq[(Long, Long)] =
    (openSec until closeSec by stepSec)
      .map(ws => (ws, math.min(ws + stepSec, closeSec)))

  /** Business days in [start, end], weekends skipped
    * (pd.bdate_range, exporter:133).
    */
  def businessDays(start: LocalDate, end: LocalDate): Seq[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .filterNot(d => d.getDayOfWeek == DayOfWeek.SATURDAY ||
        d.getDayOfWeek == DayOfWeek.SUNDAY)
      .toSeq

  /** Multi-day chunks with the drop-incomplete-tail semantic
    * (exporter:176: `while current_index + interval_days <= len`).
    */
  def chunksDropTail[T](xs: Seq[T], n: Int): Seq[Seq[T]] =
    xs.grouped(n).filter(_.size == n).toSeq

  /** The reference's daily resample-export loop (taq_chunks.py:112-147)
    * as ONE span-wide pass. Each listed day's panel is resampled and
    * forward-filled INDEPENDENTLY — no value carries across days, a
    * day's buckets before its first tick stay empty, and a day's key set
    * is only the series that ticked that day, exactly the per-day query
    * the reference issues per iteration — and written as ONE gzip CSV
    * (header, rows ordered by (bucket, user_id)) at the reference's
    * literal artifact path, `outDir/{year}/{month:02d}/
    * taq_resampled_{yyyy-MM-dd}.csv.gz` (taq_chunks.py:136-142).
    *
    * Shape: the events table is scanned once for the whole span
    * (`user_id < maxUsers`, ticks on listed days only), bucket-averaged
    * ([[Exact.davg]]), and grouped by (day, user_id) into one filled
    * vector per series-day over that day's own grid
    * ([[Time.fillVector]]). Those vector rows are cached; each day's row
    * count (series × buckets) comes from them. One write job then
    * range-partitions the rows by day — one day per task — sorts each
    * task by (day, bucket, user_id) and writes gzip CSV partitioned by
    * day into a staging dir under `outDir`; each day's single part file
    * is then moved to its artifact path. FlagshipSpec grades the files
    * byte-for-byte against a span-wide window query.
    *
    * Failure contract (never throws, like [[runWideAtWidth]]):
    *  - a grid step that does not divide a day fails every day up front;
    *  - a failure of the shared pass (missing source, bad schema, write
    *    failure) fails every day;
    *  - a failed move fails only its own day;
    *  - a day with no ticks is `ok = true, rows = 0` and writes no file
    *    (taq_chunks.py:131-134's skip-empty);
    *  - the staging dir is removed on every path, so no debris is left
    *    in the artifact tree a consumer globs recursively.
    */
  def runDailyExport(spark: SparkSession, sfDir: String, outDir: String,
                     days: Seq[LocalDate], freqSec: Long,
                     maxUsers: Int): Seq[WindowResult] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def result(day: LocalDate, ok: Boolean, rows: Long, path: String,
               error: String) = {
      val ws = day.toEpochDay * 86400L
      WindowResult(ws, ws + 86400L, ok, rows, path, error)
    }
    def failedAll(error: String) =
      days.map(d => result(d, ok = false, 0, "", error))
    if (freqSec <= 0 || 86400L % freqSec != 0)
      return failedAll(s"grid step ${freqSec}s does not divide a day " +
        "(86400 s): each day's grid must start at its midnight")
    if (days.isEmpty) return Nil
    val epochDays = days.map(_.toEpochDay).distinct.sorted
    val nBuckets = 86400L / freqSec
    val staging = Paths.get(s"$outDir/_tmp_daily_export")
    val pass = Try {
      val bucketed = Catalog.load(spark, sfDir, "events")
        .where(col("user_id") < maxUsers &&
          col("ts") >= timestamp_seconds(lit(epochDays.head * 86400L)) &&
          col("ts") < timestamp_seconds(lit((epochDays.last + 1) * 86400L)))
        .groupBy(Time.bucketSec(col("ts"), freqSec).as("bucket"),
          col("user_id"))
        .agg(Exact.davg(col("value")).as("value"))
        .withColumn("day", floor(col("bucket") / 86400L))
        .where(col("day").isInCollection(epochDays))
      val vecs = bucketed.groupBy("day", "user_id")
        .agg(Time.fillVector(col("bucket"), col("day") * 86400L, freqSec,
          nBuckets, col("value")).as("vs"))
        .cache()
      try {
        val series = vecs.groupBy("day").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (series.nonEmpty)
          vecs.repartitionByRange(series.size, col("day"))
            .select(col("day"), col("user_id"), posexplode(col("vs")))
            .select((col("day") * 86400L + col("pos") * freqSec).as("bucket"),
              col("user_id"), col("col").as("value"), col("day"))
            .sortWithinPartitions("day", "bucket", "user_id")
            .write.mode("overwrite").partitionBy("day")
            .option("header", "true").option("compression", "gzip")
            .csv(staging.toString)
        series
      } finally vecs.unpersist()
    }
    try pass match {
      case Failure(e) => failedAll(String.valueOf(e.getMessage))
      case Success(series) =>
        // per distinct day: a day listed twice moves its file once
        val byDay = days.distinct.map { day =>
          day -> series.get(day.toEpochDay).fold(
            result(day, ok = true, 0, "", "")) { k =>
            Try {
              val monthDir = f"$outDir/${day.getYear}/${day.getMonthValue}%02d"
              val target = s"$monthDir/taq_resampled_$day.csv.gz"
              val part = Option(staging.resolve(s"day=${day.toEpochDay}")
                  .toFile.listFiles())
                .flatMap(_.find(_.getName.endsWith(".csv.gz")))
                .getOrElse(throw new java.io.FileNotFoundException(
                  s"no staged part file for $day"))
              Files.createDirectories(Paths.get(monthDir))
              Files.move(part.toPath, Paths.get(target),
                StandardCopyOption.REPLACE_EXISTING)
              result(day, ok = true, k * nBuckets, target, "")
            } match {
              case Success(r) => r
              case Failure(e) =>
                result(day, ok = false, 0, "", String.valueOf(e.getMessage))
            }
          }
        }.toMap
        days.map(byDay)
    } finally {
      // failed/partial staging (including Spark's nested _temporary
      // dirs) must not leave debris inside the artifact tree; swallow
      // cleanup errors so they can never mask the real outcome
      try {
        if (Files.exists(staging))
          Files.walk(staging)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { Files.deleteIfExists(f); () })
      } catch { case _: Throwable => () }
    }
  }

  /** The reference's exact per-window artifact at its REAL width, in the
    * engine's at-scale shape: ONE window-keyed one-pass co-moment UDAF
    * job computes every window's full k×k correlation matrix from a
    * single resample shuffle (e1b's plan — per-window state is an exact
    * integer co-moment buffer of ~6k² longs, never k² rows per
    * bucket), the
    * per-window cell ARRAYS are cached once, and the driver loop only
    * steers the per-window square-CSV writes
    * ([[Sinks.writeWideMatrixCsvDense]]: ids as header + index, unit
    * diagonal, empty cells for undefined pairs — exporter:163,227-235 —
    * assembled straight off each window's cells row, no explode/regroup
    * in the loop).
    *
    * Never throws (the reference swallows any window error and
    * continues): a failing window is recorded and skipped; a setup
    * failure degrades to every window failed; a window with no ticks is
    * `ok = true, rows = 0`. Input
    * outside the aggregate's exact envelope is a setup failure: one
    * non-finite value or one |x| > ~9×10⁹ ANYWHERE in the session throws
    * in the aggregate's 1e-6 quantization inside the single
    * window-keyed job, so EVERY window of the run is failed, not only
    * the window holding the value — never filled with garbage rho.
    */
  def runWideAtWidth(spark: SparkSession, sfDir: String, outDir: String,
                     openSec: Long, closeSec: Long, windowSec: Long,
                     freqSec: Long, maxUsers: Int): Seq[WindowResult] = {
    import org.apache.spark.sql.functions.{struct, transform}
    val windows = sessionWindows(openSec, closeSec, windowSec)
    val setup = Try {
      val (users, panel) = Corr.widePanel(spark, sfDir,
        maxUsers, openSec, closeSec, freqSec)
      val nBuckets = (closeSec - openSec) / freqSec
      // one row per window: the UDAF's cell ARRAY, kept un-exploded —
      // the per-window write below hands each row straight to the dense
      // square-CSV writer (ids = the shared sorted universe)
      val win = lit(openSec) +
        ((col("bucket") - openSec) / windowSec).cast("long") * windowSec
      val cells = Corr.onePass(panel, users, Some(win.as("win")),
          Some(graft.ops.Relational.boundedPartitions(nBuckets, 256)))
        .select(col("win"), transform(col("cells"), c =>
          struct(c.getField("i").as("i"), c.getField("j").as("j"),
            round(c.getField("rho"), 6).as("rho"))).as("cells"))
        .cache()
      // materialize once (the write loop only filters); a failure
      // mid-count must release the partially cached blocks itself —
      // the Failure branch below only reaches the panel registry
      try cells.count()
      catch { case e: Throwable => cells.unpersist(); throw e }
      (users, cells)
    }
    val (users, cells) = setup match {
      case Failure(e) =>
        // the early return skips the finally below — release whatever
        // widePanel managed to register before the setup failure, or
        // the partial caches stay pinned for the rest of the session
        Time.unpersistPanels()
        return windows.map { case (ws, we) =>
          WindowResult(ws, we, ok = false, 0, "",
            String.valueOf(e.getMessage))
        }
      case Success(m) => m
    }
    try {
      windows.map { case (ws, we) =>
        Try {
          val winCells = cells.where(col("win") === ws).select("cells")
          // count on the cached cells is a cheap per-window probe; a
          // window with no panel rows (a session with no ticks) must
          // report rows = 0 like runDailyExport, not claim a k-wide
          // matrix
          val n = winCells.count()
          val path = s"$outDir/corr_${ws}_$we"
          Sinks.writeWideMatrixCsvDense(winCells, users, path)
          WindowResult(ws, we, ok = true,
            if (n == 0) 0L else users.size.toLong, path, "")
        } match {
          case Success(r) => r
          case Failure(e) =>
            WindowResult(ws, we, ok = false, 0, "",
              String.valueOf(e.getMessage))
        }
      }
    } finally {
      cells.unpersist()
      Time.unpersistPanels()
    }
  }
}
