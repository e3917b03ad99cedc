package graft.pipeline

import java.time.LocalDate
import graft.SparkTestBase
import org.apache.spark.sql.functions._

class FlagshipSpec extends SparkTestBase {

  test("parseIntervalMs handles the reference's literal styles") {
    assert(Flagship.parseIntervalMs("250ms") == 250L)
    assert(Flagship.parseIntervalMs("1s") == 1000L)
    assert(Flagship.parseIntervalMs("5min") == 300000L)
    assert(Flagship.parseIntervalMs("4h") == 14400000L)
    assert(Flagship.parseIntervalMs("3d") == 259200000L)
    intercept[IllegalArgumentException](Flagship.parseIntervalMs("soon"))
  }

  test("sessionWindows clamps the last window to the close") {
    // 09:30-16:00 in 2h steps: 4 windows, last one 15:30-16:00
    val w = Flagship.sessionWindows(34200, 57600, 7200)
    assert(w == Seq((34200L, 41400L), (41400L, 48600L), (48600L, 55800L),
      (55800L, 57600L)))
  }

  test("businessDays skips weekends") {
    // 2024-01-05 is a Friday; 06/07 weekend
    val d = Flagship.businessDays(LocalDate.parse("2024-01-05"),
      LocalDate.parse("2024-01-09"))
    assert(d.map(_.toString) == Seq("2024-01-05", "2024-01-08",
      "2024-01-09"))
  }

  test("chunksDropTail drops the incomplete tail chunk") {
    assert(Flagship.chunksDropTail(1 to 7, 3) ==
      Seq(Seq(1, 2, 3), Seq(4, 5, 6)))
    assert(Flagship.chunksDropTail(Seq.empty[Int], 3).isEmpty)
  }

  /** The one matrix CSV under a window's output dir, as lines. */
  private def matrixLines(dir: String): Seq[String] = {
    val csv = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(csv.length == 1, s"expected one csv under $dir")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(csv.head.toPath).asScala.toSeq
  }

  test("run exports one CSV per window and tolerates empty windows") {
    val out = scratchDir("graft_flag_")
    val open = graft.SparkEntry.sec("2024-01-02T09:30:00")
    val close = graft.SparkEntry.sec("2024-01-02T16:00:00")
    val res = Flagship.runWideAtWidth(spark, "/root/testdata/sf0.001", out,
      open, close, windowSec = 7200, freqSec = 300, maxUsers = 5)
    assert(res.length == 4)
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString("; "))
    assert(res.forall(r => r.winEnd <= close))
    // every window sees the same key set (the grid spans the session), so
    // all windows export the same k×k matrix, k > 1 at sf0.001
    assert(res.map(_.rows).distinct.size == 1)
    assert(res.head.rows > 1)
    res.foreach(r => assert(matrixLines(r.path).size == r.rows + 1))

    // a session before the fixture's first tick: every window is empty,
    // recorded ok with zero rows, never a throw
    val emptyOpen = graft.SparkEntry.sec("2023-12-29T09:30:00")
    val empty = Flagship.runWideAtWidth(spark, "/root/testdata/sf0.001",
      scratchDir("graft_flag_empty_"), emptyOpen, emptyOpen + 23400,
      windowSec = 7200, freqSec = 300, maxUsers = 5)
    assert(empty.length == 4)
    assert(empty.forall(r => r.ok && r.rows == 0),
      empty.map(r => s"${r.ok}/${r.rows}/${r.error}").mkString("; "))

    // k = 1: of users 0 and 1 only user 1 ticks in this session (once,
    // at 15:54), so its filled series is empty before that in every
    // window, yet each window still exports the 1×1 unit matrix
    val one = Flagship.runWideAtWidth(spark, "/root/testdata/sf0.001",
      scratchDir("graft_flag_k1_"), open, close,
      windowSec = 7200, freqSec = 300, maxUsers = 2)
    assert(one.length == 4)
    assert(one.forall(r => r.ok && r.rows == 1),
      one.map(r => s"${r.ok}/${r.rows}/${r.error}").mkString("; "))
    one.foreach(r => assert(matrixLines(r.path) == Seq(",1", "1,1.0")))
  }

  test("wide matrix CSV holds its layout at real width (k=150)") {
    val d = "/root/testdata/sf0.01"
    // s6b writes the square matrix as a side effect of its roundtrip
    graft.SparkEntry.queries("s6b_wide_corr_matrix")(spark, d).collect()
    val out = new java.io.File(
      graft.sources.Materialize.path(d, "s6b_wide_matrix"))
    val csv = out.listFiles().filter(_.getName.endsWith(".csv")).head
    val lines = java.nio.file.Files.readAllLines(csv.toPath)
    val header = lines.get(0).split(",", -1)
    assert(header.head == "")
    val ids = header.tail
    // the reference exports ~500 columns (README.md:43); the fixture
    // panel is every sf0.01 user — layout must hold at this width
    assert(ids.length >= 150, s"expected k>=150 columns, got ${ids.length}")
    assert(lines.size == ids.length + 1)
    var empties = 0
    (1 until lines.size).foreach { r =>
      val fields = lines.get(r).split(",", -1)
      assert(fields.length == ids.length + 1)
      assert(fields.head == ids(r - 1))       // index column = header ids
      assert(fields(r).toDouble == 1.0)       // unit diagonal
      empties += fields.tail.count(_.isEmpty)
    }
    // undefined pairs are EMPTY cells (pandas NaN → empty), not zeros —
    // and the matrix is symmetric, so their count is even
    assert(empties > 0 && empties % 2 == 0)
  }

  test("runWideAtWidth: one square CSV per window at real width (k=150), " +
    "read-back matches the UDAF long form") {
    val d = "/root/testdata/sf0.01"
    val out = scratchDir("graft_wide_width_")
    // two daily windows over jan1-jan3 (e1b's graded shape): the full
    // sf0.01 universe (k=150) participates; a single intra-day session
    // only sees the ~70 users with ticks in it
    val open = graft.SparkEntry.jan1
    val close = graft.SparkEntry.jan3
    val res = Flagship.runWideAtWidth(spark, d, out,
      open, close, windowSec = 86400, freqSec = 600, maxUsers = 1000)
    assert(res.length == 2)
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString("; "))
    // the reference's production width: every sf0.01 user (k=150)
    assert(res.forall(_.rows >= 150), s"widths: ${res.map(_.rows)}")

    // expected long form from the same public pieces (panel + UDAF),
    // computed independently of the export loop
    val (users, panel) = graft.ops.Corr.widePanel(spark, d, 1000,
      open, close, 600)
    val k = users.size
    val expected = panel
      .withColumn("win",
        lit(open) + ((col("bucket") - open) / 86400).cast("long") * 86400)
      .groupBy("win")
      .agg(graft.functions.CorrMatrix.corrMatrix(k)(col("vals")).as("cells"))
      .select(col("win"), explode(col("cells")).as("c"))
      .select(col("win"),
        element_at(typedLit(users), col("c.i") + 1).as("i"),
        element_at(typedLit(users), col("c.j") + 1).as("j"),
        round(col("c.rho"), 6).as("rho"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3) || r.getDouble(3).isNaN) None
        else Some(r.getDouble(3))))
      .groupBy(_._1)

    res.foreach { r =>
      // layout (pandas to_csv shape): empty index-header cell, ids as
      // header row AND index column, k+1 lines for k ids, unit diagonal
      // on every row
      val csv = new java.io.File(r.path).listFiles()
        .filter(_.getName.endsWith(".csv")).head
      val lines = java.nio.file.Files.readAllLines(csv.toPath)
      val header = lines.get(0).split(",", -1)
      assert(header.head == "" && header.tail.length == r.rows)
      assert(lines.size == r.rows + 1)
      (1 until lines.size).foreach { row =>
        val fields = lines.get(row).split(",", -1)
        assert(fields.length == header.length)
        assert(fields.head == header(row))        // index column = header id
        assert(fields(row).toDouble == 1.0)       // diagonal cell
      }
      // values: read the square file back to long form and compare to
      // the independently computed matrix for this window
      val ids = header.tail.map(_.toLong).toSeq
      val back = graft.sources.Sinks
        .readWideMatrixCsvLong(spark, r.path, ids)
        .collect()
        .map(b => (b.getLong(0), b.getLong(1),
          if (b.isNullAt(2) || b.getDouble(2).isNaN) None
          else Some(b.getDouble(2))))
        .toSet
      val want = expected(r.winStart)
        .map(e => (e._2, e._3, e._4)).toSet
      assert(back == want,
        s"window ${r.winStart}: ${back.diff(want).take(3)} vs " +
          s"${want.diff(back).take(3)}")
    }
    graft.ops.Time.unpersistPanels()
  }

  test("daily export writes the month layout and matches one span query") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val out = scratchDir("graft_daily_")
    val d = "/root/testdata/sf0.001"
    val days = Flagship.businessDays(
      java.time.LocalDate.of(2024, 1, 2),
      java.time.LocalDate.of(2024, 1, 26))
    assert(days.size == 19) // multi-week span
    val res = Flagship.runDailyExport(spark, d, out, days, 600, 5)
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString(";"))
    assert(res.forall(_.rows > 0))
    // layout: one gzip CSV per day at {year}/{month:02d}/taq_resampled_*
    // (taq_chunks.py:136-142), zero-padded month dir, nothing else
    val mdir = new java.io.File(s"$out/2024/01")
    assert(mdir.isDirectory)
    assert(mdir.listFiles().map(_.getName).toSet ==
      days.map(dd => s"taq_resampled_$dd.csv.gz").toSet)
    // read every day file back...
    val schema = StructType(Seq(StructField("bucket", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val back = spark.read.option("header", "true").schema(schema)
      .csv(s"$out/2024/01/*.csv.gz")
    // ...and compare against ONE span-wide query: same resample, with
    // the ffill window partitioned by (user, day) and each day's key
    // set scoped to users who ticked that day — the single-job form of
    // the reference's per-day loop
    val ws0 = days.head.toEpochDay * 86400L
    val we0 = (days.last.toEpochDay + 1) * 86400L
    val bucketed = graft.Catalog.load(spark, d, "events")
      .where(col("user_id") < 5 &&
        col("ts") >= timestamp_seconds(lit(ws0)) &&
        col("ts") < timestamp_seconds(lit(we0)))
      .groupBy(graft.ops.Time.bucketSec(col("ts"), 600).as("bucket"),
        col("user_id"))
      .agg(graft.ops.Exact.davg(col("value")).as("value"))
    val keysByDay = bucketed
      .select((col("bucket") / 86400).cast("long").as("day"),
        col("user_id")).distinct()
    val grid = spark.range(ws0, we0, 600)
      .select(col("id").as("bucket"))
      .withColumn("day", (col("bucket") / 86400).cast("long"))
      .join(broadcast(keysByDay), Seq("day"))
    val w = Window.partitionBy("user_id", "day").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = grid.join(bucketed, Seq("bucket", "user_id"), "left")
      .withColumn("value", last(col("value"), ignoreNulls = true).over(w))
      .where(col("day").isInCollection(days.map(_.toEpochDay)))
      .select("bucket", "user_id", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket", "user_id").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val got = rows(back)
    assert(got.nonEmpty && got == rows(want))
    // day independence: a day after the first still has empty buckets
    // before its first tick — a span-wide user-partitioned ffill would
    // have carried the previous day's close into them
    assert(got.exists { case (b, _, v) =>
      v.isEmpty && b >= days(1).toEpochDay * 86400L })
  }

  /** Every file and dir under `dir`, relative to it. */
  private def tree(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.toArray.map(p => root.relativize(
          p.asInstanceOf[java.nio.file.Path]).toString)
        .filter(_.nonEmpty).toSet
      finally s.close()
    }
  }

  private def gunzip(path: String): String = {
    val in = new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** sf0.001's events (ticks on 2024-01-01..30) shifted 7 days later so
    * the ticks cross into February, with every 2024-01-31 tick removed:
    * a business day with no ticks between two that have them.
    */
  private lazy val shiftedFixture: String = {
    val fx = scratchDir("graft_daily_fx_")
    graft.Catalog.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", col("ts") + expr("INTERVAL 7 DAYS"))
      .where(to_date(col("ts")) =!= lit("2024-01-31").cast("date"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$fx/events.parquet")
    fx
  }

  private val crossMonthDays = Flagship.businessDays(
    LocalDate.of(2024, 1, 30), LocalDate.of(2024, 2, 2))

  test("daily export: a no-tick business day mid-list is ok with 0 rows " +
    "and writes no file") {
    val out = scratchDir("graft_daily_gap_")
    val res = Flagship.runDailyExport(spark, shiftedFixture, out,
      crossMonthDays, 600, 5)
    assert(res.map(_.winStart) ==
      crossMonthDays.map(_.toEpochDay * 86400L))
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString(";"))
    val gap = res(1)
    assert(gap.rows == 0 && gap.path == "")
    assert(Seq(res(0), res(2), res(3)).forall(r =>
      r.rows > 0 && r.rows % 144 == 0 && new java.io.File(r.path).isFile))
    assert(!tree(out).exists(_.contains("2024-01-31")))
  }

  test("daily export: days crossing a month boundary land in two " +
    "{year}/{month} dirs, rows ordered by (bucket, user_id)") {
    val out = scratchDir("graft_daily_month_")
    val res = Flagship.runDailyExport(spark, shiftedFixture, out,
      crossMonthDays, 600, 5)
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString(";"))
    assert(tree(out) == Set("2024", "2024/01", "2024/02",
      "2024/01/taq_resampled_2024-01-30.csv.gz",
      "2024/02/taq_resampled_2024-02-01.csv.gz",
      "2024/02/taq_resampled_2024-02-02.csv.gz"))
    res.filter(_.rows > 0).foreach { r =>
      val lines = gunzip(r.path).linesIterator.toVector
      assert(lines.head == "bucket,user_id,value")
      val keys = lines.tail.map { l =>
        val f = l.split(",", -1); (f(0).toLong, f(1).toLong)
      }
      assert(keys.size == r.rows)
      assert(keys.forall { case (b, _) => b >= r.winStart && b < r.winEnd })
      assert(keys.zip(keys.tail).forall { case ((b0, u0), (b1, u1)) =>
        b0 < b1 || (b0 == b1 && u0 < u1) }, s"${r.path} is not ordered")
    }
  }

  test("daily export rejects a grid step that does not divide a day") {
    val out = scratchDir("graft_daily_step_")
    val days = Flagship.businessDays(LocalDate.of(2024, 1, 2),
      LocalDate.of(2024, 1, 12))
    // a 7 s grid: some day starts are multiples of 7, most are not — the
    // step is rejected up front for every day, never per day by accident
    Seq(7L, 0L, -600L).foreach { step =>
      val res = Flagship.runDailyExport(spark, "/root/testdata/sf0.001",
        out, days, step, 5)
      assert(res.size == days.size)
      assert(res.forall(r => !r.ok && r.rows == 0 &&
        r.error.contains("does not divide a day")), res.map(_.error))
    }
    assert(tree(out).isEmpty)
  }

  test("daily export records a missing fixture as every day failed") {
    val out = scratchDir("graft_daily_missing_")
    val days = Flagship.businessDays(LocalDate.of(2024, 1, 2),
      LocalDate.of(2024, 1, 5))
    val res = Flagship.runDailyExport(spark, "/nonexistent_fixture_dir",
      out, days, 600, 5)
    assert(res.size == days.size)
    assert(res.forall(r => !r.ok && r.error.nonEmpty && r.rows == 0))
    assert(tree(out).isEmpty)
  }

  test("daily export leaves no staging entries in outDir") {
    val out = scratchDir("graft_daily_staging_")
    val days = Flagship.businessDays(LocalDate.of(2024, 1, 25),
      LocalDate.of(2024, 2, 1))
    val res = Flagship.runDailyExport(spark, "/root/testdata/sf0.001",
      out, days, 600, 5)
    assert(res.forall(_.ok), res.filterNot(_.ok).map(_.error).mkString(";"))
    assert(res.count(_.rows > 0) == 4) // ticks end on 2024-01-30
    val entries = tree(out)
    assert(entries.nonEmpty && !entries.exists(e =>
      e.split('/').exists(p => p.startsWith("_") || p.startsWith("."))),
      entries.toSeq.sorted.mkString(", "))
  }

  test("daily export files are byte-identical at 1 and 8 shuffle " +
    "partitions") {
    val days = Flagship.businessDays(LocalDate.of(2024, 1, 2),
      LocalDate.of(2024, 1, 19))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    def exportAt(parts: Int): Map[String, String] = {
      val out = scratchDir(s"graft_daily_p${parts}_")
      spark.conf.set(key, parts.toString)
      val res = try Flagship.runDailyExport(spark, "/root/testdata/sf0.001",
        out, days, 300, 8)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(res.forall(r => r.ok && r.rows > 0),
        res.filterNot(_.ok).map(_.error).mkString(";"))
      res.map(r => r.path.stripPrefix(out) -> gunzip(r.path)).toMap
    }
    val one = exportAt(1)
    val eight = exportAt(8)
    assert(one.size == days.size)
    assert(one == eight)
  }

  test("run records failures per window and never throws (§2.11)") {
    val out = scratchDir("graft_flagf_")
    val open = graft.SparkEntry.sec("2024-01-02T09:30:00")
    val close = graft.SparkEntry.sec("2024-01-02T16:00:00")
    // nonexistent fixture dir: every window's read fails; the reference
    // contract is skip-and-continue, not abort
    val res = Flagship.runWideAtWidth(spark, "/nonexistent_fixture_dir",
      out, open, close, windowSec = 7200, freqSec = 300, maxUsers = 5)
    assert(res.length == 4)
    assert(res.forall(r => !r.ok && r.error.nonEmpty && r.rows == 0))
  }
}
