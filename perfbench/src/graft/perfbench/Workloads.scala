package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Catalog, SparkEntry}
import graft.functions.CorrMatrix
import graft.ops.{Exact, Relational, Time}
import graft.pipeline.{Flagship, WindowResult}
import graft.sources.Sinks

/** One benchmark workload: its seeded input geometry and one pass of the
  * pipeline over the generated inputs. A pass returns one
  * [[WindowResult]] per unit (window or day) it attempted.
  *
  * Untraced passes call the engine exactly as its own callers do (the
  * Flagship loop for the daily workload). Traced passes replay the same
  * calls one layer at a time through a [[Stage]]; the daily replay
  * mirrors Flagship.runDailyExport, so a change to that loop must be
  * mirrored here (the traced-vs-untraced gap the traced run prints, and
  * the output digest shared by both kinds of pass, show drift).
  */
sealed trait Workload {
  def name: String
  def shape: Shape
  /** Whether the pass reads the spells and fundamentals tables. */
  def tables: Boolean = false
  def pass(spark: SparkSession, data: String, out: String,
           st: Stage): Seq[WindowResult]
  /** Grid step, resample range and the (start, end) epoch seconds of
    * every unit, for the output checks.
    */
  def freqSec: Long
  def grid: (Long, Long)
  def units: Seq[(Long, Long)]

  protected def failedAll(units: Seq[(Long, Long)], e: Throwable) =
    units.map { case (ws, we) =>
      WindowResult(ws, we, ok = false, 0, "", String.valueOf(e.getMessage))
    }

  /** The tick columns every pass reads, materialized at the catalog
    * boundary when traced.
    */
  protected def ticks(spark: SparkSession, data: String, st: Stage): DataFrame =
    st("catalog") {
      st.out(Catalog.load(spark, data, "events")
        .where(col("user_id") < shape.k).select("user_id", "ts", "value"))
    }
}

object Workload {
  def apply(name: String, tiny: Boolean): Workload = {
    def days(from: String, to: String) =
      Flagship.businessDays(LocalDate.parse(from), LocalDate.parse(to))
    (name, tiny) match {
      case ("daily_export_k100", false) =>
        Daily(Shape(100, days("2024-03-05", "2024-03-07"), 2000, 10),
          freqSec = 60)
      case ("daily_export_k100", true) =>
        Daily(Shape(5, days("2024-03-05", "2024-03-06"), 200, 2),
          freqSec = 600)
      case ("graph_3d_k500", false) =>
        Graph(Shape(500, days("2024-03-04", "2024-03-22"), 120, 20),
          freqSec = 600)
      case ("graph_3d_k500", true) =>
        Graph(Shape(8, days("2024-03-04", "2024-03-12"), 40, 2), freqSec = 600)
      case _ => throw new IllegalArgumentException(s"unknown workload '$name'")
    }
  }
}

/** Tick-heavy and narrow: each business day resampled on its own and
  * written as one gzip CSV under {year}/{month}/. No correlation.
  */
final case class Daily(shape: Shape, freqSec: Long) extends Workload {
  val name = "daily_export_k100"
  val units = shape.days.map(d => (Gen.dayStart(d), Gen.dayStart(d) + 86400L))
  val grid = (units.head._1, units.last._2)

  def pass(spark: SparkSession, data: String, out: String,
           st: Stage): Seq[WindowResult] =
    if (st.trace.isEmpty)
      Flagship.runDailyExport(spark, data, out, shape.days, freqSec, shape.k)
    else st("flagship") { replay(spark, data, out, st) }

  // Flagship.runDailyExport, one layer call at a time
  private def replay(spark: SparkSession, data: String, out: String,
                     st: Stage): Seq[WindowResult] = {
    val t = Try(ticks(spark, data, st))
    try shape.days.map { day =>
      val ws = Gen.dayStart(day)
      val we = ws + 86400L
      Try {
        try {
          val (filled, n) = st("time") {
            val f = Time.resampleFfill(spark, t.get, "user_id", "ts", "value",
              ws, we, freqSec, Exact.davg(col("value")))
            val n = f.count()
            st.count("time.cells_out", n)
            (f, n)
          }
          if (n == 0) WindowResult(ws, we, ok = true, 0, "", "")
          else st("sinks") {
            val target = exportDay(filled, out, day)
            st.count("sinks.files", 1)
            WindowResult(ws, we, ok = true, n, target, "")
          }
        } finally Time.unpersistPanels()
      } match {
        case Success(r) => r
        case Failure(e) => failedAll(Seq((ws, we)), e).head
      }
    } finally st.release()
  }

  private def exportDay(filled: DataFrame, out: String,
                        day: LocalDate): String = {
    val monthDir = f"$out/${day.getYear}/${day.getMonthValue}%02d"
    val target = s"$monthDir/taq_resampled_$day.csv.gz"
    val tmp = s"$out/_tmp_$day"
    try {
      filled.orderBy("bucket", "user_id").coalesce(1)
        .write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(tmp)
      Files.createDirectories(Paths.get(monthDir))
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".csv.gz")).head
      Files.move(part.toPath, Paths.get(target),
        StandardCopyOption.REPLACE_EXISTING)
      target
    } finally Files.walk(Paths.get(tmp))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.deleteIfExists(f); () })
  }
}

/** The g3-shaped graph samples over several days: universe spells joined
  * to the ticks, a 10-minute panel cut into 3-business-day windows (drop
  * incomplete tail), one window-keyed co-moment pass, `rho > 0` edges,
  * and per-window vertex features with as-of fundamentals, written as
  * year/month-partitioned gzip CSV. One implementation serves both modes.
  */
final case class Graph(shape: Shape, freqSec: Long, chunkDays: Int = 3)
    extends Workload {
  val name = "graph_3d_k500"
  override val tables = true

  private val a = Gen.dayStart(shape.days.head)
  private val b = Gen.dayStart(shape.days.last) + 86400L
  val grid = (a, b)
  private val chunks = Flagship.chunksDropTail(shape.days, chunkDays)
  private val winStart = chunks.map(c => Gen.dayStart(c.head))
  val units = chunks.map(c => (Gen.dayStart(c.head),
    Gen.dayStart(c.last) + 86400L))
  private val nBuckets =
    chunks.size.toLong * chunkDays * (Gen.CloseSec - Gen.OpenSec) / freqSec

  /** Window index of a bucket: its day's chunk, during the session only;
    * null for night, weekend and dropped-tail buckets.
    */
  private def window(bucket: Column): Column = {
    val dayWin = typedLit((a until b by 86400L).map { d =>
      chunks.indexWhere(_.exists(Gen.dayStart(_) == d))
    })
    val w = element_at(dayWin, floor((bucket - a) / 86400).cast("int") + 1)
    val tod = pmod(bucket, lit(86400L))
    when(tod >= Gen.OpenSec && tod < Gen.CloseSec && w >= 0, w)
  }

  private def withYearMonth(df: DataFrame): DataFrame = {
    val start = timestamp_seconds(element_at(typedLit(winStart),
      col("win") + 1))
    df.withColumn("year", year(start)).withColumn("month", month(start))
  }

  def pass(spark: SparkSession, data: String, out: String,
           st: Stage): Seq[WindowResult] = st("flagship") {
    Try(body(spark, data, out, st)) match {
      case Success(r) => r
      case Failure(e) =>
        Time.unpersistPanels(); st.release()
        failedAll(units, e)
    }
  }

  private def body(spark: SparkSession, data: String, out: String,
                   st: Stage): Seq[WindowResult] = {
    import spark.implicits._
    val t = ticks(spark, data, st)
    val spells = spark.read.parquet(s"$data/spells.parquet")
      .select(col("user_id"), timestamp_seconds(col("from_sec")).as("valid_from"),
        timestamp_seconds(col("to_sec")).as("valid_to"))
    val universe = st("relational") {
      st.out(Relational.joinValid(t, spells, "user_id", "ts", "valid_from",
          "valid_to").select(t("user_id"), t("ts"), t("value")),
        "relational.universe_rows")
    }
    val (bucketed, filled) = st("time") {
      val p = Time.resampleFfillParts(spark, universe, "user_id", "ts",
        "value", a, b, freqSec, Exact.davg(col("value")), keysHint = shape.k)
      st.count("time.cells_out", p._2.count())
      p
    }
    val inWindow = filled.withColumn("win", window(col("bucket")))
      .where(col("win").isNotNull)
    val (users, panel) = st("panel") {
      val users = SparkEntry.sortedUsers(bucketed)
      (users, st.out(SparkEntry.panelOf(inWindow.drop("win"), users)))
    }
    val k = users.size
    val cells = st("corr") {
      val c = panel
        .coalesce(Relational.boundedPartitions(nBuckets, 256))
        .withColumn("win", window(col("bucket")))
        .groupBy("win")
        .agg(CorrMatrix.corrMatrix(k)(col("vals")).as("cells"))
        .cache()
      st.count("corr.windows", c.count())
      st.count("corr.pair_updates", k.toLong * (k - 1) / 2 * nBuckets)
      c
    }
    try st("graph") {
      val edges = cells.select(col("win"), explode(col("cells")).as("c"))
        .select(col("win"), col("c.i").cast("long").as("src"),
          col("c.j").cast("long").as("dst"),
          round(col("c.rho"), 6).as("w"))
        .where(col("w") > 0)
      val vid = users.zipWithIndex.map { case (u, i) => (u, i.toLong) }
        .toDF("user_id", "vid")
      val px = inWindow.groupBy("win", "user_id")
        .agg(Exact.davg(col("value")).as("mean_px"))
        .join(broadcast(vid), "user_id")
        .withColumn("ord", element_at(typedLit(winStart), col("win") + 1))
      val fund = spark.read.parquet(s"$data/fundamentals.parquet")
        .select(col("user_id"), col("report_sec").as("ord"), col("seq"),
          col("book"))
      val vertices = st("relational") {
        st.out(Relational.asofBackward(px, fund, "user_id", "ord", "seq",
          "book"))
      }
      val perWin = edges.groupBy("win").count().as[(Int, Long)].collect().toMap
      st.count("graph.edges", perWin.values.sum)
      st("sinks") {
        Sinks.writePartitionedGzipCsv(withYearMonth(edges), s"$out/edges")
        Sinks.writePartitionedGzipCsv(withYearMonth(vertices.select("win",
          "vid", "user_id", "mean_px", "book")), s"$out/vertices")
        st.count("sinks.files", Output.dataFiles(out).size)
      }
      units.zipWithIndex.map { case ((ws, we), w) =>
        WindowResult(ws, we, ok = true, perWin.getOrElse(w, 0L), out, "")
      }
    } finally {
      cells.unpersist(); Time.unpersistPanels(); st.release()
    }
  }
}
