package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One workload's input geometry: `k` series, each ticking
  * `ticksPerDay` times per 09:30–16:00 session on each of `days`, in
  * `groups` co-moving groups.
  */
case class Shape(k: Int, days: Seq[LocalDate], ticksPerDay: Int, groups: Int) {
  def ticks: Long = k.toLong * days.size * ticksPerDay
}

/** Seeded NBBO-shaped inputs, built from `spark.range` + `xxhash64` so the
  * same seed gives the same rows at any core count.
  *
  * `events` follows the fixture schema (`Catalog.schemas("events")`):
  * `user_id` is the series id, `value` the quote price. `ts` is written as
  * TIMESTAMP_NTZ, which Spark stores as INT64 TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) — the fixtures' encoding. Spark's INT96 default
  * for TimestampType is NOT used: `Catalog.eventsTsUnit` classifies an
  * unannotated INT96 column as raw nanos and every window then fails (see
  * perfbench/NOTES.md).
  *
  * Price = level · (1 + 0.02 · sin(2π(g+1)x + φ_g) + 0.01 · noise): a
  * smooth per-group signal plus per-tick noise. The signal must be smooth,
  * not hash-white: after resample + ffill two series of one group are
  * misaligned by up to a bucket, and white values at lag 1 correlate to
  * ρ ≈ 0 (Stress.scala's synthetic-panel note). Within a group ρ ≈ 0.9.
  *
  * `spells` (membership validity intervals, epoch seconds) and
  * `fundamentals` (dated book values) come from the same seed.
  */
object Gen {
  val OpenSec = 34200L  // 09:30
  val CloseSec = 57600L // 16:00

  def dayStart(d: LocalDate): Long = d.toEpochDay * 86400L

  /** Uniform in [0, 1) from the seed, a tag and row columns. */
  private def u01(seed: Long, tag: String, cs: Column*): Column =
    (pmod(xxhash64((lit(seed) +: lit(tag) +: cs): _*), lit(1000000L))
      .cast("double") / 1e6)

  private def level(seed: Long): Column =
    lit(20.0) + u01(seed, "lvl", col("user_id")) * 180.0

  def events(spark: SparkSession, seed: Long, s: Shape): DataFrame = {
    val perSeries = s.days.size.toLong * s.ticksPerDay
    val stepUs = (CloseSec - OpenSec) * 1000000L / s.ticksPerDay
    val opens = typedLit(s.days.map(d => (dayStart(d) + OpenSec) * 1000000L))
    val base = spark.range(0L, s.k * perSeries, 1L,
        spark.sparkContext.defaultParallelism)
      .selectExpr("id AS event_id", s"id div $perSeries AS user_id",
        s"(id % $perSeries) div ${s.ticksPerDay} AS d",
        s"id % ${s.ticksPerDay} AS t")
    val jit = u01(seed, "jit", col("event_id"))
    val us = element_at(opens, col("d").cast("int") + 1) +
      col("t") * stepUs + (jit * stepUs).cast("long")
    val x = (col("d") + (col("t") + jit) / s.ticksPerDay) / s.days.size
    val g = pmod(col("user_id"), lit(s.groups.toLong))
    val signal = sin(x * (g + 1) * (2 * math.Pi) +
      u01(seed, "ph", g) * (2 * math.Pi))
    val noise = u01(seed, "n1", col("event_id")) +
      u01(seed, "n2", col("event_id")) - 1.0
    base.select(col("event_id"),
      timestamp_micros(us).cast("timestamp_ntz").as("ts"),
      col("user_id"), lit("Q").as("event_type"),
      round(level(seed) * (lit(1.0) + signal * 0.02 + noise * 0.01), 4)
        .as("value"),
      lit(null).cast("string").as("props"))
  }

  /** Index membership spells: 85% of series are members throughout, 10%
    * leave for one to two days mid-span, 5% join mid-span.
    */
  def spells(spark: SparkSession, seed: Long, s: Shape): DataFrame = {
    val s0 = dayStart(s.days.head) - 30L * 86400L
    val s1 = dayStart(s.days.last) + 31L * 86400L
    val spanSec = dayStart(s.days.last) + 86400L - dayStart(s.days.head)
    val h = u01(seed, "memb", col("user_id"))
    val cut = lit(dayStart(s.days.head)) +
      (u01(seed, "cut", col("user_id")) * spanSec).cast("long")
    val gap = (lit(86400.0) * (lit(1.0) + u01(seed, "gap", col("user_id"))))
      .cast("long")
    spark.range(0L, 2L * s.k, 1L, 1).selectExpr("id div 2 AS user_id",
        "id % 2 AS part")
      .select(col("user_id"),
        when(h < 0.85, when(col("part") === 0, lit(s0)))
          .when(h < 0.95, when(col("part") === 0, lit(s0))
            .otherwise(cut + gap))
          .otherwise(when(col("part") === 0, cut)).as("from_sec"),
        when(h < 0.85, lit(s1))
          .when(h < 0.95, when(col("part") === 0, cut).otherwise(lit(s1)))
          .otherwise(lit(s1)).as("to_sec"))
      .where(col("from_sec").isNotNull)
  }

  /** Four dated book values per series, from 90 days before the span to
    * its end; `seq` breaks ties between equal report times.
    */
  def fundamentals(spark: SparkSession, seed: Long, s: Shape): DataFrame = {
    val from = dayStart(s.days.head) - 90L * 86400L
    val spanSec = dayStart(s.days.last) + 86400L - from
    spark.range(0L, 4L * s.k, 1L, 1)
      .selectExpr("id div 4 AS user_id", "id AS seq")
      .select(col("user_id"),
        (lit(from) + (u01(seed, "rep", col("seq")) * spanSec).cast("long"))
          .as("report_sec"),
        col("seq"),
        round(level(seed) * (lit(0.2) + u01(seed, "bv", col("seq")) * 0.6), 2)
          .as("book"))
  }

  def write(spark: SparkSession, seed: Long, s: Shape, dir: String,
            tables: Boolean): Unit = {
    events(spark, seed, s).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    if (tables) {
      spells(spark, seed, s).write.mode("overwrite")
        .parquet(s"$dir/spells.parquet")
      fundamentals(spark, seed, s).write.mode("overwrite")
        .parquet(s"$dir/fundamentals.parquet")
    }
  }

  /** Order-independent digest of what was written: row count and the XOR
    * of every row's xxhash64, per table, read back from disk.
    */
  def digest(spark: SparkSession, dir: String, tables: Boolean): String = {
    val names = Seq("events") ++ (if (tables) Seq("spells", "fundamentals")
                                  else Nil)
    names.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val r = df.select(count(lit(1)),
        bit_xor(xxhash64(df.columns.map(col): _*))).head()
      f"$t:${r.getLong(0)}:${r.getLong(1)}%016x"
    }.mkString(";")
  }
}
