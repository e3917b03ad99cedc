package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.11 empty-input tolerance on the sink round-trips. The reference
  * swallows empty windows and continues (correlation_matrix_exporter
  * .py:125-126); a Spark dir written from zero rows has no data files, so
  * a naive re-read dies in schema inference — round 9's fixture drift
  * turned exactly this into three erroring queries. These tests pin the
  * graded read-back paths to degrade to empty relations instead.
  */
class SinkEmptySpec extends SparkTestBase {

  /** Write long-form (i, j, rho) pairs over the sorted universe `ids`
    * through the square writer, then read the file back.
    */
  private def roundTrip(out: String, ids: Seq[Long],
                        pairs: Seq[(Long, Long, Option[Double])]) = {
    val cells = pairs.map { case (i, j, r) =>
      (ids.indexOf(i), ids.indexOf(j), r)
    }
    Sinks.writeWideMatrixCsvDense(
      WideMatrixWriterSpec.cellsRow(spark, cells), ids, out)
    Sinks.readWideMatrixCsvLong(spark, out, ids)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("i", "j").collect().toSeq.map(r => (r.getLong(0),
      r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  test("writeWideMatrixCsv on zero pairs: empty ids, empty-safe read") {
    val back = roundTrip(scratchDir("graft_empty_wide_"), Nil, Nil)
    assert(back.schema.map(f => (f.name, f.dataType)) == Seq(
      ("i", LongType), ("j", LongType), ("rho", DoubleType)))
    assert(back.count() == 0)
    // a zero-row cells input (a window filter that matched nothing)
    // writes an empty file that reads back as zero pairs
    val out = scratchDir("graft_empty_rows_")
    Sinks.writeWideMatrixCsvDense(
      WideMatrixWriterSpec.cellsRow(spark, Nil).where(lit(false)),
      Seq(1L, 2L), out)
    assert(Sinks.readWideMatrixCsvLong(spark, out, Seq(1L, 2L)).count() == 0)
  }

  test("readWideMatrixCsvLong round-trips a non-empty matrix") {
    val pairs = Seq((1L, 2L, Some(0.5)), (1L, 3L, Some(-0.25)),
      (2L, 3L, Some(1.0)))
    val back = roundTrip(scratchDir("graft_roundtrip_wide_"),
      Seq(1L, 2L, 3L), pairs)
    assert(rows(back) == pairs)
  }

  test("absent pairs write empty cells that read back as null rho") {
    val out = scratchDir("graft_sparse_wide_")
    val back = roundTrip(out, Seq(1L, 2L, 3L),
      Seq((1L, 2L, Some(0.5)), (2L, 3L, Some(1.0))))
    assert(rows(back) == Seq((1L, 2L, Some(0.5)), (1L, 3L, None),
      (2L, 3L, Some(1.0))))
  }

  test("randomized roundtrip: any pair set survives write+read exactly") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val ids = rnd.shuffle((1L to 40L).toList).take(5 + rnd.nextInt(10))
        .sorted
      val universe = for {
        i <- ids; j <- ids if i < j
      } yield (i, j)
      val kept = universe.filter(_ => rnd.nextDouble() < 0.6)
        .map { case (i, j) =>
          (i, j, Some(math.rint(rnd.nextDouble() * 1e4) / 1e4))
        }
      val back = rows(roundTrip(scratchDir(s"graft_rand_wide_${trial}_"),
        ids, kept))
      // every pair of the universe comes back, absent ones as null
      val want = universe.map { case (i, j) =>
        (i, j, kept.collectFirst { case (`i`, `j`, r) => r }.flatten)
      }
      assert(back == want,
        s"trial $trial: ${back.diff(want).take(3)} vs " +
          s"${want.diff(back).take(3)}")
    }
  }

  test("declared-schema parquet read of an empty partitioned layout") {
    val out = scratchDir("graft_empty_layout_")
    val ev = graft.Catalog.load(spark, "/root/testdata/sf0.001", "events")
      .where(lit(false))
      .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("date").parquet(out)
    val layoutSchema = StructType(
      graft.Catalog.schemas("events").fields.toSeq :+
        StructField("date", StringType))
    val back = spark.read.schema(layoutSchema).parquet(out)
      .where(col("date") === "2024-01-03")
      .groupBy("date", "event_type").agg(count(lit(1)).as("n"))
    assert(back.count() == 0) // degrades to empty, not an inference error
  }
}
