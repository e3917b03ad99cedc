package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte layout of the square-CSV writer: for ANY upper-triangle cell
  * subset, [[Sinks.writeWideMatrixCsvDense]] must write exactly the
  * pandas `data.corr().to_csv()` text a test-local builder assembles —
  * empty index header cell, ids as header row and index column, unit
  * diagonal, symmetric cells, "" for null or absent pairs. Cell text
  * comes from Spark's own `cast(double as string)`, so the spec pins
  * the layout without hard-coding a number format. Shapes: full
  * matrices, null rhos, NaNs, scientific notation, ids that appear in
  * no pair, and seeded random subsets.
  */
class WideMatrixWriterSpec extends SparkTestBase {
  import spark.implicits._
  import WideMatrixWriterSpec.cellsRow

  private def csvText(dir: String): String = {
    val fs = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(fs.length == 1, s"expected one csv in $dir")
    new String(java.nio.file.Files.readAllBytes(fs.head.toPath))
  }

  /** The pandas layout of `cells` over `ids`, one "\n"-ended line per
    * row, every number rendered by Spark's double→string cast.
    */
  private def pandasText(ids: Seq[Long],
                         cells: Seq[(Int, Int, Option[Double])]): String = {
    val text = (Some(1.0) +: cells.map(_._3)).toDF("v")
      .select(col("v").cast("string")).as[String].collect()
    val k = ids.size
    val m = Array.fill(k, k)("")
    (0 until k).foreach(d => m(d)(d) = text.head)
    cells.zip(text.tail).foreach { case ((i, j, _), t) =>
      val s = Option(t).getOrElse("")
      m(i)(j) = s
      m(j)(i) = s
    }
    val header = ("" +: ids.map(_.toString)).mkString(",")
    val rows = ids.indices.map(r =>
      (ids(r).toString +: m(r).toSeq).mkString(","))
    (header +: rows).map(_ + "\n").mkString
  }

  private def assertLayout(ids: Seq[Long],
                           cells: Seq[(Int, Int, Option[Double])]): Unit = {
    val dir = scratchDir("graft_wm_")
    Sinks.writeWideMatrixCsvDense(cellsRow(spark, cells), ids, dir)
    val got = csvText(dir)
    val want = pandasText(ids, cells)
    assert(got == want, s"layout differs:\nWRITER:\n$got\nPANDAS:\n$want")
  }

  test("full matrix: every pair defined") {
    val ids = Seq(3L, 11L, 42L, 99L)
    val cells = for {
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (i, j, Some(math.round((i * 0.17 - j * 0.05) * 1e4) / 1e4))
    assertLayout(ids, cells)
  }

  test("null rhos become empty cells identically") {
    val ids = Seq(1L, 2L, 5L)
    assertLayout(ids,
      Seq((0, 1, Some(0.25)), (0, 2, None), (1, 2, Some(-0.75))))
  }

  test("NaN rhos render as NaN text identically") {
    val ids = Seq(7L, 8L)
    assertLayout(ids, Seq((0, 1, Some(Double.NaN))))
  }

  test("scientific-notation magnitudes format identically") {
    val ids = Seq(1L, 2L, 3L)
    assertLayout(ids,
      Seq((0, 1, Some(1.0e-4)), (0, 2, Some(-3.0e-7)), (1, 2, Some(1.0))))
  }

  test("ids in no pair keep their row and column, empty off the diagonal") {
    val ids = Seq(4L, 6L, 9L, 12L)
    assertLayout(ids, Seq((1, 3, Some(0.5))))
    assertLayout(ids, Nil)
    assertLayout(Seq(5L), Nil)
  }

  test("seeded random shapes: 20 matrices, all byte-identical") {
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val k = 1 + rnd.nextInt(7)
      val ids = Seq.fill(k)(rnd.nextLong().abs % 100000)
        .distinct.sorted
      val kk = ids.size
      // a random pair subset: some ids may appear in no pair at all
      val cells = (for {
        i <- 0 until kk; j <- (i + 1) until kk if rnd.nextDouble() < 0.5
      } yield (i, j, rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(math.round(rnd.nextGaussian() * 1e4) / 1e4)
      }))
      assertLayout(ids, cells)
    }
  }
}

object WideMatrixWriterSpec {
  /** The writer's one-row input: (i, j, rho) cells, i < j indexes into
    * the id seq handed to the writer.
    */
  def cellsRow(spark: SparkSession,
               cells: Seq[(Int, Int, Option[Double])]): DataFrame =
    spark.range(1).select(typedLit(cells)
      .cast("array<struct<i:int,j:int,rho:double>>").as("cells"))
}
