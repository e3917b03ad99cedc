package graft.pipeline

import graft.{PearsonReference, SparkEntry, SparkTestBase}
import graft.ops.{Corr, Exact, Time}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end goldens with hand-computed constants (SURVEY §5 item 4):
  * tiny synthetic tick series through the full resample→ffill→corr chain.
  * Each constant grades the engine path (the one-pass co-moment
  * aggregate behind [[Corr.onePass]]) and the decimal reference
  * ([[PearsonReference]]) alike.
  */
class GoldenSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  /** (i, j) → rho rounded to 6 dp (None = undefined), by path name. */
  private def rhoBothWays(filled: DataFrame)
      : Seq[(String, Map[(Long, Long), Option[Double]])] = {
    val users = SparkEntry.sortedUsers(filled)
    val engine = Corr.cellRows(
      Corr.onePass(SparkEntry.panelOf(filled, users), users), users)
    val reference = PearsonReference.pairJoin(filled)
    Seq("engine" -> engine, "reference" -> reference).map { case (n, df) =>
      n -> df.select(col("i"), col("j"), round(col("rho"), 6)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    }
  }

  test("E1 chain golden: perfectly correlated and anti-correlated series") {
    // user 1 rises 10,20,30; user 2 rises 1,2,3 (rho=+1 with 1);
    // user 3 falls 30,20,10 (rho=-1 with both)
    val ticks = Seq(
      (ts(30), 1L, 10.0), (ts(90), 1L, 20.0), (ts(150), 1L, 30.0),
      (ts(30), 2L, 1.0), (ts(90), 2L, 2.0), (ts(150), 2L, 3.0),
      (ts(30), 3L, 30.0), (ts(90), 3L, 20.0), (ts(150), 3L, 10.0)
    ).toDF("ts", "user_id", "value")
    val filled = Time.resampleFfill(spark, ticks, "user_id", "ts", "value",
      0, 180, 60, Exact.davg(col("value")))
    rhoBothWays(filled).foreach { case (path, rho) =>
      assert(rho((1L, 2L)).contains(1.0), path)
      assert(rho((1L, 3L)).contains(-1.0), path)
      assert(rho((2L, 3L)).contains(-1.0), path)
    }
  }

  test("E1 chain golden: constant series correlates as NULL, not +-1") {
    val ticks = Seq(
      (ts(30), 1L, 10.0), (ts(90), 1L, 20.0),
      (ts(30), 2L, 7.0), (ts(90), 2L, 7.0) // constant
    ).toDF("ts", "user_id", "value")
    val filled = Time.resampleFfill(spark, ticks, "user_id", "ts", "value",
      0, 120, 60, Exact.davg(col("value")))
    rhoBothWays(filled).foreach { case (path, rho) =>
      assert(rho == Map((1L, 2L) -> None), path)
    }
  }
}
