package graft.queries

import org.apache.spark.sql.Row
import graft.{SparkEntry, SparkTestBase}
import graft.ops.Time

/** The four one-pass correlation consumers that once ran a bucket
  * self-join — a3, e1, s6 (through its square-CSV round trip) and g1 —
  * collect the same rows, in the same order, at 2 and at 16 shuffle
  * partitions. Caches are cleared before each run so the setting
  * reaches every stage, not only those after a cached prefix.
  */
class CorrQueryPartitionSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"

  private def rows(name: String, parts: Int): Seq[Row] = {
    Time.unpersistPanels()
    spark.catalog.clearCache()
    spark.conf.set(key, parts.toLong)
    SparkEntry.queries(name)(spark, sf).collect().toSeq
  }

  Seq("a3_corr_matrix", "e1_flagship", "s6_wide_corr_roundtrip",
    "g1_edges").foreach { name =>
    test(s"$name: identical rows at 2 and 16 shuffle partitions") {
      // the suites share one session: restore the setting, drop caches
      val prev = spark.conf.get(key)
      try {
        val two = rows(name, 2)
        assert(two.nonEmpty, s"$name is empty at sf0.001")
        assert(rows(name, 16) == two)
      } finally {
        spark.conf.set(key, prev)
        Time.unpersistPanels()
        spark.catalog.clearCache()
      }
    }
  }
}
