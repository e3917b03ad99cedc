package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.{PearsonReference, SparkEntry, SparkTestBase}

/** [[Corr]]'s window-keyed one-pass entry is bit-for-bit independent of
  * how its input is partitioned and of which other windows share the
  * job — the property every per-window consumer (e1, e1b, g3, the
  * flagship export, the streaming corr) relies on — and bit-for-bit
  * equal to the decimal [[graft.PearsonReference]] pair join. The fixture panel has a
  * no-tick window (the grid day before the first sf0.001 tick: every
  * value missing) and an all-NaN series (an id with no ticks at all).
  */
class CorrSpec extends SparkTestBase with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private val day = 86400L
  private val a = SparkEntry.jan1 - day
  private val b = SparkEntry.jan3
  private val noTicks = 1000000L

  // the suites share one session: leave no panel or query cache behind
  override def afterAll(): Unit = {
    Time.unpersistPanels()
    spark.catalog.clearCache()
    super.afterAll()
  }

  private def winOf(c: org.apache.spark.sql.Column) =
    ((c - a) / day).cast("long")

  /** The panel of [a, b) with the all-NaN series appended to the
    * universe; rebuilt per call so a shuffle-partition setting reaches
    * every stage, not only the ones after a cached prefix.
    */
  private def panel(): (Seq[Long], DataFrame) = {
    Time.unpersistPanels()
    spark.catalog.clearCache()
    val (bucketed, filled) =
      SparkEntry.resampledParts(spark, sf, 20, a, b, 600)
    val users = SparkEntry.sortedUsers(bucketed) :+ noTicks
    (users, SparkEntry.panelOf(filled, users))
  }

  /** window → every cell as (i, j, raw rho bits), in cell order. */
  private def bits(cells: DataFrame): Map[Long, Seq[(Int, Int, Option[Long])]] =
    cells.collect().map { r =>
      val w = if (r.length == 2) r.getLong(0) else -1L
      w -> r.getSeq[Row](r.length - 1).map(c => (c.getInt(0), c.getInt(1),
        if (c.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(c.getDouble(2)))))
    }.toMap

  private def keyed(users: Seq[Long], p: DataFrame,
      maxParts: Option[Int] = None) =
    bits(Corr.onePass(p, users, Some(winOf(col("bucket")).as("win")),
      maxParts))

  private lazy val reference = {
    val (users, p) = panel()
    (users, keyed(users, p))
  }

  test("the fixture is not vacuous: three windows, the no-tick window " +
    "and the all-NaN series undefined, defined cells elsewhere") {
    val (users, ref) = reference
    assert(ref.keySet == Set(0L, 1L, 2L))
    val k = users.size
    ref.values.foreach(cells => assert(cells.size == k * (k - 1) / 2))
    assert(ref(0L).forall(_._3.isEmpty), "the no-tick window has a rho")
    ref.values.flatten.filter(_._2 == k - 1)
      .foreach(c => assert(c._3.isEmpty, s"all-NaN series cell $c"))
    assert(ref(1L).exists(_._3.nonEmpty) && ref(2L).exists(_._3.nonEmpty))
  }

  test("window-keyed cells are bit-identical at maxParts 1, 2 and 7") {
    val (users, ref) = reference
    val (_, p) = panel()
    Seq(1, 2, 7).foreach { n =>
      assert(keyed(users, p, Some(n)) == ref, s"maxParts=$n")
    }
  }

  test("window-keyed cells are bit-identical at 2 and 16 shuffle " +
    "partitions") {
    val (users, ref) = reference
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try Seq(2, 16).foreach { n =>
      spark.conf.set(key, n.toLong)
      val (_, p) = panel()
      assert(keyed(users, p) == ref, s"$key=$n")
    } finally spark.conf.set(key, prev)
  }

  test("each window computed alone equals its window-keyed cells") {
    val (users, ref) = reference
    val (_, p) = panel()
    ref.foreach { case (w, cells) =>
      val alone = bits(Corr.onePass(
        p.where(winOf(col("bucket")) === w), users))
      assert(alone == Map(-1L -> cells), s"window $w")
    }
  }

  test("window-keyed cells equal the decimal reference pair join bit " +
    "for bit; the pairs it never forms (all-NaN series) are undefined") {
    val (users, ref) = reference
    val joined = PearsonReference.pairJoin(
        SparkEntry.resampled(spark, sf, 20, a, b, 600),
        winOf(col("bucket")).as("win"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(3)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      }.toMap
    assert(joined.values.exists(_.nonEmpty), "no defined reference rho")
    val cells = for ((w, cs) <- ref.toSeq; (i, j, rho) <- cs)
      yield (w, users(i), users(j)) -> rho
    val (formed, unformed) = cells.partition(c => joined.contains(c._1))
    assert(formed.toMap == joined)
    assert(unformed.nonEmpty)
    unformed.foreach { case (pair @ (_, _, j), rho) =>
      assert(j == noTicks && rho.isEmpty, s"unformed pair $pair -> $rho")
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The Spark jobs `body` starts from cold caches, one entry per job
    * (its stages' call sites), seen by a SparkListener. A marker job run
    * afterwards drains the listener bus: events arrive in order, so
    * once the marker's start is seen every earlier start has been.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    Time.unpersistPanels()
    spark.catalog.clearCache()
    val marker = "corr-spec-drain"
    val jobs = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == marker))
          drained.countDown()
        else { jobs.add(e.stageInfos.map(_.name).mkString(" | ")); () }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a3e (the selector) runs a3d's jobs plus one: the sorted-id " +
    "collect it needs to learn k") {
    val q = SparkEntry.queries
    val direct = jobsOf(noop(q("a3d_corr_pruned")(spark, sf)))
    val selector = jobsOf(noop(q("a3e_corr_auto_pruned")(spark, sf)))
    // sortedUsers' distinct-collect; the bucketed prefix it reads is
    // materialized by a3d's own plan too, so only the collect is extra
    def collects(jobs: Seq[String]) =
      jobs.count(_.contains("collect at SparkEntry.scala"))
    assert(collects(direct) == 0, direct.mkString("\n"))
    assert(collects(selector) == 1, selector.mkString("\n"))
    assert(selector.size == direct.size + 1,
      s"a3d ${direct.size} jobs, a3e ${selector.size}")
  }
}
