// Dev tool: the one query/phase profiler (consolidates the former
// per-query Profile*/TimeQuery one-offs).
//
// Timing mode — Bench's methodology (noop sink, warm pass, cache
// cleared per run, min/median of 3 rounds in rotated order) for any
// named SparkEntry query:
//   sbt "runMain graft.tools.Profile <sfDir> <query> [query...]"
//
// Phase mode — a named per-query phase decomposition, each phase timed
// 3x with caches cleared, so a bench line can be attributed to its
// dominant stage:
//   sbt "runMain graft.tools.Profile <sfDir> --phases <set>"
// Sets: see phaseSets below (panel | a3d | a3e | d4 | s6b | s15 | cc |
// a3dab, or ab:<query>);
// an unknown set errors with the current list.
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Catalog, Sessions, SparkEntry}
import graft.ops.Corr

object Profile {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def clear(spark: SparkSession): Unit = {
    graft.ops.Time.unpersistPanels()
    spark.catalog.clearCache()
  }

  /** Time one thunk 3× with caches cleared — phase-mode granularity. */
  private def phase(spark: SparkSession, label: String)(f: => Any): Unit =
    (1 to 3).foreach { i =>
      clear(spark)
      val t0 = System.nanoTime()
      f match { case df: DataFrame => noop(df); case _ => () }
      println(f"[p] $label%-28s run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

  private def timeQueries(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(", ")}")
    // one untimed warm pass per name; a failing query is reported and
    // SKIPPED — the remaining names still profile (the timed rounds
    // would otherwise rethrow the same error and lose the session)
    val warmed = names.distinct.filter { name =>
      try { noop(SparkEntry.queries(name)(spark, sfDir)); true }
      catch { case e: Throwable =>
        println(s"[q] $name FAILED, skipping: ${e.getMessage}")
        false
      }
    }
    // three timed rounds, the name order rotated each round, so no
    // query is always timed first — the lead slot absorbs the JVM's
    // compile slope and reads slower than the same query run later
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]]
      .withDefaultValue(Nil)
    (0 until 3).foreach { round =>
      val n = warmed.size
      (0 until n).map(p => warmed((p + round) % n)).foreach { name =>
        clear(spark)
        val t0 = System.nanoTime()
        noop(SparkEntry.queries(name)(spark, sfDir))
        times(name) :+= (System.nanoTime() - t0) / 1e9
      }
    }
    warmed.foreach { name =>
      val t = times(name).sorted
      println(f"[q] $name%-28s median ${t(1)}%.2f s  min ${t.head}%.2f s")
    }
  }

  // ------------------------------------------------------- phase sets

  /** resampleFfill's pipeline (shared input of the a3/w1 families). */
  private def phasesPanel(s: SparkSession, d: String): Unit = {
    val jan1 = SparkEntry.jan1
    val jan2 = SparkEntry.jan2
    val ev = Catalog.load(s, d, "events").where(col("user_id") < 300)
    phase(s, "scan+filter")(ev.select("user_id", "ts", "value"))
    phase(s, "bucket-agg") {
      ev.groupBy((unix_timestamp(col("ts")) -
          unix_timestamp(col("ts")) % 600).as("bucket"), col("user_id"))
        .agg(graft.ops.Exact.davg(col("value")).as("value")).count()
    }
    phase(s, "full resampleFfill") {
      graft.ops.Time.resampleFfill(s, ev, "user_id", "ts", "value",
        jan1, jan2, 600, graft.ops.Exact.davg(col("value"))).count()
    }
  }

  /** a3d's pruned-corr core: panel, LSH candidates, vector verify. */
  private def phasesA3d(s: SparkSession, d: String): Unit = {
    val jan1 = SparkEntry.jan1
    val jan3 = SparkEntry.sec("2024-01-03T00:00:00")
    def filled = SparkEntry.resampled(s, d, 300, jan1, jan3, 600)
    phase(s, "panel")(filled.count())
    phase(s, "candidates") {
      graft.ops.CorrPrune.corrCandidates(filled.withColumn("pos",
          ((col("bucket") - jan1) / 600 + 1).cast("int")), "user_id", "pos",
        "value", 288, Corr.A3dBands, Corr.A3dBits).count()
    }
    phase(s, "candidates+verify+keep")(
      Corr.pruned(filled, jan1, 600, 288, (4, 0.5)))
  }

  /** The a3e selector route vs the direct a3d query. */
  private def phasesA3e(s: SparkSession, d: String): Unit = {
    val jan1 = SparkEntry.jan1
    val jan2 = SparkEntry.jan2
    phase(s, "widePanel users only") {
      val (users, _) = Corr.widePanel(s, d, 300, jan1, jan2, 600)
      println(s"[p]   k=${users.size}")
    }
    phase(s, "a3d full")(SparkEntry.queries("a3d_corr_pruned")(s, d))
    phase(s, "panelRho pruned edges") {
      Corr.panelRho(s, d, 300, jan1, jan2, 600,
        roundThenFilter = Some((4, 0.5)), onePassMaxK = 1)._2
    }
    phase(s, "a3e full")(
      SparkEntry.queries("a3e_corr_auto_pruned")(s, d))
  }

  /** d4's array-domain shape: doc sets, hot cut, count-join — the
    * SHIPPED stages (graft.queries.LlmQueries.d4DocSets/
    * d4FilteredSets), not a copy that could drift from the query.
    */
  private def phasesD4(s: SparkSession, d: String): Unit = {
    import graft.queries.LlmQueries.{d4DocSets, d4FilteredSets}
    def docsets = d4DocSets(s, d)
    def setsF = d4FilteredSets(docsets)
    phase(s, "docsets")(docsets.count())
    phase(s, "hot cut + setsF")(setsF.count())
    phase(s, "inter count-join") {
      val post = setsF.select(col("doc_id"), col("szf"),
        explode(col("hsf")).as("h"))
      post.select(col("doc_id").as("i"), col("szf").as("sa"), col("h"))
        .join(post.select(col("doc_id").as("j"), col("szf").as("sb"),
          col("h")), Seq("h"))
        .where(col("i") < col("j"))
        .groupBy("i", "j", "sa", "sb").agg(count(lit(1)).as("inter"))
        .count()
    }
    phase(s, "d4 full")(SparkEntry.queries("d4_ngram_jaccard")(s, d))
  }

  /** The one-pass tier's long-form edges at the a3c/s6b/s15 partition
    * bound.
    */
  private def onePassEdges(panel: DataFrame, users: Seq[Long],
      nBuckets: Long): DataFrame =
    Corr.cellRows(Corr.onePass(panel, users, maxParts =
      Some(graft.ops.Relational.boundedPartitions(nBuckets, 256))), users)

  /** s6b's chain: panel, UDAF, square-CSV write, read-back. */
  private def phasesS6b(s: SparkSession, d: String): Unit = {
    val jan1 = SparkEntry.jan1
    val jan3 = SparkEntry.sec("2024-01-03T00:00:00")
    phase(s, "resample+users collect") {
      val (users, _) = Corr.widePanel(s, d, 500, jan1, jan3, 600)
      println(s"[p]   k=${users.size}")
    }
    phase(s, "panel rows")(Corr.widePanel(s, d, 500, jan1, jan3, 600)._2)
    phase(s, "panel+udaf edges") {
      val (users, panel) = Corr.widePanel(s, d, 500, jan1, jan3, 600)
      onePassEdges(panel, users, (jan3 - jan1) / 600)
    }
    phase(s, "a3c full")(
      SparkEntry.queries("a3c_corr_onepass_wide")(s, d))
    phase(s, "s6b full")(
      SparkEntry.queries("s6b_wide_corr_matrix")(s, d))
  }

  /** s15's bucketed-panel chain: id collect, assembly, UDAF, full. */
  private def phasesS15(s: SparkSession, d: String): Unit = {
    val jan1 = SparkEntry.jan1
    val jan3 = SparkEntry.sec("2024-01-03T00:00:00")
    def tbl = graft.sources.Materialize.bucketedTable(s, d,
      "panel_by_bucket", 16, Seq("bucket")) {
      SparkEntry.resampled(s, d, 500, jan1, jan3, 600)
    }
    phase(s, "table scan only")(tbl.count())
    phase(s, "sortedUsers collect")(SparkEntry.sortedUsers(tbl))
    phase(s, "panel assembly") {
      SparkEntry.panelOf(tbl, SparkEntry.sortedUsers(tbl))
    }
    phase(s, "panel+udaf edges") {
      val users = SparkEntry.sortedUsers(tbl)
      onePassEdges(SparkEntry.panelOf(tbl, users), users, (jan3 - jan1) / 600)
    }
    phase(s, "s15 full")(
      SparkEntry.queries("s15_bucketed_panel")(s, d))
  }

  /** d6's clustering cost, measured on the SHIPPED operator
    * (ops/Components — local union-find + double pointer jump), not a
    * scratch reimplementation. Set GRAFT_CC_DEBUG=1 for its per-round
    * progress lines.
    */
  private def phasesCC(s: SparkSession, d: String): Unit = {
    val t00 = System.nanoTime()
    // materialize the pair graph to scratch parquet ONCE: phase() clears
    // all caches per run, so timing connectedComponents over the raw d2
    // plan would re-run the whole minhash pipeline each iteration and
    // attribute its cost to CC
    val out = graft.sources.Materialize.processPath(d, "profile_cc_pairs")
    SparkEntry.queries("d2_minhash_lsh")(s, d).select("i", "j")
      .write.mode("overwrite").parquet(out)
    val pairs = s.read.parquet(out)
    println(f"[p] pairs=${pairs.count()} build ${(System.nanoTime() - t00) / 1e9}%.2f s")
    phase(s, "connectedComponents") {
      graft.ops.Components.connectedComponents(pairs, "i", "j").count()
    }
    phase(s, "d6 full")(SparkEntry.queries("d6_dup_clusters")(s, d))
  }

  /** The 8-run one-JVM adjudication protocol for a3d (a3f is the same
    * query) — the repo's largest ambient-load multiplier after round
    * 19's loaded driver sweep (idle min 1.55 s, 13.24 s under load_avg
    * 8.86). Runs the graded query 8× in ONE JVM (the only trustworthy
    * delta domain on a shared host), each run bracketed by a whole-JVM
    * GC-time read and carrying a stage-level listener, and prints per
    * run: wall, GC delta, summed task time, and the top stages by task
    * time (tasks / sum / max / stage GC) — so a slow mode names its
    * stalling stage with numbers instead of analogy.
    */
  private def phasesA3dAb(s: SparkSession, d: String): Unit =
    abProtocol("a3d_corr_pruned")(s, d)

  private def abProtocol(queryName: String)(
      s: SparkSession, d: String): Unit = {
    import scala.jdk.CollectionConverters._
    val label = queryName.takeWhile(_ != '_')
    val fn = SparkEntry.queries(queryName)
    noop(fn(s, d)) // warm: JIT + lake builds out of the measured runs
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (1 to 8).foreach { i =>
      clear(s)
      val byStage = new java.util.concurrent.ConcurrentHashMap[
        Int, (String, Long, Long, Long, Int)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null && t.taskMetrics != null) {
            byStage.merge(t.stageId,
              ("", t.taskInfo.duration, t.taskInfo.duration,
                t.taskMetrics.jvmGCTime, 1),
              (a, b) => (a._1, a._2 + b._2, math.max(a._3, b._3),
                a._4 + b._4, a._5 + b._5))
            ()
          }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit = {
          byStage.computeIfPresent(sc.stageInfo.stageId,
            (_, v) => (sc.stageInfo.name.takeWhile(_ != '\n').take(60),
              v._2, v._3, v._4, v._5))
          ()
        }
      }
      s.sparkContext.addSparkListener(listener)
      val g0 = gcMs
      val t0 = System.nanoTime()
      noop(fn(s, d))
      val wall = (System.nanoTime() - t0) / 1e9
      val gDelta = gcMs - g0
      Thread.sleep(500) // listener drain (dev read; order-of-magnitude)
      s.sparkContext.removeSparkListener(listener)
      val stages = byStage.asScala.toSeq
        .map { case (id, (nm, sum, mx, gc, n)) => (id, nm, sum, mx, gc, n) }
      val sumTask = stages.map(_._3).sum / 1e3
      println(f"[p] $label%s run$i wall=$wall%.2f s jvmGc=${gDelta}%d ms " +
        f"sumTask=$sumTask%.1f s stages=${stages.size}")
      stages.sortBy(-_._3).take(4).foreach {
        case (id, nm, sum, mx, gc, n) =>
          println(f"[p]   stage=$id%4d tasks=$n%3d sum=${sum / 1e3}%6.1f s " +
            f"max=$mx%5d ms gc=$gc%5d ms  $nm")
      }
    }
  }

  private val phaseSets: Map[String, (SparkSession, String) => Unit] =
    Map("panel" -> phasesPanel, "a3d" -> phasesA3d, "a3e" -> phasesA3e,
      "d4" -> phasesD4, "s6b" -> phasesS6b, "s15" -> phasesS15,
      "cc" -> phasesCC, "a3dab" -> phasesA3dAb)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rest = args.drop(1).toSeq
    val spark = Sessions.build("profile")
    rest match {
      // generic stage-attribution: --phases ab:<query> runs the 8-run
      // one-JVM listener protocol on ANY named query (the a3dab set is
      // the pre-wired instance)
      case Seq("--phases", set) if set.startsWith("ab:") =>
        abProtocol(set.stripPrefix("ab:"))(spark, sfDir)
      case Seq("--phases", set) =>
        phaseSets.getOrElse(set,
          sys.error(s"unknown phase set '$set' " +
            s"(have: ${phaseSets.keys.toSeq.sorted.mkString(", ")})"))
          .apply(spark, sfDir)
      case names if names.nonEmpty => timeQueries(spark, sfDir, names)
      case _ => sys.error(
        "usage: Profile <sfDir> (<query> [query...] | --phases <set>)")
    }
    spark.stop()
  }
}
