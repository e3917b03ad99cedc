package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metric totals of one span (or of the whole process). */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rowsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
    }
  }

  def addAll(o: Totals): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; rowsRead += o.rowsRead; bytesRead += o.bytesRead
    taskMs ++= o.taskMs
  }

  /** Max over median task time; 0 when no task ran. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** A span at a layer boundary: name, start, end (ns) and its parent. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
                      var end: Long)

/** Spans around the benchmark's calls into the engine, and a listener that
  * charges each task to the innermost open span through the Spark job
  * group. Lives in the benchmark: the engine carries no tracing of its
  * own. Spans are kept in memory and written out when the run ends.
  *
  * Untraced passes open no spans; the listener then only sums the
  * process-wide totals behind `cpu_s`.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id" // SparkContext.SPARK_JOB_GROUP_ID
  private val Prefix = "perfbench-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Totals]
  val total = new Totals
  private val counters = mutable.Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(_.startsWith(Prefix))
      .map(_.stripPrefix(Prefix).toInt)
      .foreach { id =>
        bySpan.getOrElseUpdate(id, new Totals).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    total.add(e)
    stageSpan.get(e.stageId).foreach(bySpan.getOrElseUpdate(_, new Totals).add(e))
  }

  /** Wait until every queued listener event has been handled. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def cpuSeconds: Double = { drain(); synchronized(total.cpuNs / 1e9) }

  /** Record a span that ran before the listener existed (session start). */
  def record(name: String, start: Long, end: Long): Unit =
    spans += Span(spans.size, name, -1, start, end)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, open.headOption.getOrElse(-1), System.nanoTime, 0L)
    open = id :: open
    sc.setJobGroup(Prefix + id, name)
    try body
    finally {
      spans(id).end = System.nanoTime
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(Prefix + p, spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def count(key: String, n: Long): Unit =
    counters(key) = counters.getOrElse(key, 0L) + n

  /** Per-layer metrics of the span trees rooted at `roots`: wall and self
    * time, task totals charged to the layer's spans, and the counters
    * recorded since the last call.
    */
  def layers(roots: Seq[Int]): Map[String, Double] = {
    drain()
    val children = spans.groupBy(_.parent)
    def tree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).toSeq.flatMap(tree)
    val chosen = roots.flatMap(r => tree(spans(r)))
    val out = mutable.Map.empty[String, Double]
    synchronized {
      chosen.groupBy(_.name).foreach { case (layer, ss) =>
        val t = new Totals
        var wall = 0L
        var self = 0L
        ss.foreach { s =>
          val d = s.end - s.start
          wall += d
          self += d - children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
          bySpan.get(s.id).foreach(t.addAll)
        }
        out ++= Map(
          s"$layer.wall_s" -> wall / 1e9, s"$layer.self_s" -> self / 1e9,
          s"$layer.cpu_s" -> t.cpuNs / 1e9, s"$layer.gc_s" -> t.gcMs / 1e3,
          s"$layer.jobs" -> t.jobs.toDouble, s"$layer.tasks" -> t.tasks.toDouble,
          s"$layer.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
          s"$layer.shuffle_read_bytes" -> t.shuffleRead.toDouble,
          s"$layer.spill_bytes" -> t.spill.toDouble,
          s"$layer.task_skew" -> t.skew)
        if (layer == "catalog") out ++= Map(
          "catalog.rows_read" -> t.rowsRead.toDouble,
          "catalog.bytes_read" -> t.bytesRead.toDouble)
      }
    }
    out ++= counters.map { case (k, v) => k -> v.toDouble }
    counters.clear()
    out.toMap
  }

  def spansJson(t0: Long): String = spans.map { s =>
    f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      f""""start_s": ${(s.start - t0) / 1e9}%.6f, "end_s": ${(s.end - t0) / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** The benchmark's hook at each layer boundary. Untraced (`trace` None)
  * it runs the body as is, so the pipeline plans exactly as the engine's
  * own callers plan it. Traced, it opens a span, materializes the layer's
  * output (cache + count) so the layer's work is charged to its own span,
  * and records counters.
  */
final class Stage(val trace: Option[Trace]) {
  private val held = mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]

  def apply[T](layer: String)(body: => T): T =
    trace.fold(body)(_.span(layer)(body))

  /** Traced: cache and count `df` (recording the count under `key` when
    * given). Untraced: `df` unchanged.
    */
  def out(df: org.apache.spark.sql.DataFrame,
          key: String = ""): org.apache.spark.sql.DataFrame =
    trace.fold(df) { t =>
      val c = df.cache()
      held += c
      val n = c.count()
      if (key.nonEmpty) t.count(key, n)
      c
    }

  /** Traced: record `n` under `key`. Untraced: `n` is not evaluated. */
  def count(key: String, n: => Long): Unit = trace.foreach(_.count(key, n))

  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }
}
