package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.util.hashing.MurmurHash3

import graft.Sessions
import graft.pipeline.WindowResult

/** The exported artifacts of one pass. */
object Output {
  /** Data files under `dir`: Spark's `_SUCCESS` markers, `.crc` side files
    * and staging directories are not artifacts.
    */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .sortBy(_.getName).flatMap(walk)
      else Seq(f)
    if (new File(dir).exists) walk(new File(dir)) else Nil
  }

  def bytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  /** Content digest of the artifacts: per directory (relative to `dir`),
    * the set of its files' first lines (CSV headers, one per part file)
    * and the multiset of their other lines, decompressed. Part-file names
    * and the split of rows between part files do not enter it.
    */
  def digest(dir: String): String = {
    val root = Paths.get(dir)
    val heads = mutable.TreeSet.empty[String]
    val rows = mutable.TreeMap.empty[String, (Long, Long)]
    dataFiles(dir).foreach { f =>
      val rel = root.relativize(f.toPath.getParent).toString
      val raw = Files.newInputStream(f.toPath)
      val in = if (f.getName.endsWith(".gz"))
        new java.util.zip.GZIPInputStream(raw) else raw
      val src = Source.fromInputStream(in, "UTF-8")
      try {
        val lines = src.getLines()
        if (lines.hasNext) heads += s"$rel:${lines.next()}"
        lines.foreach { line =>
          val (sum, n) = rows.getOrElse(rel, (0L, 0L))
          val h = (MurmurHash3.stringHash(line, 17).toLong << 32) ^
            (MurmurHash3.stringHash(line, 91) & 0xffffffffL)
          rows(rel) = (sum + h, n + 1)
        }
      } finally src.close()
    }
    val all = heads.mkString(";") + "|" +
      rows.map { case (d, (h, n)) => f"$d:$n:$h%016x" }.mkString(";")
    MurmurHash3.stringHash(all, 7).toHexString +
      MurmurHash3.stringHash(all, 13).toHexString
  }
}

/** Runs one workload in one process: set-up, then passes until the time
  * budget is spent, then prints one `PERFBENCH {json}` line on stdout for
  * perfbench/run.py, which checks the outputs and prints the metrics.
  *
  * Set-up is timed as session start + one seeded generation of the
  * inputs (written, read back and digested) + two warm-up passes.
  * Untraced passes give result_s and cpu_s. With --trace 1 the passes
  * alternate untraced / traced, and each traced pass reports its
  * per-layer metrics. Every pass records the host's steal and iowait
  * time over the pass, so a pass slowed by the host shows as such.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        [--tiny]
  */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(' ').take(3).mkString("[", ", ", "]")

  /** Steal and iowait seconds, summed over the host's CPUs, since boot
    * (`/proc/stat`, in USER_HZ = 100 ticks per second).
    */
  private def stealIowait(): (Double, Double) = {
    val f = Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().split("\\s+")
      (cpu(8).toDouble / 100, cpu(5).toDouble / 100)
    } finally f.close()
  }

  private def peakRssMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) Files.walk(path)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.delete(f); () })
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = body
    (r, (System.nanoTime - t0) / 1e9)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'")
    .replace("\n", " ") + "\""

  private def obj(kv: Iterable[(String, String)]) =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val wl = Workload(arg(args, "--workload"), args.contains("--tiny"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val data = s"$work/data"
    val loadStart = loadavg()

    val t0 = System.nanoTime
    val spark = Sessions.build("perfbench")
    val sessionS = (System.nanoTime - t0) / 1e9
    val trace = new Trace(spark.sparkContext)
    trace.record("sessions", t0, System.nanoTime)
    spark.sparkContext.addSparkListener(trace)

    val (inputDigest, genS) = timed {
      Gen.write(spark, seed, wl.shape, data, wl.tables)
      Gen.digest(spark, data, wl.tables)
    }
    // two warm-up passes: after one, the JIT still takes the next pass's
    // executor CPU down by a quarter
    val (_, warmS) = timed((1 to 2).foreach { _ =>
      wl.pass(spark, data, s"$work/warmup", new Stage(None))
      rmrf(s"$work/warmup")
    })
    val setupS = sessionS + genS + warmS

    case class Pass(traced: Boolean, resultS: Double, cpuS: Double,
                    stealS: Double, iowaitS: Double,
                    units: Seq[WindowResult], layers: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val outBytes = mutable.ArrayBuffer.empty[Long]
    var firstDigest = ""
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    val minPasses = if (traced) 2 else 3
    // traced runs end on a traced pass, whose artifacts are then digested
    // against the first (untraced) pass's
    while (passes.size < minPasses || System.nanoTime < deadline ||
           (traced && passes.size % 2 == 1)) {
      val i = passes.size
      val tracedPass = traced && i % 2 == 1
      val out = s"$work/out$i"
      val cpu0 = trace.cpuSeconds
      val (steal0, iowait0) = stealIowait()
      val root = trace.spans.size
      val (units, resultS) = timed(wl.pass(spark, data, out,
        new Stage(if (tracedPass) Some(trace) else None)))
      val cpuS = trace.cpuSeconds - cpu0
      val (steal1, iowait1) = stealIowait()
      val layers =
        if (tracedPass) trace.layers(Seq(0, root)) else Map.empty[String, Double]
      passes += Pass(tracedPass, resultS, cpuS, steal1 - steal0,
        iowait1 - iowait0, units, layers)
      units.filterNot(_.ok).foreach(u => System.err.println(
        s"[perfbench] unit ${u.winStart} failed: ${u.error}"))
      outBytes += Output.bytes(out)
      // the first and the last pass's artifacts are digested; only the
      // last pass's stay on disk, for the output checks
      if (i == 0) firstDigest = Output.digest(out)
      else rmrf(s"$work/out${i - 1}")
    }
    val last = passes.size - 1
    val digests = Seq(firstDigest, Output.digest(s"$work/out$last")).distinct
    Files.write(Paths.get(s"$work/spans.json"), trace.spansJson(t0).getBytes(UTF_8))

    val passJson = passes.zip(outBytes).map { case (p, b) =>
      obj(Seq("traced" -> p.traced.toString,
        "result_s" -> p.resultS.toString, "cpu_s" -> p.cpuS.toString,
        "steal_s" -> p.stealS.toString, "iowait_s" -> p.iowaitS.toString,
        "units" -> p.units.size.toString,
        "units_ok" -> p.units.count(_.ok).toString,
        "output_bytes" -> b.toString,
        "layers" -> obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> v.toString })))
    }
    val result = obj(Seq(
      "workload" -> q(wl.name), "seed" -> seed.toString,
      "ticks" -> wl.shape.ticks.toString, "k" -> wl.shape.k.toString,
      "freq_sec" -> wl.freqSec.toString,
      "grid" -> s"[${wl.grid._1}, ${wl.grid._2}]",
      "units" -> wl.units.map { case (a, b) => s"[$a, $b]" }
        .mkString("[", ", ", "]"),
      "session_s" -> sessionS.toString,
      "gen_s" -> genS.toString,
      "warmup_s" -> warmS.toString, "setup_s" -> setupS.toString,
      "input_digest" -> q(inputDigest),
      "output_digests" -> digests.map(q).mkString("[", ", ", "]"),
      "out_dir" -> q(s"$work/out$last"),
      "passes" -> passJson.mkString("[", ", ", "]"),
      "peak_rss_mb" -> peakRssMb().toString,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()))
    spark.stop()
    println("PERFBENCH " + result)
  }
}
