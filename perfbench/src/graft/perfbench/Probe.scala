package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job execution counters, collected by a listener the traced run
  * registers on its own session: job group, submission/completion time,
  * executor run and CPU time, and shuffle records written.
  */
final class JobMeter(sc: SparkContext) extends SparkListener {
  final class Job(val id: Int, val group: String, val submitMs: Long) {
    @volatile var endMs: Long = -1L
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shuffleRows = new java.util.concurrent.atomic.AtomicLong
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.runMs.addAndGet(m.executorRunTime)
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.shuffleRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  /** Every job seen so far, after all posted events are delivered. */
  def snapshot(): Seq[Job] = {
    org.apache.spark.perfbenchbridge.ListenerDrain.drain(sc)
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object JobMeter {
  def install(sc: SparkContext): JobMeter = { val m = new JobMeter(sc); sc.addSparkListener(m); m }

  /** (jobs, shuffle rows, executor CPU s, executor run s) over `js`. */
  def totals(js: Seq[JobMeter#Job]): (Long, Long, Double, Double) =
    (js.size.toLong, js.map(_.shuffleRows.get).sum, js.map(_.cpuNs.get).sum / 1e9, js.map(_.runMs.get).sum / 1e3)
}

/** Spans recorded in memory during a traced run and written out at its
  * end: one JSON object per line with name, start and end (epoch ms, from
  * the benchmark's clock) and parent.
  */
final class Spans(val enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[String]()

  def add(name: String, startMs: Double, endMs: Double, parent: String): Unit =
    if (enabled) q.add(Json.obj(Seq("name" -> Json.str(name), "start_ms" -> Json.num(startMs),
      "end_ms" -> Json.num(endMs), "parent" -> Json.str(parent))))

  /** Times `body` and records it as a span; returns (result, seconds). */
  def time[A](name: String, parent: String)(body: => A): (A, Double) = {
    val t0 = Clock.ms()
    val r = body
    val t1 = Clock.ms()
    add(name, t0, t1, parent)
    (r, (t1 - t0) / 1e3)
  }

  def writeTo(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, q.asScala.toSeq.asJava)
  }
}

object Clock {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Monotonic milliseconds on the epoch scale. */
  def ms(): Double = base + System.nanoTime() / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest order statistic with at least 10 samples above it, and
    * the number of samples beyond it; the maximum (0 beyond) when that
    * statistic would fall below the median, i.e. with fewer than 21
    * samples.
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.isEmpty) (Double.NaN, 0)
    else if (xs.size < 21) (xs.max, 0)
    else (xs.sorted.apply(xs.size - 11), 10)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Host {
  /** A fixed pure-JVM integer loop, in ms: a meter of how fast this host
    * runs right now, reported next to the metrics and never used to
    * adjust them.
    */
  def meterMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Driver heap in use after two full GCs, in MB. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }
}

object Files2 {
  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** (regular files, bytes) under `dir`; hidden checksum files included. */
  def du(dir: String): (Long, Long) = {
    val fs = walk(Paths.get(dir))
    (fs.size.toLong, fs.map(Files.size).sum)
  }
}
