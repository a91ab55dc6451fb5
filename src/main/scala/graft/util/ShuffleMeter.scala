package graft.util

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Accumulates task-level shuffle metrics between [[reset]] and
  * [[snapshot]] — the measurement layer behind MetricsSpec's
  * shuffle-growth regression gate and Bench's per-query "shuffle"
  * JSON section. SURVEY §9's shuffle accounting was prose + plan-shape
  * pins until round 19; this turns it into measured bytes/rows, so a
  * quadratic blowup that KEEPS its plan shape (e.g. a banded join
  * whose bands stop pruning) is caught by numbers, not argument.
  *
  * Listener delivery is asynchronous; both [[reset]] and [[snapshot]]
  * poll the counters to quiescence (bounded) rather than reaching into
  * the private listener-bus flush API, so the meter works on any
  * public Spark build. Quiescence polling happens OUTSIDE callers'
  * timed windows (reset before t0, snapshot after the clock stops).
  */
final class ShuffleMeter private () extends SparkListener {
  private val wRows = new AtomicLong
  private val wBytes = new AtomicLong
  private val rRows = new AtomicLong
  private val rBytes = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      wRows.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
      wBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      rRows.addAndGet(m.shuffleReadMetrics.recordsRead): Unit
      rBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
    }
  }

  private def counters() = (wRows.get, wBytes.get, rRows.get, rBytes.get)

  /** Wait (bounded) until no further task-end events are draining into
    * the counters: two consecutive 50 ms reads must agree. */
  private def quiesce(): Unit = {
    var last = (-1L, -1L, -1L, -1L)
    var stable = 0
    val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
    while (stable < 2 && System.nanoTime() < deadline) {
      val cur = counters()
      if (cur == last) stable += 1 else { stable = 0; last = cur }
      Thread.sleep(50)
    }
  }

  /** Zero the counters (after draining any straggler events from the
    * previous measurement). */
  def reset(): Unit = {
    quiesce()
    wRows.set(0); wBytes.set(0); rRows.set(0); rBytes.set(0)
  }

  /** The shuffle totals since the last [[reset]]. */
  def snapshot(): ShuffleMeter.Snap = {
    quiesce()
    ShuffleMeter.Snap(wRows.get, wBytes.get, rRows.get, rBytes.get)
  }
}

object ShuffleMeter {
  /** Totals across all tasks in the window: shuffle records/bytes
    * written and read. Reads can exceed writes when an exchange is
    * consumed by more than one downstream stage (plan reuse). */
  final case class Snap(writeRows: Long, writeBytes: Long,
                        readRows: Long, readBytes: Long) {
    def json: String = Json.obj(Seq("w_rows" -> writeRows, "w_bytes" -> writeBytes,
      "r_rows" -> readRows, "r_bytes" -> readBytes))
  }

  def install(sc: SparkContext): ShuffleMeter = {
    val m = new ShuffleMeter()
    sc.addSparkListener(m)
    m
  }
}
