package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one execution meter: the jobs, completed stages and shuffle
  * totals of what Spark ran while a block ran. Bench's per-query
  * "shuffle" JSON and every job, stage or shuffle pin in the specs read
  * it.
  *
  * [[measure]] adds a listener, runs a one-task fence job, runs the
  * body, runs a closing fence job and waits for that fence's
  * `onJobEnd`. The scheduler posts every job, stage and task event from
  * its one event loop, a job's `onJobEnd` is posted before its action
  * returns, and the shared listener queue delivers in posting order.
  * So the opening fence's end precedes every event of the body, and
  * once the closing fence's end has arrived the body is counted in
  * full; events still queued when the listener was added fall before
  * the opening fence and are dropped. The fences run under the meter's
  * own job group (the caller's is restored) and are never counted; jobs
  * other threads start inside the window are, each with its local
  * properties. If the closing fence does not arrive within 30 s,
  * [[measure]] throws rather than return a partial count.
  */
object SparkMeter {

  private val GroupKey = "spark.jobGroup.id"

  final case class Job(id: Int, properties: Map[String, String]) {
    def group: Option[String] = properties.get(GroupKey)
  }

  /** Shuffle records and bytes written and read across the window's
    * tasks. Reads can exceed writes when an exchange is consumed by more
    * than one downstream stage (plan reuse). */
  final case class Shuffle(writeRows: Long, writeBytes: Long, readRows: Long, readBytes: Long) {
    def json: String = Json.obj(Seq("w_rows" -> writeRows, "w_bytes" -> writeBytes,
      "r_rows" -> readRows, "r_bytes" -> readBytes))
  }

  /** The jobs in start order, the completed stages, the shuffle totals. */
  final case class Window(jobs: Seq[Job], stages: Int, shuffle: Shuffle)

  /** `body`'s value and the window it ran in; `body`'s exceptions propagate. */
  def measure[A](spark: SparkSession)(body: => A): (A, Window) = {
    val sc = spark.sparkContext
    val rec = new Recorder(s"graft-meter-${java.util.UUID.randomUUID()}")
    def fence(): Unit = {
      val callerGroup = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, rec.group)
      try sc.parallelize(Seq(1), 1).count(): Unit
      finally sc.setLocalProperty(GroupKey, callerGroup)
    }
    sc.addSparkListener(rec)
    try {
      fence()
      val out = body
      fence()
      if (!rec.closed.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("SparkMeter: the closing fence job did not end within 30 s")
      (out, rec.window)
    } finally sc.removeSparkListener(rec)
  }

  /** Callbacks run on the shared queue's one thread; [[measure]] reads
    * the counts only after [[closed]] opens, which orders them. */
  private final class Recorder(val group: String) extends SparkListener {
    private var fences = Set.empty[Int]
    private var counting, ended = false
    private val jobs = Seq.newBuilder[Job]
    private var stages = 0
    private var wRows, wBytes, rRows, rBytes = 0L
    val closed = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).fold(Map.empty[String, String])(p =>
        p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap)
      if (props.get(GroupKey).contains(group)) {
        fences += e.jobId
        ended = counting
        counting = false
      } else if (counting) jobs += Job(e.jobId, props)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (fences(e.jobId)) { if (ended) closed.countDown() else counting = true }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (counting) stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (counting && m != null) {
        wRows += m.shuffleWriteMetrics.recordsWritten
        wBytes += m.shuffleWriteMetrics.bytesWritten
        rRows += m.shuffleReadMetrics.recordsRead
        rBytes += m.shuffleReadMetrics.totalBytesRead
      }
    }

    def window: Window = Window(jobs.result(), stages, Shuffle(wRows, wBytes, rRows, rBytes))
  }
}
