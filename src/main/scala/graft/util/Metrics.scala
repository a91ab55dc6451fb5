package graft.util

import org.apache.spark.sql.Observation
import org.apache.spark.sql.graftbridge.ColumnBridge.observedMetrics

/** Non-blocking Observation resolution shared by the batch and
  * streaming runners.
  *
  * An observation is normally complete when its action returns, also
  * inside `foreachBatch`: on Spark 4.1 the text ingest's observed
  * counts resolve there at once (StreamingSpec checks that its
  * `start()` path runs no fallback count). Resolution still polls
  * briefly and treats ANY failure (no metrics yet, or a schemaless
  * metrics row that NPEs) as absent, so the caller's explicit count
  * is the fallback.
  */
object Metrics {

  def resolve(obs: Observation, timeoutMs: Long = 500): Map[String, Any] = {
    def safe = scala.util.Try(observedMetrics(obs)).getOrElse(Map.empty[String, Any])
    val deadline = System.currentTimeMillis + timeoutMs
    var m = safe
    while (m.isEmpty && System.currentTimeMillis < deadline) {
      Thread.sleep(50); m = safe
    }
    m
  }

  /** Observed long metric `key`, or `fallback` (a real action — only
    * evaluated when the metric never arrives).
    */
  def long(obs: Observation, key: String, fallback: => Long, timeoutMs: Long = 500): Long =
    resolve(obs, timeoutMs).get(key).map(_.asInstanceOf[Long]).getOrElse(fallback)
}
