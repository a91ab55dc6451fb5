package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.RunCatalog
import graft.merge.MergeWriter
import graft.ops.{Extract, Transform, Validation}

/** Streaming twin of the 4-step pipeline (SURVEY.md §2.10 C7 and the
  * reference's planned-only event triggers): watch a landing
  * directory; every micro-batch of newly arrived order files becomes
  * one catalog-tracked run through Extract → Transform → Migrate.
  *
  * `Trigger.AvailableNow` drains what's there and stops (the
  * scheduled-firing shape); the default processing-time trigger keeps
  * watching (the event-driven shape). Micro-batches are planned by
  * Structured Streaming — each batch is bounded, so the merge
  * serialization invariant (§7.4) holds for free.
  */
class StreamingPipeline(spark: SparkSession, catalog: RunCatalog, workDir: String) {

  private val targetDir = s"$workDir/target_orders"

  /** One micro-batch = one run: the batch dataframe is the landing
    * slice; steps run synchronously inside foreachBatch.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val runId = catalog.startRun(s"StreamingOrders")
    try {
      // All four stages fuse into the single merge-write action; the
      // per-stage row counts ride on Observations resolved afterwards
      // (count fallback only if a metric never arrives) — one source
      // scan per micro-batch instead of one per stage.
      val (obsL, obsE, obsT) = (new org.apache.spark.sql.Observation(),
        new org.apache.spark.sql.Observation(), new org.apache.spark.sql.Observation())
      (1 to 4).foreach(catalog.updateStep(runId, _, "Running"))
      val landing = batch
        .withColumn("run_id", lit(runId))
        .withColumn("source_type", lit("STREAM"))
        .withColumn("raw_payload", to_json(struct(batch.columns.map(col): _*)))
        .withColumn("loaded_at", current_timestamp())
        .observe(obsL, count(lit(1)).as("n"))
      val extracted = Validation.clean(Extract.extract(landing))
        .observe(obsE, count(lit(1)).as("n"))
      val transformed = Validation.clean(Transform.transform(extracted))
        .observe(obsT, count(lit(1)).as("n"))
      val affected = MergeWriter.merge(spark, targetDir,
        transformed.select(col("order_id"), col("customer_id"), col("amount"),
          col("order_date"), col("amount_category"),
          monotonically_increasing_id().as("_src_order")),
        "order_id", "_src_order")
      import graft.util.Metrics
      catalog.updateStep(runId, 1, "Success", Metrics.long(obsL, "n", landing.count()))
      catalog.updateStep(runId, 2, "Success", Metrics.long(obsE, "n", extracted.count()))
      catalog.updateStep(runId, 3, "Success", Metrics.long(obsT, "n", transformed.count()))
      catalog.updateStep(runId, 4, "Success", affected)
      catalog.finishRun(runId, "Success")
    } catch {
      case e: Throwable =>
        // the four stages ran as one fused action — none survived it
        (1 to 4).foreach(catalog.updateStep(runId, _, "Failed", 0L,
          Some(String.valueOf(e.getMessage))))
        catalog.finishRun(runId, "Failed")
        catalog.log(runId, "Error", 0, "streaming batch failed", Some(String.valueOf(e.getMessage)))
        throw e
    }
  }

  /** Start watching `watchDir` for order CSVs. */
  def start(watchDir: String, availableNow: Boolean = false): StreamingQuery = {
    val stream = Streams.ordersFileStream(spark, watchDir)
    val writer = stream.writeStream
      .queryName("graft-streaming-pipeline")
      .option("checkpointLocation", s"$workDir/_stream_checkpoint")
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id))
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
