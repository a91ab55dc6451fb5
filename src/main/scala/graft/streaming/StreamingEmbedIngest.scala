package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.VectorFns
import graft.sim.{Similarity, VectorIndexStore}

/** Continuous EMBEDDING ingestion with near-duplicate filtering
  * against all previously admitted vectors — the embedding twin of
  * [[StreamingDedupIngest]]: where that class gates text batches
  * against persistent band/gram indexes, this one gates vector
  * batches against a persistent [[graft.sim.VectorIndexStore]].
  *
  * Per micro-batch:
  *
  *   1. within-batch near-dup drop: batch vectors assigned to the
  *      store's centroid cells (broadcast), SQ8-encoded, and compared
  *      within each cell (code cosine ≥ `simThreshold` → the higher
  *      id drops — min-id-wins, the dedup family's convention);
  *   2. batch-vs-store probe: survivors query the index at `nprobe`
  *      with self-exclusion OFF, so a re-sent id matches its own
  *      admitted twin; any store neighbor at or above the threshold
  *      drops the doc;
  *   3. survivors are appended as the store's leaf `batch_id=<n>` —
  *      a replayed micro-batch overwrites its own leaf, idempotent
  *      under restart;
  *   4. every `compactEvery` batches, committed leaves fold into one
  *      consolidated segment ([[VectorIndexStore.compact]]), bounding
  *      the store's directory count on a long-running stream.
  *
  * Approximation contract (same as every IVF gate): a near-dup whose
  * twin was assigned to a cell outside the batch vector's `nprobe`
  * nearest is NOT seen — recall rises with nprobe at linear probe
  * cost. Cell-blocked intra-batch comparison has the same property.
  * NaN vectors quantize to NULL codes and are dropped at admission
  * (never indexed), the [[Similarity.sq8Encode]] contract.
  *
  * State is the parquet store, never stream state: at corpus scale
  * the index is orders of magnitude too big for any state store, but
  * as cell-partitioned parquet each batch probes it in
  * O(batch · cells-probed) reads.
  */
class StreamingEmbedIngest(spark: SparkSession, workDir: String,
                           centroids: DataFrame,
                           simThreshold: Double = 0.995,
                           nprobe: Int = 2,
                           compactEvery: Int = 16,
                           segmentFiles: Int = 4,
                           idCol: String = "id",
                           vecCol: String = "vec") {

  val store = new VectorIndexStore(spark, s"$workDir/vector_index", segmentFiles)
  if (!store.exists)
    store.init(centroids, idCol, vecCol)

  /** Vectors admitted so far: the store's (id, cell, codes) frame. */
  def admitted(): DataFrame = store.codes()

  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (LeafStore.due(batchId, compactEvery)) store.compact(batchId)
    if (batch.isEmpty) return
    graft.util.CacheScope.loan {
      val cents = store.centroidsFrame()
        .select(col("cell").as(idCol), col("vec").as(vecCol))
      // cell-blocked intra-batch near-dup: assign + encode once, pin,
      // pair within cells only (micro-batch-sized, bounded)
      val coded = graft.util.CacheScope.pin(
        Similarity.ivfCells(batch, cents, idCol, vecCol)
          .select(col("id"), col("cell"))
          .join(Similarity.sq8Encode(batch, idCol, vecCol)
            .select(col(idCol).as("id"),
              col("sq8_codes").cast("array<float>").as("cvec"))
            .filter(col("cvec").isNotNull), "id"))
      val intraDrops = coded.as("a").join(coded.as("b"),
          col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
        .filter(VectorFns.cosineR(col("a.cvec"), col("b.cvec")) >= simThreshold)
        .select(col("b.id").as("id")).distinct()
      val intraKept = batch.select(col(idCol), col(vecCol))
        .join(intraDrops.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      // batch-vs-store: self-exclusion OFF — a re-sent id must match
      // its own admitted twin instead of slipping back in. The batch's
      // OWN prior leaf is excluded (the LeafStore.read replay contract)
      val vsStore =
        if (store.leafIds().forall(_ == batchId)) intraKept.limit(0).select(col(idCol))
        else store.probe(intraKept, idCol, vecCol, k = 1, nprobe = nprobe,
            excludeSelf = false, excludeBatch = batchId)
          .filter(col("sim") >= simThreshold)
          .select(col("q_id").as(idCol)).distinct()
      val survivors = intraKept.join(vsStore, Seq(idCol), "left_anti")
        .localCheckpoint()
      if (!survivors.isEmpty)
        store.add(batchId, survivors, idCol, vecCol)
    }
  }

  /** Watch `watchDir` for JSONL vector files (`idCol` BIGINT, `vecCol`
    * ARRAY<FLOAT>). */
  def start(watchDir: String, availableNow: Boolean = false): StreamingQuery = {
    val stream = spark.readStream
      .schema(s"$idCol BIGINT, $vecCol ARRAY<FLOAT>")
      .json(watchDir)
    val writer = stream.writeStream
      .queryName("graft-streaming-embed-ingest")
      .option("checkpointLocation", s"$workDir/_embed_checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
