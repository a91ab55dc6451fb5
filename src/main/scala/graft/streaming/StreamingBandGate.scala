package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Shared machinery of the Hamming-banded streaming MEDIA gates
  * ([[StreamingImageIngest]], [[StreamingAudioIngest]]): a subclass
  * supplies only the per-batch perceptual hasher
  * ([[hashBatch]] — (media_id, phash BIGINT 48-bit) for every
  * DECODABLE row) and a store prefix; everything else — banding,
  * intra-batch min-id-wins dedup, the probe against the persistent
  * parquet band index, replay-idempotent `batch_id=<n>` leaves, the
  * per-batch disposition ledger, crash-atomic compaction, and the
  * `binaryFile` directory watch — is one implementation, so the
  * modalities cannot drift (the [[graft.classify.BpeTrainer]]
  * shared-`applyMerge` argument applied to gates).
  *
  * Per micro-batch:
  *
  *   1. decode + hash ([[hashBatch]]); rows the codec cannot decode
  *      drop at the `undecodable` ledger stage (never admitted as
  *      fake hashes);
  *   2. within-batch near-dup: banded self-join (recall-1 blocking —
  *      at `maxHamming` < `bands`, a near-dup pair agrees on ≥ 1
  *      band), Hamming ≤ `maxHamming` → the higher id drops
  *      (min-id-wins, the dedup family's convention);
  *   3. batch-vs-index: surviving bands equi-join the admitted band
  *      index; a Hamming-close match against ANY admitted row drops
  *      the candidate — a re-sent id matches its own admitted twin's
  *      identical hash (no self-exclusion), so replays cannot slip
  *      back in. The one exclusion is this batch's OWN leaf from a
  *      prior replayed run ([[LeafStore.read]]);
  *   4. survivors' bands append as leaf `batch_id=<n>` — a replayed
  *      micro-batch overwrites its own leaf, idempotent under
  *      restart;
  *   5. every `compactEvery` batches, committed leaves fold into one
  *      consolidated negative segment ([[LeafStore.fold]]).
  *
  * State is parquet, never stream state: the band index holds
  * `bands` rows of (corpus_id, hv48, band_id, band_val) per admitted
  * row — tiny next to the payloads, probed by pure equi-join.
  *
  * Reference analog: none — beyond-parity multimodal streaming
  * family.
  */
abstract class StreamingBandGate(spark: SparkSession, workDir: String,
                                 maxHamming: Int,
                                 bands: Int,
                                 compactEvery: Int,
                                 ledger: Boolean) {
  require(bands > maxHamming, "recall-1 blocking needs bands > maxHamming")
  require(48 % bands == 0, "bands must divide 48")

  /** Store-prefix naming the modality (leaf dirs, checkpoint, query). */
  protected def prefix: String

  /** Hash one micro-batch of (media_id BIGINT, payload BINARY) rows to
    * (media_id, phash BIGINT) — 48-bit perceptual hash, one row per
    * DECODABLE input (undecodable rows are simply absent and the
    * ledger attributes them).
    */
  protected def hashBatch(batch: DataFrame): DataFrame

  private lazy val index = new LeafStore(spark, s"$workDir/${prefix}_band_index",
    Some("corpus_id BIGINT, hv48 BIGINT, band_id INT, band_val BIGINT"))
  private lazy val ledgerStore = new LeafStore(spark, s"$workDir/${prefix}_ledger",
    Some("media_id BIGINT, stage STRING, admitted BOOLEAN, ledger_batch_id BIGINT"))
  private val bits = 48 / bands
  private val mask = (1L << bits) - 1

  private def banded(hashed: DataFrame): DataFrame =
    hashed.select(col("media_id"), col("phash").as("hv48"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            shiftright(col("phash"), b * bits).bitwiseAND(lit(mask)).as("band_val"))): _*)).as("bd"))
      .select(col("media_id"), col("hv48"), col("bd.band_id"), col("bd.band_val"))

  /** The admitted band index minus leaf `exclude` ([[LeafStore.read]]),
    * deduped per (row, band) for the crash-superset window. */
  private def readIndex(exclude: Long = Long.MinValue): Option[DataFrame] =
    index.read(exclude).map(_
      .select(col("corpus_id"), col("hv48").as("idx_hv48"),
        col("band_id"), col("band_val"))
      .dropDuplicates("corpus_id", "band_id"))

  /** Admitted (media_id, phash) so far; None before any admission. */
  def admitted(): Option[DataFrame] =
    readIndex().map(_.filter(col("band_id") === 0)
      .select(col("corpus_id").as("media_id"), col("idx_hv48").as("phash")))

  /** Per-row dispositions across all batches; None before any batch. */
  def ledgerFrame(): Option[DataFrame] =
    ledgerStore.read().map(_
      .select(col("media_id"), col("stage"), col("admitted"), col("ledger_batch_id"))
      .dropDuplicates("media_id", "ledger_batch_id"))

  /** Gate one micro-batch of (media_id BIGINT, payload BINARY) rows. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (LeafStore.due(batchId, compactEvery)) compact(batchId)
    if (batch.isEmpty) return
    graft.util.CacheScope.loan {
      val input = batch.select(col("media_id"), col("payload")).localCheckpoint()
      val hashed = hashBatch(input).localCheckpoint()
      val bb = banded(hashed).localCheckpoint()
      // within-batch: higher id of a close pair drops
      val intraDrops = bb.as("a").join(bb.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.media_id") < col("b.media_id"))
        .filter(bit_count(col("a.hv48").bitwiseXOR(col("b.hv48"))) <= maxHamming)
        .select(col("b.media_id").as("media_id")).distinct()
      // vs the persistent index: NO self-exclusion — a re-sent id
      // collides with its own admitted twin at Hamming 0 and drops.
      // (The one exclusion is this batch's OWN leaf from a prior
      // replayed run; a re-sent id's twin sits in an EARLIER batch's
      // leaf and still matches.)
      val vsIndex = readIndex(exclude = batchId) match {
        case Some(idx) => bb.join(idx, Seq("band_id", "band_val"))
          .filter(bit_count(col("hv48").bitwiseXOR(col("idx_hv48"))) <= maxHamming)
          .select(col("media_id")).distinct()
        case None => hashed.select(col("media_id")).limit(0)
      }
      val admittedNow = hashed
        .join(intraDrops, Seq("media_id"), "left_anti")
        .join(vsIndex, Seq("media_id"), "left_anti")
        .localCheckpoint()

      if (ledger) {
        def ids(df: DataFrame) = df.select(col("media_id"))
        def at(df: DataFrame, s: String) = ids(df).withColumn("stage", lit(s))
        at(ids(input).except(ids(hashed)), "undecodable")
          .unionByName(at(hashed.join(intraDrops, Seq("media_id"), "left_semi"),
            "near_dup_intra"))
          // a row in BOTH drop sets counts once, at the intra stage
          .unionByName(at(hashed.join(intraDrops, Seq("media_id"), "left_anti")
            .join(vsIndex, Seq("media_id"), "left_semi"), "near_dup_index"))
          .unionByName(at(admittedNow, "admitted"))
          .withColumn("admitted", col("stage") === "admitted")
          .withColumn("ledger_batch_id", lit(batchId))
          .write.mode("overwrite").parquet(ledgerStore.leaf(batchId))
      }

      if (admittedNow.isEmpty) return
      banded(admittedNow)
        .withColumnRenamed("media_id", "corpus_id")
        .coalesce(1)
        .write.mode("overwrite").parquet(index.leaf(batchId))
    }
  }

  /** Watch `watchDir` for media FILES (any format [[hashBatch]]'s
    * decoder accepts — the `binaryFile` streaming source, payload =
    * whole file). The media id is the first digit run in the file
    * name (`123.png` → 123); files without one get a deterministic
    * 62-bit path hash, so nothing is silently skipped and a
    * re-delivered file keeps its id (the replay contract).
    * Checkpointed under the work dir — the
    * [[StreamingEmbedIngest.start]] twin.
    */
  def start(watchDir: String, availableNow: Boolean = false): StreamingQuery = {
    val stream = spark.readStream.format("binaryFile")
      // the binaryFile source's fixed schema — streaming sources
      // require it stated rather than inferred
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(watchDir)
      .select(
        coalesce(
          expr("try_cast(regexp_extract(element_at(split(path, '/'), -1), '(\\\\d+)', 1) as bigint)"),
          pmod(xxhash64(col("path")), lit(Long.MaxValue))).as("media_id"),
        col("content").as("payload"))
    val writer = stream.writeStream
      .queryName(s"graft-streaming-$prefix-ingest")
      .option("checkpointLocation", s"$workDir/_${prefix}_checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Roll the per-row disposition ledger up into the run catalog
    * ([[graft.catalog.RunCatalog.recordFunnel]] over the gate stages);
    * None when no ledger exists yet. */
  def recordToCatalog(catalog: graft.catalog.RunCatalog,
                      pipelineName: String): Option[String] =
    ledgerFrame().map(catalog.recordFunnel(pipelineName, StreamingBandGate.FunnelStages, _))

  /** Fold every leaf with id < `horizon` (band index AND ledger) into
    * one consolidated negative segment each ([[LeafStore.fold]]). */
  def compact(horizon: Long): Unit = if (horizon > 0) {
    index.fold(horizon, -horizon, files = 1)(_.dropDuplicates("corpus_id", "band_id"))
    ledgerStore.fold(horizon, -horizon, files = 1)(_.dropDuplicates("media_id", "ledger_batch_id"))
  }

  /** Committed band-index leaf ids (add batches ≥ 0, segments < 0). */
  def leafCount(): Int = index.leaves().size
}

object StreamingBandGate {
  /** The media gates' funnel stages in pipeline order — the
    * [[StreamingBandGate.recordToCatalog]] step names. */
  val FunnelStages: Seq[String] =
    Seq("undecodable", "near_dup_intra", "near_dup_index", "admitted")
}
