package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.util.Fs

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
  *      prior replayed run — see [[readIndex]];
  *   4. survivors' bands append as leaf `batch_id=<n>` — a replayed
  *      micro-batch overwrites its own leaf, idempotent under
  *      restart;
  *   5. every `compactEvery` batches, committed leaves fold into one
  *      consolidated negative segment (crash-atomic temp-dir +
  *      ATOMIC_MOVE + delete-after; readers dedup, so every crash
  *      point serves a complete superset).
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

  private def indexDir = s"$workDir/${prefix}_band_index"
  private def ledgerDir = s"$workDir/${prefix}_ledger"
  private val bits = 48 / bands
  private val mask = (1L << bits) - 1

  private def banded(hashed: DataFrame): DataFrame =
    hashed.select(col("media_id"), col("phash").as("hv48"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            shiftright(col("phash"), b * bits).bitwiseAND(lit(mask)).as("band_val"))): _*)).as("bd"))
      .select(col("media_id"), col("hv48"), col("bd.band_id"), col("bd.band_val"))

  /** The admitted band index; `exclude` names ONE leaf id to skip —
    * [[processBatch]] passes its own batch id so a foreachBatch REPLAY
    * of an already-committed batch (sink committed, checkpoint not)
    * does not probe against its own earlier leaf: with the self-leaf
    * visible, every previously-admitted row would match its own entry
    * at Hamming 0 and the rewritten ledger would record it
    * near_dup_index while it sits admitted in the index. Excluding the
    * leaf makes the replay's decision set, ledger, and leaf overwrite
    * byte-identical to the original run (and heals a torn first
    * write). A to-be-replayed leaf is never inside a consolidated
    * segment: the in-stream [[compact]] folds only ids below the
    * CURRENT batch, and a later batch existing implies this batch's
    * checkpoint committed.
    */
  private def readIndex(exclude: Long = Long.MinValue): Option[DataFrame] = {
    val ls = leaves().filter(_._1 != exclude)
    if (ls.isEmpty) None
    else Some(spark.read.option("basePath", indexDir)
      .parquet(ls.map(_._2.toString): _*)
      .select(col("corpus_id"), col("hv48").as("idx_hv48"),
        col("band_id"), col("band_val"))
      // crash-mid-compaction superset window: dedup per (row, band)
      .dropDuplicates("corpus_id", "band_id"))
  }

  /** Admitted (media_id, phash) so far; None before any admission. */
  def admitted(): Option[DataFrame] =
    readIndex().map(_.filter(col("band_id") === 0)
      .select(col("corpus_id").as("media_id"), col("idx_hv48").as("phash")))

  /** Per-row dispositions across all batches; None before any batch. */
  def ledgerFrame(): Option[DataFrame] =
    if (!Files.isDirectory(Paths.get(ledgerDir)) || ledgerLeaves().isEmpty) None
    else Some(spark.read.parquet(ledgerDir)
      .select(col("media_id"), col("stage"), col("admitted"), col("ledger_batch_id"))
      .dropDuplicates("media_id", "ledger_batch_id"))

  /** Gate one micro-batch of (media_id BIGINT, payload BINARY) rows. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) compact(batchId)
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
      // replayed run — see readIndex; a re-sent id's twin sits in an
      // EARLIER batch's leaf and still matches.)
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
          .write.mode("overwrite").parquet(s"$ledgerDir/batch_id=$batchId")
      }

      if (admittedNow.isEmpty) return
      banded(admittedNow)
        .withColumnRenamed("media_id", "corpus_id")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
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

  /** Roll the per-row disposition ledger up into the run catalog —
    * the [[StreamingDedupIngest.recordToCatalog]] contract for the
    * media gates: one catalog run whose steps are the gate stages in
    * pipeline order with `rows_affected` = rows disposed at that
    * stage, so `GET /runs/:id` serves a media-ingest funnel next to
    * batch step rows and the text gate's with no new contract. Call
    * at a reporting cadence (each call records one cumulative
    * snapshot); the collect is ≤ 4 stage rows, never row-grain. None
    * when no ledger exists yet.
    */
  def recordToCatalog(catalog: graft.catalog.RunCatalog,
                      pipelineName: String): Option[String] =
    ledgerFrame().map { led =>
      val counts = led.groupBy(col("stage")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val runId = catalog.startRunWithSteps(pipelineName, StreamingBandGate.FunnelStages)
      StreamingBandGate.FunnelStages.zipWithIndex.foreach { case (st, i) =>
        catalog.updateStepNamed(runId, i + 1, st, "Success", counts.getOrElse(st, 0L))
      }
      catalog.finishRun(runId, "Success")
      runId
    }

  /** Fold every leaf with id < `horizon` (band index AND ledger) into
    * one consolidated negative segment each — the streaming stores'
    * crash-atomic fold contract. */
  def compact(horizon: Long): Unit = if (horizon > 0) {
    foldLeaves(indexDir, horizon, Seq("corpus_id", "band_id"))
    foldLeaves(ledgerDir, horizon, Seq("media_id", "ledger_batch_id"))
  }

  /** Committed band-index leaf ids (add batches ≥ 0, segments < 0). */
  def leafCount(): Int = leaves().size

  private def leaves(): List[(Long, Path)] = leavesOf(indexDir)
  private def ledgerLeaves(): List[(Long, Path)] = leavesOf(ledgerDir)

  private def leavesOf(dir: String): List[(Long, Path)] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toList.flatMap { p =>
        val name = p.getFileName.toString
        if (name.startsWith("batch_id="))
          scala.util.Try(name.stripPrefix("batch_id=").toLong).toOption.map(_ -> p)
        else None
      } finally s.close()
    }

  private def foldLeaves(dir: String, horizon: Long, keyCols: Seq[String]): Unit = {
    val tmp = Paths.get(workDir, s".compact_tmp_${Paths.get(dir).getFileName}")
    Fs.deleteRecursively(tmp)
    val fold = leavesOf(dir).filter { case (id, _) => id < horizon }
    if (fold.size < 2) return
    spark.read.option("basePath", dir).parquet(fold.map(_._2.toString): _*)
      .drop("batch_id")
      .dropDuplicates(keyCols)
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val taken = fold.map(_._1).toSet
    val segId = Iterator.iterate(-horizon)(_ - 1L).dropWhile(taken.contains).next()
    Files.move(tmp, Paths.get(dir, s"batch_id=$segId"), StandardCopyOption.ATOMIC_MOVE)
    fold.foreach { case (_, p) => Fs.deleteRecursively(p) }
  }

}

object StreamingBandGate {
  /** The media gates' funnel stages in pipeline order — the
    * [[StreamingBandGate.recordToCatalog]] step names. */
  val FunnelStages: Seq[String] =
    Seq("undecodable", "near_dup_intra", "near_dup_index", "admitted")
}
