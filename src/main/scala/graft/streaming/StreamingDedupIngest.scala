package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.util.Fs

/** Continuous corpus ingestion with an optional quality gate and
  * near-dup filtering against ALL previously admitted documents — the
  * streaming twin of [[graft.curation.Curation]]'s batch funnel.
  *
  * The dedup state is deliberately NOT stream state: it is the
  * persistent LSH band index (parquet, one leaf dir per micro-batch).
  * At corpus scale that index is orders of magnitude too big for any
  * state store, but as a plain table it equi-joins each batch in
  * O(batch + collisions). Per batch:
  *
  *   1. map-only minhash signatures for the batch;
  *   2. within-batch near-dup drop (LSH banding, min-id-wins);
  *   3. batch-vs-index band match → drop docs already represented;
  *   4. append the survivors + their band keys, each to a
  *      batch-scoped leaf (`batch_id=<n>`), so a replayed micro-batch
  *      overwrites its own leaves — idempotent under restart.
  *
  * Docs too short to shingle have no signature and are admitted
  * unconditionally (the same contract as the batch dedup family).
  *
  * Every `compactEvery` batches the batch-scoped leaves older than the
  * replay horizon are folded into one consolidated segment (a fresh
  * negative `batch_id`, [[LeafStore.fold]]), so a long-running stream
  * holds a bounded number of leaf directories instead of one per
  * micro-batch — the same file-count cure the catalog applies to its
  * NDJSON appends. Only
  * committed batches (id < the batch being processed) are folded, so a
  * replayed micro-batch still overwrites its own, un-folded leaves.
  *
  * @param classGate admit only documents whose
  *   [[graft.classify.TextClassify.naiveBayesApply]] prediction under
  *   the (offline-fitted, broadcastable) model is in the allowed label
  *   set — the in-stream form of the fasttext-style language/quality
  *   gate. A document with no in-vocabulary token carries no evidence
  *   and is rejected. Applied after the quality gate, before dedup
  *   (cheap map-side drops first, signature work last).
  * @param decontGate eval/blocklist documents (doc_id, text): a
  *   micro-batch document sharing any `decontNgram`-gram with this set
  *   is rejected — in-stream eval-set decontamination. The eval set is
  *   static for the stream's lifetime, so its distinct gram hashes are
  *   checkpointed once and its bloom sketch is built once at
  *   construction (one Spark job); per batch the corpus side probes
  *   the sketch literal map-side and only sketch-positives reach the
  *   exact confirm join — the [[graft.curation.Curation.decontaminateBloom]]
  *   shape without per-batch sketch rebuilds.
  * @param noveltyGate when Some(maxSeenPct), drop documents whose
  *   `noveltyNgram`-grams are more than maxSeenPct% already present in
  *   the admitted corpus's persistent gram index
  *   ([[graft.dedup.Dedup.incrementalNovelty]]) — exact-substring-level
  *   redundancy control the LSH near-dup step cannot see (a doc
  *   stitched from previously-admitted spans is not a near-dup of any
  *   single admitted doc). The gram index is a third parquet store
  *   (`gram_index/batch_id=<n>` leaves, folded by the same compaction),
  *   NOT stream state; docs too short to gram pass. Applied between
  *   decontamination and dedup. Coverage is total once a gate-ON
  *   construction has run: it rebuilds a gram store that carries no
  *   coverage marker (or does not exist) from the admitted store, and
  *   from then on every admitted batch writes its grams even while the
  *   gate is OFF, so an on→off→on flip leaves no unindexed gap.
  * @param ledger when true, every batch writes a per-doc disposition
  *   frame — (doc_id, stage-that-dropped-it | 'admitted') — to
  *   `ledger/batch_id=<n>`, the streaming twin of the batch funnel's
  *   per-doc audit (`q_funnel_ledger`). Read via [[ledgerFrame]] or
  *   the API server's `/streams/ledger` pane. Costs one checkpoint
  *   per gate stage plus one batch-sized write; off by default.
  */
class StreamingDedupIngest(spark: SparkSession, workDir: String,
                           simThreshold: Double = 0.9,
                           quality: Option[graft.curation.Curation.Config] = None,
                           compactEvery: Int = 16,
                           segmentFiles: Int = 8,
                           classGate: Option[(graft.classify.TextClassify.NBModel, Set[String])] = None,
                           decontGate: Option[DataFrame] = None,
                           decontNgram: Int = 8,
                           decontNumBits: Long = 1L << 23,
                           decontBroadcastConfirm: Boolean = true,
                           noveltyGate: Option[Int] = None,
                           noveltyNgram: Int = 8,
                           ledger: Boolean = false) {

  private val index = new LeafStore(spark, s"$workDir/band_index")
  private val admittedStore = new LeafStore(spark, s"$workDir/admitted")
  private val grams = new LeafStore(spark, s"$workDir/gram_index")
  private val ledgerStore = new LeafStore(spark, s"$workDir/ledger")
  private def admittedDir = admittedStore.dir
  private def gramDir = grams.dir

  private def gramHashes(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(array_distinct(
      graft.functions.TextFns.shingleHashes48(
        graft.functions.TextFns.tokens(col("text")), decontNgram))).as("hv"))

  // eval-set decontamination state, built ONCE for the stream: the
  // checkpointed distinct gram-hash set and its bloom sketch
  private val decontState: Option[(Array[Byte], DataFrame)] = decontGate.map { ev =>
    val evalH = gramHashes(ev.select(col("doc_id"), col("text")))
      .select(col("hv")).distinct().localCheckpoint()
    val items = math.max(1L, evalH.count())
    (graft.sketch.Bloom.sketch(evalH, col("hv"), items, decontNumBits), evalH)
  }

  // Gram-index coverage, settled once at gate-on construction: the
  // `_coverage_v1` marker (underscore-prefixed, so parquet readers of
  // gramDir ignore it) vouches that every admitted doc's grams are in
  // the index, and the always-write rule in processBatch keeps a marked
  // store gap-free. A store without it — absent (the gate was never on)
  // or written before the rule — is rebuilt from the admitted corpus:
  // written to a temp dir, moved into place as the consolidated segment
  // batch_id=-1 (negative, so a replayed batch 0 cannot overwrite it),
  // then marked. A crash before the mark leaves an unmarked store,
  // rebuilt again at the next gate-on construction.
  private val gramCoverageMarker = Paths.get(gramDir, "_coverage_v1")
  if (noveltyGate.isDefined && !Files.exists(gramCoverageMarker)) {
    val tmp = Paths.get(workDir, ".gram_rebuild_tmp")
    Fs.deleteRecursively(tmp)
    admitted().foreach(Dedup.gramIndex(_, noveltyNgram).write.mode("overwrite").parquet(tmp.toString))
    Fs.deleteRecursively(Paths.get(gramDir))
    Files.createDirectories(Paths.get(gramDir))
    if (Files.isDirectory(tmp)) Files.move(tmp, Paths.get(grams.leaf(-1)), StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(gramCoverageMarker)
  }

  /** The admitted corpus so far (empty before the first batch). Deduped
    * by doc_id: in the window between a crash mid-compaction and the
    * next fold, a doc can exist in both the consolidated segment and a
    * not-yet-deleted original leaf.
    */
  def admitted(): Option[DataFrame] =
    if (admittedStore.exists) Some(spark.read.parquet(admittedDir).dropDuplicates("doc_id"))
    else None

  /** Fold every store's leaves below `horizon` (batch leaves AND any
    * previous consolidated segment) into a fresh segment each — the
    * [[LeafStore.fold]] contract, superset duplicates removed by key.
    * `horizon` must be positive (batch ids start at 0; consolidated
    * segments are negative) and at or below the oldest batch that could
    * still be replayed — `processBatch` auto-calls it with the current
    * batch id, which Structured Streaming guarantees has all
    * predecessors committed. Non-positive horizons are a no-op: the
    * fresh-segment-id search starts at `-horizon`, so a `horizon <= 0`
    * could collide a fold with a real batch leaf.
    */
  def compact(horizon: Long): Unit = if (horizon > 0) {
    def fold(s: LeafStore, keys: String*): Unit =
      s.fold(horizon, -horizon, segmentFiles)(_.dropDuplicates(keys))
    fold(index, "corpus_id", "band_id", "band_hash")
    fold(admittedStore, "doc_id")
    // fold the gram store whenever it EXISTS (not only when the gate is
    // currently on): a stream restarted with the gate off would
    // otherwise leave the old index's leaves unfolded forever
    if (grams.exists) fold(grams, "hv")
    if (ledgerStore.exists) fold(ledgerStore, "ledger_batch_id", "doc_id")
  }

  /** The per-batch disposition ledger (None until the first ledgered
    * batch): (batch_id, doc_id, stage, admitted) — one row per input
    * doc per batch, `stage` naming the gate that dropped it or
    * 'admitted'. Deduped like [[admitted]] for the crash-superset
    * window.
    */
  def ledgerFrame(): Option[DataFrame] =
    StreamingDedupIngest.readLedger(spark, workDir)

  /** Roll the per-doc disposition ledger up into the run catalog
    * ([[graft.catalog.RunCatalog.recordFunnel]] over the funnel
    * stages), the way batch pipelines record their step rows-affected.
    * None when no ledger exists (ingest ran with `ledger = false`).
    */
  def recordToCatalog(catalog: graft.catalog.RunCatalog,
                      pipelineName: String = "streaming-ingest"): Option[String] =
    ledgerFrame().map(catalog.recordFunnel(pipelineName, StreamingDedupIngest.FunnelStages, _))

  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (LeafStore.due(batchId, compactEvery)) compact(batchId)
    if (batch.isEmpty) return
    // Dedup's internal cache()s must be released on EVERY exit path —
    // an all-duplicate batch that returned early used to leak one
    // cached signature frame per micro-batch on a long-running stream.
    // The loan releases exactly this batch's pins, so a user's own
    // cached frames in the same session survive (clearCache() didn't).
    graft.util.CacheScope.loan {
      // with the ledger on, each stage frame is checkpointed so the
      // per-doc disposition diffs below read materialized results
      // instead of re-running the gates; ledger off = zero overhead
      // `prev` guard: a disabled gate's fold returns its input frame
      // unchanged — re-checkpointing the identical frame would
      // materialize the micro-batch once more per disabled gate
      def ck(df: DataFrame, prev: DataFrame = null): DataFrame =
        if (ledger && (df ne prev)) df.localCheckpoint() else df
      val input = ck(batch.select(col("doc_id"), col("text")))
      // quality gate first (map-only — cheapest drop wins), then pin
      // the bounded batch so the multi-branch plan below reads the
      // micro-batch source exactly once
      val gated = ck(quality.fold(input)(cfg =>
        graft.curation.Curation.qualityGate(input, cfg).drop("n_tokens")), input)
      // classifier gate: micro-batch scored against the static
      // offline-fitted model (broadcast joins — the stream-static
      // shape); only allowed predicted labels proceed to dedup
      val classed = ck(classGate.fold(gated) { case (model, allowed) =>
        val keep = graft.classify.TextClassify.naiveBayesApply(gated, model)
          .filter(col("pred_label").isInCollection(allowed))
          .select(col("doc_id"))
        gated.join(keep, Seq("doc_id"), "left_semi")
      }, gated)
      // decontamination gate: sketch-prefiltered probe of the static
      // eval gram set; only sketch-positives reach the confirm join
      val decontD = ck(decontState.fold(classed) { case (bf, evalH) =>
        // confirm side broadcasts by default; flip the flag off when
        // the eval hash relation itself is too big to broadcast (the
        // candidate stream is sketch-bounded, so a shuffle join stays
        // cheap)
        val confirm = if (decontBroadcastConfirm) broadcast(evalH) else evalH
        val contaminated = gramHashes(classed)
          .filter(graft.sketch.Bloom.mightContain(bf, col("hv")))
          .join(confirm, "hv")
          .select(col("doc_id")).distinct()
        classed.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      }, classed)
      // novelty gate: drop documents whose n-grams are mostly already
      // in the admitted corpus's gram index — exact-substring-level
      // redundancy control the LSH near-dup below can't see (a doc
      // stitched from previously-admitted spans is NOT a near-dup of
      // any single admitted doc). Cost ∝ batch grams ⋈ index; the
      // 100 TB corpus is never re-read. Docs too short to gram pass.
      val novelD = noveltyGate.fold(decontD) { maxSeenPct =>
        grams.read(exclude = batchId).fold(decontD) { idx =>
          val stale = Dedup.incrementalNovelty(idx.select(col("hv")), decontD, noveltyNgram)
            .filter(col("n_seen") * 100 > col("n_grams") * maxSeenPct)
            .select(col("doc_id"))
          decontD.join(stale, Seq("doc_id"), "left_anti")
        }
      }
      val docs = novelD.localCheckpoint()
      val sig = Dedup.minhashSignatures(docs, "doc_id").localCheckpoint()

      val intraDrops = Dedup.lshCandidatePairs(sig, "doc_id")
        .filter(col("est_sim") >= simThreshold)
        .select(col("id_b").as("doc_id")).distinct()
      // the batch_id partition column is not selected: it would collide
      // with bandMatches' batch-side alias
      val vsIndex = index.read(exclude = batchId) match {
        case Some(idx) => Dedup.bandMatches(
            idx.select(col("corpus_id"), col("band_id"), col("band_hash")), sig, "doc_id")
          .select(col("batch_id").as("doc_id"))
        case None => spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0)
      }
      val admittedDocs = docs
        .join(intraDrops, Seq("doc_id"), "left_anti")
        .join(vsIndex, Seq("doc_id"), "left_anti")
        .localCheckpoint()

      // per-batch disposition ledger: one row per INPUT doc naming the
      // stage that dropped it (or 'admitted') — the streaming twin of
      // the batch funnel's q_funnel_report/q_funnel_ledger, written
      // BEFORE the all-dropped early return so an empty batch result
      // still leaves its audit trail. Batch-scoped leaf → idempotent
      // under replay, folded by the same compaction as the stores.
      if (ledger) {
        def ids(df: DataFrame) = df.select(col("doc_id"))
        def at(df: DataFrame, s: String) = ids(df).withColumn("stage", lit(s))
        val intra = docs.join(intraDrops, Seq("doc_id"), "left_semi")
        at(ids(input).except(ids(gated)), "quality")
          .unionByName(at(ids(gated).except(ids(classed)), "classifier"))
          .unionByName(at(ids(classed).except(ids(decontD)), "decontamination"))
          .unionByName(at(ids(decontD).except(ids(docs)), "novelty"))
          .unionByName(at(intra, "near_dup_intra"))
          // a doc in BOTH drop sets counts once, at the intra stage
          .unionByName(at(docs.join(intraDrops, Seq("doc_id"), "left_anti")
            .join(vsIndex, Seq("doc_id"), "left_semi"), "near_dup_index"))
          .unionByName(at(admittedDocs, "admitted"))
          .withColumn("admitted", col("stage") === "admitted")
          // the batch id rides as a DATA column too: compaction folds
          // leaves into consolidated segments whose PARTITION id is a
          // fresh negative — the data column keeps per-batch history
          .withColumn("ledger_batch_id", lit(batchId))
          .write.mode("overwrite").parquet(ledgerStore.leaf(batchId))
      }

      if (admittedDocs.isEmpty) return
      admittedDocs.write.mode("overwrite").parquet(admittedStore.leaf(batchId))
      Dedup.bandKeys(sig.join(admittedDocs.select(col("doc_id")), Seq("doc_id"), "left_semi"), "doc_id")
        .withColumnRenamed("doc_id", "corpus_id")
        .write.mode("overwrite").parquet(index.leaf(batchId))
      // the always-write rule: grams are written whenever the store
      // exists (a gate-on construction made it), gate on or off — a gate
      // on→off→on sequence must not leave the off period's admitted docs
      // unindexed (their span-stitched redundancy would silently pass
      // the gate forever)
      if (grams.exists)
        Dedup.gramIndex(admittedDocs, noveltyNgram)
          .write.mode("overwrite").parquet(grams.leaf(batchId))
    }
  }

  /** Watch `watchDir` for JSONL document files (doc_id BIGINT, text). */
  def start(watchDir: String, availableNow: Boolean = false): StreamingQuery = {
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .json(watchDir)
    val writer = stream.writeStream
      .queryName("graft-streaming-dedup-ingest")
      .option("checkpointLocation", s"$workDir/_dedup_checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}

object StreamingDedupIngest {

  /** The funnel stages in pipeline order — the `stage` values the
    * ledger writes and the step order [[recordToCatalog]] records. */
  val FunnelStages: Seq[String] = Seq("quality", "classifier",
    "decontamination", "novelty", "near_dup_intra", "near_dup_index",
    "admitted")

  /** The ONE reader of the on-disk ledger contract (partition ids go
    * stale after compaction folds; `ledger_batch_id` is the durable
    * per-batch key; crash-superset duplicates dedup on (batch, doc)) —
    * shared by [[StreamingDedupIngest.ledgerFrame]] and the API
    * server's `/streams/ledger` endpoint so the two can't diverge.
    * None when `workDir` holds no ledger, or when the directory's
    * schema is not a disposition ledger (fail closed — the path may be
    * caller-supplied).
    */
  def readLedger(spark: SparkSession, workDir: String): Option[DataFrame] = {
    val dir = s"$workDir/ledger"
    if (!Files.isDirectory(Paths.get(dir))) None
    // a caller-supplied directory holding corrupt or non-parquet
    // content makes schema inference throw AnalysisException /
    // SparkException — that is "not a ledger", answered None like a
    // schema mismatch. ONLY those two are swallowed: a genuine IO /
    // permission / cluster failure propagates instead of masquerading
    // as an empty ledger.
    else (try Some(spark.read.parquet(dir)) catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case _: org.apache.spark.SparkException => None
    }).flatMap { df =>
      val needed = Set("ledger_batch_id", "doc_id", "stage", "admitted")
      if (!needed.subsetOf(df.columns.toSet)) None
      else Some(df
        .drop("batch_id") // partition dir id — stale after folds
        .withColumnRenamed("ledger_batch_id", "batch_id")
        .dropDuplicates("batch_id", "doc_id"))
    }
  }
}
