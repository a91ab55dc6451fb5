package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.util.{Fs, Metrics, NioLocalFileSystem}

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
  *   1. one checkpoint of the gated batch with its map-only minhash
  *      columns; the input count is observed on that job;
  *   2. the batch's band keys, computed once, feed both a grouped
  *      within-batch near-dup drop ([[graft.dedup.Dedup.lshDrops]]:
  *      one shuffle on the band key, min-id-wins) and a semi-join
  *      against the band index → drop docs already represented;
  *   3. one checkpoint of the survivors, their count observed on it;
  *   4. append the survivors + their band keys, map-only reads of that
  *      checkpoint, each to a batch-scoped leaf (`batch_id=<n>`), so a
  *      replayed micro-batch overwrites its own leaves — idempotent
  *      under restart.
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

  private def store(name: String, schema: String) =
    new LeafStore(spark, s"$workDir/$name", Some(schema))
  private val index = store("band_index", "corpus_id BIGINT, band_id INT, band_hash STRING")
  private val admittedStore = store("admitted", "doc_id BIGINT, text STRING")
  private val grams = store("gram_index", "hv BIGINT")
  private val ledgerStore = store("ledger",
    "doc_id BIGINT, stage STRING, admitted BOOLEAN, ledger_batch_id BIGINT")
  private def gramDir = grams.dir
  private def write(df: DataFrame, s: LeafStore, id: Long): Unit =
    df.write.options(NioLocalFileSystem.writeOptions).mode("overwrite").parquet(s.leaf(id))

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
    admitted().foreach(Dedup.gramIndex(_, noveltyNgram)
      .write.options(NioLocalFileSystem.writeOptions).mode("overwrite").parquet(tmp.toString))
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
  def admitted(): Option[DataFrame] = admittedStore.read().map(_.dropDuplicates("doc_id"))

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
    // with the ledger on, each stage frame is checkpointed so the
    // per-doc disposition diffs below read materialized results
    // instead of re-running the gates; ledger off = zero overhead
    // `prev` guard: a disabled gate's fold returns its input frame
    // unchanged — re-checkpointing the identical frame would
    // materialize the micro-batch once more per disabled gate
    def ck(df: DataFrame, prev: DataFrame = null): DataFrame =
      if (ledger && (df ne prev)) df.localCheckpoint() else df
    // the input count rides the first job that reads the batch (the
    // input checkpoint with the ledger on, the docs checkpoint
    // without) instead of an isEmpty probe of its own
    val offered = new Observation()
    val input = ck(batch.select(col("doc_id"), col("text"))
      .observe(offered, count(lit(1)).as("n")))
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
    // the one checkpoint of the gated docs: text plus minhash
    // columns, null for a doc too short to shingle
    val docs = Dedup.withMinhash(novelD).localCheckpoint()
    // an empty batch leaves no leaf at all, not even a ledger leaf
    if (Metrics.long(offered, "n", input.count()) == 0) return

    // the batch's band keys, computed once: they feed both the
    // within-batch drop pass and the index match
    val signed = col(Dedup.MinhashCols.head).isNotNull
    val banded = Dedup.bandKeys(docs.filter(signed), "doc_id", carry = Dedup.MinhashCols)
    val intraDrops = Dedup.lshDrops(banded, "doc_id", simThreshold)
    // the batch_id partition column is not selected: only the band
    // key takes part in the match
    val vsIndex = index.read(exclude = batchId).map(idx => banded
      .join(idx.select(col("band_id"), col("band_hash")), Seq("band_id", "band_hash"), "left_semi")
      .select(col("doc_id")))
    val kept = new Observation()
    val admittedDocs = docs
      .join(vsIndex.fold(intraDrops)(intraDrops.unionByName(_)), Seq("doc_id"), "left_anti")
      .observe(kept, count(lit(1)).as("n"))
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
      val survived = docs.join(intraDrops, Seq("doc_id"), "left_anti")
      val stages = Seq(
        at(ids(input).except(ids(gated)), "quality"),
        at(ids(gated).except(ids(classed)), "classifier"),
        at(ids(classed).except(ids(decontD)), "decontamination"),
        at(ids(decontD).except(ids(docs)), "novelty"),
        at(docs.join(intraDrops, Seq("doc_id"), "left_semi"), "near_dup_intra")) ++
        // a doc in BOTH drop sets counts once, at the intra stage
        vsIndex.map(v => at(survived.join(v, Seq("doc_id"), "left_semi"), "near_dup_index")) :+
        at(admittedDocs, "admitted")
      write(stages.reduce(_.unionByName(_))
        .withColumn("admitted", col("stage") === "admitted")
        // the batch id rides as a DATA column too: compaction folds
        // leaves into consolidated segments whose PARTITION id is a
        // fresh negative — the data column keeps per-batch history
        .withColumn("ledger_batch_id", lit(batchId)), ledgerStore, batchId)
    }

    if (Metrics.long(kept, "n", admittedDocs.count()) == 0) return
    // both writes are map-only reads of the admitted checkpoint; the
    // admitted leaf is one file, not one per partition the drop pass's
    // shuffle left on the checkpoint
    write(admittedDocs.select(col("doc_id"), col("text")).coalesce(1), admittedStore, batchId)
    write(Dedup.bandKeys(admittedDocs.filter(signed), "doc_id")
      .withColumnRenamed("doc_id", "corpus_id"), index, batchId)
    // the always-write rule: grams are written whenever the store
    // exists (a gate-on construction made it), gate on or off — a gate
    // on→off→on sequence must not leave the off period's admitted docs
    // unindexed (their span-stitched redundancy would silently pass
    // the gate forever)
    if (grams.exists)
      write(Dedup.gramIndex(admittedDocs, noveltyNgram), grams, batchId)
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
