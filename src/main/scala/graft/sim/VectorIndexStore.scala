package graft.sim

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.streaming.LeafStore
import graft.util.Fs

/** Persistent, incrementally-maintained IVF/SQ8 vector index — the
  * embedding twin of the text side's persistent gram/band indexes
  * ([[graft.dedup.Dedup.gramIndex]] /
  * [[graft.streaming.StreamingDedupIngest]]'s stores): before this,
  * every ANN query re-derived cell assignment and quantization from
  * the raw corpus; the store materializes both ONCE and lets probes,
  * incremental adds, and streaming gates run against the index alone.
  *
  * On-disk layout (all parquet):
  *
  *   dir/centroids/                 (cell, vec fp32) — fixed at create
  *   dir/codes/batch_id=<n>/cell=<c>/…  (id, codes ARRAY<TINYINT>)
  *
  * The codes store follows the streaming stores' segment contract
  * ([[graft.streaming.LeafStore]]): one leaf per add-batch
  * (`batch_id=<n>`, n ≥ 0) so a REPLAYED batch overwrites its own leaf
  * — idempotent under restart; [[compact]] folds old leaves into a
  * consolidated negative segment, crash-atomically (readers dedup by
  * id).
  * Leaves are partitioned by `cell`, so a probe's `cell IN (…)`
  * filter prunes at the DIRECTORY level — a probe reads O(nprobe)
  * cell dirs per segment, never the index ([[probe]]'s plan is
  * PlanShapeSpec-pinned on the files-read metric).
  *
  * Quantization and assignment reuse the [[Similarity]] contracts
  * exactly: cells assigned ONCE on the fp32 vectors (ties → lower
  * cell id), codes via [[Similarity.sq8Encode]] (every step a
  * correctly-rounded IEEE op; NaN vectors quantize to NULL and are
  * excluded), probe ranking = int8-code cosine — so a probe over a
  * store holding exactly a corpus EQUALS [[Similarity.ivfSq8TopK]]
  * over that corpus (the `q_ivf_index_probe` oracle contract).
  *
  * 100 TB shape: `create`/`add` are one broadcast-centroid assignment
  * + one partitioned write per batch (no corpus shuffle); `probe`
  * reads nprobe·|queries| cell directories of int8 codes (4× smaller
  * than fp32) and broadcasts the query side; `compact` is the only
  * whole-store pass and runs at an operator-chosen cadence.
  *
  * Reference analog: none — beyond-parity ANN-index family.
  */
class VectorIndexStore(spark: SparkSession, dir: String,
                       segmentFiles: Int = 4) {

  // ---- generations: the cell structure is immutable WITHIN a
  // generation; [[retrain]] republishes the whole index (new
  // centroids, re-assigned/re-encoded rows) as generation g+1 behind
  // the `_GEN` pointer — the MergeWriter `_CURRENT` idiom. Generation
  // 0 is the original flat layout (dir/centroids, dir/codes, …), so
  // every pre-generation store reads back unchanged; generation g > 0
  // lives under dir/gen=<g>/. Readers resolve the pointer per
  // operation; writers are single-writer by contract (same as
  // compact/vacuum).
  private def genPointer = Paths.get(dir, "_GEN")

  /** The generation currently served (0 before any [[retrain]]). */
  def currentGen: Long =
    if (Files.exists(genPointer)) Files.readString(genPointer).trim.toLong else 0L

  private def genRoot(g: Long): String = if (g == 0L) dir else s"$dir/gen=$g"
  private def centroidsDir = s"${genRoot(currentGen)}/centroids"
  private[graft] def codesDir = s"${genRoot(currentGen)}/codes"
  private def tombsDir = s"${genRoot(currentGen)}/tombstones"
  // the fold's temp dir sits in the store root whatever the generation
  private def codesStore =
    new LeafStore(spark, codesDir, tmp = Some(Paths.get(dir, ".compact_tmp_codes")))
  private def tombs = new LeafStore(spark, tombsDir)

  /** True once [[init]]/[[create]] has published the centroid frame. */
  def exists: Boolean = Files.isDirectory(Paths.get(centroidsDir))

  /** Fix the store's cell structure: persist `centroids` (any frame
    * with `idCol`/`vecCol`) as the immutable (cell, vec) frame every
    * add and probe assigns against. Refuses to re-init an existing
    * store — the cell structure is the index; changing it silently
    * would orphan every written code leaf (rebuild into a new dir
    * instead).
    */
  def init(centroids: DataFrame, idCol: String, vecCol: String): Unit = {
    require(!exists, s"VectorIndexStore at $dir already initialized — " +
      "the cell structure is immutable; build a new store to re-cluster")
    centroids.select(col(idCol).as("cell"),
        col(vecCol).cast("array<float>").as("vec"))
      .coalesce(1)
      .write.mode("errorifexists").parquet(centroidsDir)
  }

  /** [[init]] + first batch: materialize `corpus`'s cell assignment
    * and SQ8 codes as leaf `batch_id=0`.
    */
  def create(corpus: DataFrame, centroids: DataFrame,
             idCol: String, vecCol: String): Unit = {
    init(centroids, idCol, vecCol)
    add(0L, corpus, idCol, vecCol)
  }

  /** The stored (cell, vec) centroid frame. */
  def centroidsFrame(): DataFrame = {
    require(exists, s"no VectorIndexStore at $dir")
    spark.read.parquet(centroidsDir)
  }

  /** Incrementally index a batch: assign `vectors` to the EXISTING
    * centroids (broadcast, map-only — the corpus already indexed is
    * read zero times), quantize, and write leaf `batch_id=<batchId>`
    * partitioned by cell. Overwrites its own leaf only, so replaying
    * a batch (streaming restart, retried job) is idempotent. NaN
    * vectors quantize to NULL codes and are excluded — the
    * [[Similarity.sq8TopK]] contract.
    */
  def add(batchId: Long, vectors: DataFrame, idCol: String, vecCol: String): Unit = {
    require(batchId >= 0, s"add: batchId must be >= 0 (negative ids are " +
      s"compaction segments), got $batchId")
    encodeAssign(vectors, centroidsFrame(), idCol, vecCol)
      .coalesce(segmentFiles)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(codesStore.leaf(batchId))
  }

  /** fp32 cell assignment against `cents` (a (cell, vec) frame) +
    * SQ8 quantization — the one (id, codes, cell) derivation every
    * writer ([[add]], [[retrain]]) shares, so a generation swap cannot
    * drift from the incremental path. */
  private def encodeAssign(vectors: DataFrame, cents: DataFrame,
                           idCol: String, vecCol: String): DataFrame = {
    val c = cents.select(col("cell").as(idCol), col("vec").as(vecCol))
    val cells = Similarity.ivfCells(vectors, c, idCol, vecCol)
      .select(col("id"), col("cell"))
    val codes = Similarity.sq8Encode(vectors, idCol, vecCol)
      .select(col(idCol).as("id"), col("sq8_codes").as("codes"))
      .filter(col("codes").isNotNull)
    cells.join(codes, "id")
      .select(col("id"), col("codes"), col("cell"))
  }

  /** Tombstone a batch of ids (doc retractions, takedowns): every
    * reader ([[codes]], [[probe]], [[compact]]'s fold) excludes them
    * from that moment on; the bytes are reclaimed when [[compact]]
    * folds the leaves that hold them, and the tombstones themselves
    * are purged by [[vacuum]]. Same leaf contract as [[add]]: one
    * `batch_id=<n>` leaf per delete batch, replay-idempotent.
    *
    * A tombstone is FINAL while it exists: re-[[add]]ing a tombstoned
    * id stays invisible (the store is an id-keyed set, and delete wins
    * — the [[graft.merge.MergeWriter]] delete-then-reinsert hazard is
    * refused rather than resolved by write order). To resurrect an id,
    * [[vacuum]] first (physically purging both the rows and the
    * tombstones), then add it again.
    */
  def delete(batchId: Long, ids: DataFrame, idCol: String): Unit = {
    require(batchId >= 0, s"delete: batchId must be >= 0, got $batchId")
    require(exists, s"no VectorIndexStore at $dir")
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1)
      .write.mode("overwrite").parquet(tombs.leaf(batchId))
  }

  /** The union of all tombstoned ids, if any delete batch exists. */
  private def tombstoneIds(): Option[DataFrame] =
    tombs.read().map(_.select(col("id")).distinct())

  /** How many ids are currently tombstoned (0 when none). */
  def tombstoneCount(): Long = tombstoneIds().map(_.count()).getOrElse(0L)

  /** Resolve cross-leaf duplicate ids DETERMINISTICALLY: the row from
    * the highest `batch_id` wins, so a re-[[add]] of a live id takes
    * the newest batch's vector on every read, every engine, every
    * replay — an arbitrary `dropDuplicates` would make the index
    * nondeterministic under re-adds. Ordering is sound across
    * compaction too: consolidated segments carry negative ids and only
    * ever hold fold-time winners, so any later add leaf (id ≥ 0)
    * correctly outranks them; within one batch a duplicate id falls
    * back to max (cell, codes) — still a total order.
    */
  private def newestById(df: DataFrame): DataFrame =
    df.groupBy(col("id"))
      .agg(max(struct(col("batch_id"), col("cell"), col("codes"))).as("_s"))
      .select(col("id"), col("_s.cell").as("cell"), col("_s.codes").as("codes"))

  private def requireLeaves(op: String): Unit =
    require(leafCount() > 0,
      s"VectorIndexStore at $dir has no code leaves — $op needs at " +
        "least one add() batch (init() alone publishes only centroids)")

  /** The indexed (id, cell, codes) frame — duplicates resolved
    * newest-batch-wins ([[newestById]]; covers both the
    * crash-mid-compaction superset window and re-added ids), minus
    * tombstoned ids.
    */
  def codes(): DataFrame = {
    require(exists, s"no VectorIndexStore at $dir")
    requireLeaves("codes()")
    val live = newestById(spark.read.parquet(codesDir))
    tombstoneIds().fold(live)(tb => live.join(tb, Seq("id"), "left_anti"))
  }

  /** Top-k code-cosine neighbors of each query, scanning ONLY the
    * nprobe matched cells' directories: query-side cell assignment
    * runs on the fp32 vectors against the stored centroids (the tiny
    * query frame broadcasts), the ≤ |queries|·nprobe probe-cell ids
    * are collected driver-side (control-grain — they become the
    * partition-pruning `cell IN (…)` literal on the codes scan), and
    * ranking compares SQ8 code cosines. Over a store holding exactly
    * a corpus this EQUALS [[Similarity.ivfSq8TopK]] on that corpus.
    *
    * `excludeSelf` (default true, the ANN-query contract) drops
    * candidates whose id equals the query id; a near-dup GATE probes
    * with `excludeSelf = false` so a re-sent id still matches its own
    * admitted twin.
    *
    * `excludeBatch` skips ONE leaf id: a streaming gate passes its own
    * foreachBatch id, the replay exclusion of
    * [[graft.streaming.LeafStore.read]].
    */
  def probe(queries: DataFrame, idCol: String, vecCol: String,
            k: Int, nprobe: Int = 1, excludeSelf: Boolean = true,
            excludeBatch: Long = Long.MinValue): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireLeaves("probe()")
    val cents = centroidsFrame()
      .select(col("cell").as(idCol), col("vec").as(vecCol))
    val qc = Similarity.assignCells(queries, cents, idCol, vecCol,
      "q_id", "q_vec", keep = nprobe).select(col("q_id"), col("cell"))
    val qCodes = Similarity.sq8Encode(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("sq8_codes").cast("array<float>").as("qvec"))
      .filter(col("qvec").isNotNull)
    val qSide = graft.util.CacheScope.pin(qc.join(qCodes, "q_id"))
    // control-grain collect: ≤ |queries|·nprobe cell ids, never rows
    val probeCells = qSide.select(col("cell")).distinct().collect()
      .map(_.get(0)).toIndexedSeq
    // newest-batch dedup WITHIN the pruned cells: deterministic on any
    // read. (If a re-add moved an id to a different cell, the stale
    // row is visible only until a compact/vacuum folds it away —
    // global newest-wins would forfeit the O(nprobe) directory read.)
    val pruned = newestById(spark.read.parquet(codesDir)
        .filter(col("cell").isin(probeCells: _*) && // directory-level pruning
          col("batch_id") =!= lit(excludeBatch)))   // both partition columns
      .select(col("id"), col("cell"), col("codes").cast("array<float>").as("cvec"))
    val idx = tombstoneIds().fold(pruned)(tb =>
      pruned.join(tb, Seq("id"), "left_anti"))
    val sims = idx.join(broadcast(qSide), Seq("cell"))
      .filter(if (excludeSelf) col("q_id") =!= col("id") else lit(true))
      .select(col("q_id"), col("id"),
        VectorFns.cosineR(col("qvec"), col("cvec")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** How many leaf directories (add batches + consolidated segments)
    * the codes store currently holds — the quantity [[compact]]
    * bounds. */
  def leafCount(): Int = codesStore.leaves().size

  /** The leaf ids on disk (add batches ≥ 0, consolidated segments
    * < 0) — what a maintenance caller derives a fold horizon from. */
  def leafIds(): List[Long] = codesStore.ids()

  /** Fold every leaf with id < `horizon` (add leaves and previous
    * consolidated segments alike) into one fresh negative segment —
    * the crash-atomic [[graft.streaming.LeafStore.fold]]. Non-positive
    * horizons are a no-op — the fresh-id search starts at `-horizon`
    * and must never collide with a real leaf.
    */
  def compact(horizon: Long): Unit = if (horizon > 0)
    fold(horizon, minSources = 2, segStart = -horizon)

  /** Fold the WHOLE store into one segment with every tombstoned row
    * physically dropped, then purge the tombstones — after vacuum the
    * store holds exactly its live ids and [[delete]]d ids may be
    * re-[[add]]ed. Same crash-atomic sequence as [[compact]], with the
    * tombstone purge strictly LAST: a crash at any earlier point
    * leaves the tombstones in place, and they keep filtering whatever
    * leaves survived — readers are correct at every crash point.
    */
  def vacuum(): Unit = {
    fold(Long.MaxValue, minSources = if (tombstoneIds().isDefined) 1 else 2, segStart = -1L)
    Fs.deleteRecursively(Paths.get(tombsDir))
  }

  /** Cell-occupancy skew of the live index — the drift ALARM for
    * [[retrain]]: incremental adds assign against the generation's
    * fixed centroids, so under distribution drift cells skew and probe
    * recall decays silently; the exact Gini and top-`topK` heavy cells
    * (one [[graft.ops.Profile.keySkewProfile]] pass over the (id,
    * cell) frame) are the quantities an operator alerts on before
    * paying for a retrain.
    */
  def cellSkewProfile(topK: Int = 20): DataFrame =
    graft.ops.Profile.keySkewProfile(codes().select(col("cell")), "cell", topK)

  /** Re-cluster and republish the WHOLE index as generation
    * `currentGen + 1`: fit fresh centroids (Lloyd's k-means on a
    * hash-capped sample of the live vectors — or take
    * `newCentroids` verbatim when the caller brings its own), then
    * re-assign + re-encode every live row against them and swap the
    * `_GEN` pointer atomically. The cure for centroid drift: without
    * it, incremental adds assign to the creation-time cells forever.
    *
    * `vectors` must hold the fp32 vector for EVERY live id (the
    * corpus is the system of record; the store keeps only int8
    * codes) — checked loudly, because a silent subset would shrink
    * the index. Tombstones are carried forward: a [[delete]]d id
    * stays invisible across the generation swap (delete stays FINAL
    * until [[vacuum]], same as within a generation). Rows whose id is
    * not live (never added, deleted, or NaN-excluded) are ignored.
    *
    * Crash-safety, the MergeWriter pointer idiom: the new generation
    * is fully written under a temp dir, ATOMIC_MOVEd to `gen=<g+1>`,
    * and only then does the pointer swap (itself an atomic rename);
    * every crash point leaves readers on a complete generation. The
    * replaced generation's bytes are reclaimed after the swap;
    * orphans from crashed retrains are swept on the next call.
    *
    * 100 TB shape: one pass over the live corpus (broadcast-centroid
    * assignment + map-only quantization + one partitioned write) plus
    * the k-means sample fit — the same cost class as the original
    * [[create]], run at an operator-chosen cadence when
    * [[cellSkewProfile]] alarms.
    *
    * Returns the new generation id.
    */
  def retrain(vectors: DataFrame, idCol: String, vecCol: String,
              k: Int = 0, iters: Int = 3, sampleCap: Long = 100000L,
              newCentroids: Option[DataFrame] = None): Long = {
    require(exists, s"no VectorIndexStore at $dir")
    requireLeaves("retrain()")
    val g = currentGen
    val next = g + 1
    // sweep orphans: generation dirs the pointer does not reference
    // (crashed retrains), and — once past gen 0 — stale flat-layout
    // dirs a crashed post-swap cleanup left behind
    listGenDirs().filter(_._1 != g).foreach { case (_, p) => Fs.deleteRecursively(p) }
    if (g > 0) Seq("centroids", "codes", "tombstones")
      .foreach(s => Fs.deleteRecursively(Paths.get(dir, s)))
    val tmp = Paths.get(dir, ".retrain_tmp")
    Fs.deleteRecursively(tmp)

    val live = codes().select(col("id"))
    val cur = vectors.select(col(idCol), col(vecCol))
      .join(live.select(col("id").as(idCol)), Seq(idCol), "left_semi")
      .localCheckpoint() // one scan; reused by the sample fit AND the re-encode
    val nLive = live.count()
    val nCur = cur.count()
    // distinct ids, not raw rows: a duplicated id would mask a missing
    // one under a raw-count compare (the exact silent-subset failure
    // this check refuses loudly), so duplicates are rejected first and
    // coverage is judged on the distinct set
    val nCurIds = cur.select(col(idCol)).distinct().count()
    require(nCur == nCurIds,
      s"retrain: vectors frame holds ${nCur - nCurIds} duplicate " +
        s"$idCol rows — dedupe the corpus before retraining")
    require(nCurIds == nLive,
      s"retrain: vectors frame covers $nCurIds of $nLive live ids — the " +
        s"corpus handed to retrain must contain every id live in $dir")
    val cents = newCentroids.map(
        _.select(col(idCol).as("cell"), col(vecCol).cast("array<float>").as("vec")))
      .getOrElse {
        require(k >= 1, "retrain: k >= 1 required when no explicit centroids are given")
        // hash-capped sample: deterministic, corpus-order-free
        val ratio = math.max(1L, (nLive + sampleCap - 1) / math.max(1L, sampleCap))
        val sample = if (ratio <= 1L) cur
          else cur.filter(pmod(xxhash64(col(idCol)), lit(ratio)) === 0)
        Similarity.kmeansFit(sample, idCol, vecCol, k, iters)
          .select(col("centroid_id").as("cell"), col("vec"))
      }
    cents.coalesce(1).write.mode("errorifexists").parquet(s"$tmp/centroids")
    // batch_id=-1, NOT 0: the re-encoded corpus is a consolidated
    // segment, and consolidated segments carry NEGATIVE ids by the
    // store contract — [[newestById]]'s ordering relies on it, and an
    // add/delete REPLAY of batch 0 (streaming checkpoint reset restarts
    // foreachBatch ids at 0) overwrites its OWN leaf only; landing the
    // whole corpus on batch_id=0 would let that replay silently erase
    // the re-encoded index / resurrect the carried tombstones
    encodeAssign(cur, spark.read.parquet(s"$tmp/centroids"), idCol, vecCol)
      .coalesce(segmentFiles)
      .write.partitionBy("cell").mode("errorifexists")
      .parquet(s"$tmp/codes/batch_id=-1")
    // deletes carried forward: the re-encode wrote only LIVE rows, but
    // the tombstones must survive so a post-retrain re-add of a
    // deleted id stays invisible until vacuum
    tombstoneIds().foreach(_.coalesce(1)
      .write.mode("errorifexists").parquet(s"$tmp/tombstones/batch_id=-1"))
    Files.move(tmp, Paths.get(genRoot(next)), StandardCopyOption.ATOMIC_MOVE)
    val ptmp = Paths.get(dir, "._gen_tmp")
    Files.writeString(ptmp, next.toString)
    Files.move(ptmp, genPointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // reclaim the replaced generation (readers are already on `next`;
    // a crash here only leaves unreferenced bytes for the next sweep)
    if (g == 0L) Seq("centroids", "codes", "tombstones")
      .foreach(s => Fs.deleteRecursively(Paths.get(dir, s)))
    else Fs.deleteRecursively(Paths.get(genRoot(g)))
    next
  }

  private def listGenDirs(): List[(Long, Path)] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.toList.flatMap { p =>
        val name = p.getFileName.toString
        if (name.startsWith("gen="))
          scala.util.Try(name.stripPrefix("gen=").toLong).toOption.map(_ -> p)
        else None
      } finally s.close()
    }

  /** The codes fold: newest-batch-wins per id, and tombstoned rows'
    * bytes reclaimed here — the tombstones themselves stay until
    * [[vacuum]] (leaves outside this fold may hold the id). */
  private def fold(below: Long, minSources: Int, segStart: Long): Unit =
    codesStore.fold(below, segStart, segmentFiles, minSources, Seq("cell")) { df =>
      val folded = newestById(df)
      tombstoneIds().fold(folded)(tb => folded.join(tb, Seq("id"), "left_anti"))
        .select(col("id"), col("codes"), col("cell"))
    }

}
