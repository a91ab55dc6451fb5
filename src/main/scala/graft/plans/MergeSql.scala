package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.merge.MergeWriter

/** SQL surface for the path-based upsert (SURVEY.md §7.3 — reference
  * MERGE in `python_code/migrate.sql` runs `MERGE INTO target USING
  * source ON t.k = s.k WHEN MATCHED UPDATE / WHEN NOT MATCHED
  * INSERT`):
  *
  * {{{
  *   MERGE INTO '/path/to/target' USING source_view ON key_col [AND key_col2 ...]
  *     [ORDER BY version_col] [BUCKETS n]
  *     [WHEN MATCHED [AND cond] THEN DELETE]
  *     [WHEN MATCHED [AND cond] THEN UPDATE SET * | SET col = expr [, ...]]
  *     [WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (col [, ...]) VALUES (expr [, ...])]
  *     [WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE]
  *     [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr [, ...]]
  * }}}
  *
  * The target is a [[graft.merge.MergeWriter]] bucketed snapshot
  * directory (quoted path — these targets are filesystem-versioned,
  * not catalog tables); the source is any registered table or temp
  * view, or an inline subquery `USING (SELECT ...) [AS alias]` (the
  * T-SQL MERGE source form — the alias is accepted and ignored, the
  * engine joins by the ON columns). `ON t.k = s.k [AND t.k2 = s.k2]`
  * is accepted when each
  * equality's sides name the same column; composite keys match on the
  * conjunction (bucketed by the key tuple's hash).
  * Without `ORDER BY`, last-in-source-order wins intra-batch
  * duplicate keys (the reference's semantics, `migrate.js:10-15`);
  * with it, the highest `version_col` wins.
  *
  * WHEN actions, in any order (each at most once, any combination —
  * exactly as in T-SQL, an absent branch means that action never
  * fires: `INSERT` alone is ignore-if-exists, `UPDATE` alone is
  * update-if-exists CDC, a matched row with no matched branch / an
  * unmatched row with no insert branch takes no action at all):
  *  - the upsert pair `UPDATE SET ... / INSERT *` (the default when no
  *    WHEN clause is given — exactly what the engine's merge does).
  *    `SET *` updates every non-key column from the source (the
  *    reference's `005_sp_migrate.sql:14-24` updates all non-key
  *    columns); `SET col = expr [, ...]` updates ONLY the listed
  *    columns on match — unlisted columns keep their target values —
  *    while inserts still take the raw source row. `expr` is over the
  *    SOURCE columns (alias `s`, the sparse-CDC shape
  *    `SET t.col = s.col`); key columns cannot be assigned. An
  *    optional `WHEN MATCHED AND cond THEN UPDATE` condition (over the
  *    SOURCE columns, like the delete branch's) guards the update: a
  *    matched row failing it takes no action at all — the target row
  *    stays byte-identical, `migrated_at` included — while unmatched
  *    rows still insert. With BOTH matched branches present, a row
  *    both select takes the FIRST clause in statement order (one
  *    action per row, first applicable clause wins — as in T-SQL, and
  *    as the sync pair below already does): DELETE-first deletes rows
  *    its condition selects and updates the rest; a conditional
  *    UPDATE-first updates rows its condition selects and deletes only
  *    those it rejects. T-SQL requires the first of two matched
  *    clauses to carry a condition; the unconditional-first form is
  *    accepted here with its only reachable meaning — the
  *    unconditional clause is the fallback for rows the conditional
  *    clause rejects, wherever it is written.
  *  - a delete branch (the T-SQL MERGE delete form): `cond` is any
  *    boolean expression over the SOURCE columns; omitted = every
  *    source row is a delete. A MATCHED source row satisfying `cond`
  *    removes its key from the target. Exactly as in T-SQL, the branch
  *    never applies to an UNMATCHED row: with an insert branch present
  *    the row falls through to it (`WHEN MATCHED THEN DELETE WHEN NOT
  *    MATCHED THEN INSERT *` deletes what it matches and inserts the
  *    rest); without one it takes no action. Matched rows failing
  *    `cond` fall through to the update branch. (CDC-tombstone
  *    semantics — an unmatched delete row is a no-op that never
  *    inserts — live on the API/streaming path's `deleteCol`, not in
  *    SQL MERGE.)
  *  - the insert branch takes the full T-SQL form: `WHEN NOT MATCHED
  *    [AND cond] THEN INSERT *` inserts the raw source row, `INSERT
  *    (col [, ...]) VALUES (expr [, ...])` (the reference's explicit
  *    form, `005_sp_migrate.sql:20-24`) inserts the listed columns
  *    from their VALUES expressions (over the SOURCE columns) and
  *    NULL for every unlisted data column. `cond` — over the SOURCE
  *    columns — gates admission: an unmatched row failing it takes no
  *    action at all (it neither inserts nor counts). Merge keys always
  *    flow from the ON-matched source row (this target is keyed
  *    storage; a NULL or rewritten key has no meaning), so a key may
  *    appear in the column list only as its own identity reference.
  *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`
  *    (full-snapshot sync): target rows whose key is absent from the
  *    source are removed. `cond` — over the TARGET columns, the only
  *    side that exists for such rows — scopes the sync (the T-SQL
  *    partition-scoped sync form): target-only rows failing it are
  *    kept. With the upsert pair: matched rows update, new rows
  *    insert, stale rows drop — the complete synchronization. WITHOUT
  *    the pair, the mirror-deletes-only form: source keys act purely
  *    as the presence set (matched rows keep their bytes, unmatched
  *    source rows insert nothing) and only the drops count; adding a
  *    matched-delete branch gives the purge form (drop rows the
  *    source tombstones AND rows the source no longer carries). In
  *    this mode every bucket is touched — the merge rewrites the
  *    whole target, O(|target|), not O(touched buckets):
  *    full-snapshot sync must examine every target row by definition.
  *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col =
  *    expr [, ...]` (the last T-SQL branch family member — flag stale
  *    rows instead of deleting them): target rows whose key is absent
  *    from the source take the SET expressions, which — like `cond` —
  *    are over the TARGET columns (alias `t` or bare names; there is
  *    no source row to reference, so `SET *` is rejected). May combine
  *    with the sync delete: a row both branches select takes the FIRST
  *    clause in statement order (one action per row, first applicable
  *    clause wins — as in T-SQL). Usable with or
  *    without the upsert pair; same O(|target|) full-scan footprint as
  *    the sync delete. A re-stamped `migrated_at` marks the touched
  *    rows; each counts in `rows_affected`.
  * Anything else raises. Returns one row: `rows_affected` — rows that
  * actually inserted, updated, or deleted (the reference's
  * `@@ROWCOUNT`: a tombstone for an absent key takes no action and
  * does not count).
  */
case class MergeIntoPathCommand(targetDir: String, source: String, keyCols: Seq[String],
                                orderCol: Option[String], buckets: Option[Int],
                                deleteCond: Option[String] = None,
                                upsert: Boolean = true,
                                sourceIsQuery: Boolean = false,
                                setClause: Option[Seq[(String, String)]] = None,
                                syncDelete: Boolean = false,
                                updateCond: Option[String] = None,
                                syncDeleteCond: Option[String] = None,
                                insertCond: Option[String] = None,
                                insertCols: Option[Seq[(String, String)]] = None,
                                syncUpdateSet: Option[Seq[(String, String)]] = None,
                                syncUpdateCond: Option[String] = None,
                                syncUpdateFirst: Boolean = false,
                                matchedUpdateFirst: Boolean = false)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_affected", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{expr, lit}
    val srcBase0 = if (sourceIsQuery) session.sql(source) else session.table(source)
    // an INSERT column naming neither a source column nor an existing
    // target column is almost certainly a typo — T-SQL raises for an
    // unknown target column, so we do too (additive schema evolution
    // stays available through UPDATE SET, where the intent is explicit).
    // EXCEPT on a first merge: with no target yet, the INSERT list is
    // exactly where the target's columns get DEFINED — every listed
    // name is legitimate there, as in a CREATE-on-first-write.
    insertCols.foreach { list =>
      MergeWriter.readTarget(session, targetDir).foreach { target =>
        val known = (srcBase0.columns ++ target.columns).map(_.toLowerCase).toSet
        list.collect { case (c, _) if !known.contains(c.toLowerCase) => c }
          .foreach(c => throw new UnsupportedOperationException(
            s"MERGE INTO '<path>': INSERT column '$c' exists neither in the " +
              "source nor the target (unknown target column — T-SQL raises; " +
              "to add a new column additively, assign it with UPDATE SET)"))
      }
    }
    // SET expressions and the update condition are over the SOURCE
    // columns — alias it `s` so `s.col` and bare `col` both resolve
    val srcBase =
      if (setClause.isDefined || updateCond.isDefined ||
        insertCond.isDefined || insertCols.isDefined) srcBase0.as("s") else srcBase0
    // partial SET: evaluate each assignment's RHS on the source into an
    // internal column; the writer routes it to matched rows only, while
    // inserts keep the raw source value
    val srcSet = setClause match {
      case Some(assigns) =>
        assigns.zipWithIndex.foldLeft(srcBase) { case (df, ((_, e), i)) =>
          df.withColumn(s"_graft_set_$i", expr(e))
        }
      case None => srcBase
    }
    // the update-branch condition is evaluated on the source like the
    // delete condition; a null condition value means "does not apply"
    val src0a = updateCond match {
      case Some(c) => srcSet.withColumn("_graft_update", expr(c).cast("boolean"))
      case None => srcSet
    }
    // explicit INSERT column list: evaluate each VALUES expression on
    // the source into an internal carrier; the writer routes it to
    // inserted rows only (unlisted columns insert NULL)
    val src0b = insertCols match {
      case Some(assigns) =>
        assigns.zipWithIndex.foldLeft(src0a) { case (df, ((_, e), i)) =>
          df.withColumn(s"_graft_ins_$i", expr(e))
        }
      case None => src0a
    }
    // the insert-branch condition (over the SOURCE columns): an
    // unmatched row failing it takes no action at all
    val src0 = insertCond match {
      case Some(c) => src0b.withColumn("_graft_insert", expr(c).cast("boolean"))
      case None => src0b
    }
    // the tombstone flag is computed on the source BEFORE the merge:
    // delete-only form keeps just the rows the condition selects (the
    // others take no action at all), combined form flags them inline
    val src = deleteCond match {
      case Some(c) if !upsert =>
        src0.filter(expr(c)).withColumn("_graft_delete", lit(true))
      case Some(c) =>
        src0.withColumn("_graft_delete", expr(c).cast("boolean"))
      case None => src0
    }
    val (updates, ord) = orderCol match {
      case Some(c) => (src, c)
      case None =>
        // synthesized source order: monotonically_increasing_id is
        // ascending in row order within and across partitions, so the
        // merge's highest-wins dedup picks the LAST source row per key
        val c = "_graft_src_order"
        (src.withColumn(c, monotonically_increasing_id()), c)
    }
    val n = MergeWriter.mergeByKeys(session, targetDir, updates, keyCols, ord,
      buckets.getOrElse(MergeWriter.DefaultBuckets),
      deleteCol = deleteCond.map(_ => "_graft_delete"),
      updateCols = setClause.map(_.zipWithIndex.map { case ((c, _), i) =>
        c -> s"_graft_set_$i" }),
      syncDelete = syncDelete,
      updateCondCol = updateCond.map(_ => "_graft_update"),
      syncDeleteCond = syncDeleteCond,
      insertCondCol = insertCond.map(_ => "_graft_insert"),
      insertCols = insertCols.map(_.zipWithIndex.map { case ((c, _), i) =>
        c -> s"_graft_ins_$i" }),
      // target-side SET expressions travel as raw SQL — the writer
      // evaluates them on the target frame, the only side they can see
      syncUpdateCols = syncUpdateSet,
      syncUpdateCond = syncUpdateCond,
      // SQL MERGE is the T-SQL dialect: WHEN MATCHED ... DELETE only
      // fires against a matched row — an unmatched source row falls
      // through to the insert branch. (The delete-ONLY form pre-filters
      // the source, where unmatched rows are inert either way; the
      // API/streaming path keeps CDC-tombstone semantics instead.)
      deleteMatchedOnly = upsert,
      syncUpdateFirst = syncUpdateFirst,
      matchedUpdateFirst = matchedUpdateFirst)
    Seq(Row(n))
  }
}

/** `graft_target('<path>'[, version])` table-valued function — the
  * read side of the path-target MERGE surface: query the current
  * snapshot of a [[graft.merge.MergeWriter]] target (or a time-travel
  * `version`, subject to vacuum retention) straight from SQL:
  *
  * {{{
  *   SELECT * FROM graft_target('/path/to/target') WHERE key > 10
  *   SELECT * FROM graft_target('/path/to/target', 0)  -- as of v0
  * }}}
  *
  * Injected via [[GraftExtensions]]. Arguments must be literals (the
  * path resolves at analysis time); filters and pruning compose with
  * the returned parquet scan like any other relation.
  */
object GraftTargetTvf {
  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.nonEmpty && exprs.size <= 2,
      "usage: graft_target('<path>'[, version])")
    require(exprs.forall(_.foldable), "graft_target arguments must be literals")
    val path = String.valueOf(exprs.head.eval())
    val spark = SparkSession.active
    // resolve _CURRENT exactly ONCE: the version pinned in the node and
    // the relation wrapped by it must be the same snapshot, or a
    // concurrent merge between two reads would let the pruned and full
    // lowerings of one call observe different versions
    val resolved =
      if (exprs.size == 2) String.valueOf(exprs(1).eval()).toInt
      else MergeWriter.currentVersion(path)
    val df = MergeWriter.readTargetAt(spark, path, resolved)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_target: no merge target (or no such version) at $path"))
    // the read stays DEFERRED ([[GraftTargetNode]]) so the optimizer
    // can lower a point lookup to the pruned scan — current-snapshot AND
    // time-travel alike (the node pins `resolved`, so the pruned
    // lowering reads that version's manifest). The node wraps the
    // ANALYZED relation — a leaf must expose resolved output
    // attributes, the analyzer won't descend into it. A target the read
    // above accepted records its key in _BUCKETS.
    GraftTargetNode(path, MergeWriter.bucketLayout(path).get._2, resolved,
      df.queryExecution.analyzed)
  }
}

/** `graft_target_lookup('<path>', key[, key...])` table-valued
  * function — bucket-pruned point lookup on a merge target: the scan
  * underneath reads ONLY the bucket directories the given keys hash
  * into ([[graft.merge.MergeWriter.readTargetTuples]]), so a point
  * read against a huge target costs O(|keys| buckets), not a snapshot
  * scan. Keys are literals, compared after a cast to the stored key
  * type. Against a COMPOSITE-keyed target the literals group into
  * consecutive full key tuples in the recorded key-column order:
  * `graft_target_lookup(p, t1, id1, t2, id2)` looks up (t1,id1) and
  * (t2,id2) on a (tenant, id) target.
  */
object GraftTargetLookupTvf {

  /** Shared body of the current-version and version-pinned lookup
    * TVFs: group the key literals into full tuples under the target's
    * recorded layout and hand them to the pruned read.
    */
  private[plans] def buildLookup(fn: String, path: String, version: Int,
                                 keyExprs: Seq[Expression]): LogicalPlan = {
    val nKeys = MergeWriter.bucketLayout(path).map(_._2.size).getOrElse(1)
    require(keyExprs.nonEmpty && keyExprs.size % nKeys == 0,
      s"$fn: the target at $path has a $nKeys-column key — " +
        s"literals must group into full key tuples (got ${keyExprs.size})")
    // a NULL component makes its tuple match nothing (SQL semantics) —
    // kept as null here, dropped inside the lookup, so it can never
    // collide with a legitimate 'null' string key. eval() yields
    // catalyst-INTERNAL values (a DATE literal is a days-int whose
    // String.valueOf would be a nonsense key): convert each to its
    // external form first.
    val tuples = keyExprs.map { e =>
      Option(e.eval()).map(v => String.valueOf(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(e.dataType)(v))).orNull
    }.grouped(nKeys).toSeq
    MergeWriter.readTargetTuples(SparkSession.active, path, tuples, version = version)
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: no bucketed merge target (or no such version) at " + path +
          " (or its key type does not support string-keyed lookup — " +
          "use graft_target + a typed filter)"))
      .queryExecution.logical
  }

  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size >= 2, "usage: graft_target_lookup('<path>', key[, key...])")
    require(exprs.forall(_.foldable), "graft_target_lookup arguments must be literals")
    val path = String.valueOf(exprs.head.eval())
    buildLookup("graft_target_lookup", path, -1, exprs.tail)
  }
}

/** `graft_target_lookup_at('<path>', version, key[, key...])` —
  * [[GraftTargetLookupTvf]] pinned to a time-travel `version` (subject
  * to vacuum retention): the same O(|keys| buckets) pruned read, but
  * against that version's immutable manifest instead of the current
  * pointer — the TVF twin of `graft_target(path, version) WHERE k = …`,
  * closing the read-surface asymmetry between current-version and
  * versioned point lookups.
  */
object GraftTargetLookupAtTvf {
  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size >= 3,
      "usage: graft_target_lookup_at('<path>', version, key[, key...])")
    require(exprs.forall(_.foldable), "graft_target_lookup_at arguments must be literals")
    val path = String.valueOf(exprs.head.eval())
    val version = String.valueOf(exprs(1).eval()).toInt
    require(version >= 0, s"graft_target_lookup_at: version must be >= 0, got $version")
    GraftTargetLookupTvf.buildLookup("graft_target_lookup_at", path, version, exprs.drop(2))
  }
}

/** `COMPACT '<path>'` — fold a merge target's cross-version bucket
  * references into one self-contained version (the SQL face of
  * [[MergeWriter.compact]]). Returns the new current version.
  */
case class CompactPathCommand(targetDir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("compacted_version", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    // a mistyped path must error like graft_target does, not return a
    // success row claiming version -1 was compacted
    require(MergeWriter.currentVersion(targetDir) >= 0,
      s"COMPACT: no merge target at $targetDir")
    MergeWriter.compact(session, targetDir)
    Seq(Row(MergeWriter.currentVersion(targetDir).toLong))
  }
}

/** `COMPACT STREAMS '<workDir>'` — fold every streaming store under a
  * [[graft.streaming.StreamingDedupIngest]] /
  * [[graft.streaming.StreamingEmbedIngest]] /
  * [[graft.streaming.StreamingImageIngest]] /
  * [[graft.streaming.StreamingAudioIngest]] work dir (band index,
  * admitted corpus, gram index, disposition ledgers, vector index,
  * image/audio band indexes)
  * into consolidated segments, through the same SQL maintenance
  * surface as merge targets' `COMPACT '<path>'`: operators maintain
  * streaming state without constructing the ingest classes. The fold
  * horizon is max(batch leaf id), EXCLUSIVE — everything strictly
  * below the newest batch leaf folds, the newest leaf keeps its own
  * directory. That makes the command crash-replay-safe: if the sink
  * committed batch N but the checkpoint did not, the replay of batch
  * N can still exclude its own leaf by name (the replay contracts
  * match leaves literally named batch_id=N), which a consolidated
  * segment containing N would defeat (see the inline comment in
  * [[run]]). Run it while the stream is STOPPED (a live stream
  * compacts itself on its own cadence). Returns one row per existing
  * store with the leaf directory count before/after (the quantity
  * compaction bounds).
  */
case class CompactStreamsCommand(workDir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("store", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("leaves_before", LongType, nullable = false)(),
    AttributeReference("leaves_after", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    // the vector codes live in the generation the store's _GEN pointer
    // serves (vector_index/codes before any retrain)
    val stores = Seq("band_index", "admitted", "gram_index", "ledger", "image_band_index",
        "image_ledger", "audio_band_index", "audio_ledger").map(s => s -> s"$workDir/$s") :+
      ("vector_index" -> new graft.sim.VectorIndexStore(session, s"$workDir/vector_index").codesDir)
    def counts(): Map[String, Seq[Long]] = stores.flatMap { case (name, dir) =>
      val store = new graft.streaming.LeafStore(session, dir)
      if (store.exists) Some(name -> store.ids()) else None
    }.toMap
    val before = counts()
    require(before.nonEmpty,
      s"COMPACT STREAMS: no streaming stores under $workDir")
    // fold strictly BELOW the newest batch leaf (horizon = max leaf id,
    // exclusive): the replay contract (LeafStore.read's exclude,
    // VectorIndexStore.probe's excludeBatch) can only exclude a leaf
    // literally named batch_id=<n> — if an operator ran this command
    // after a crash where the sink committed batch N but the checkpoint
    // did not, a consolidated segment containing leaf N would make the
    // replay of batch N self-match every previously-admitted row
    // (Hamming 0 / cosine 1.0) and mis-ledger them as near-dups. Leaf
    // count stays bounded: everything below the newest still folds.
    val horizon = before.valuesIterator.flatten.filter(_ >= 0)
      .foldLeft(-1L)(math.max)
    if (horizon > 0) {
      def has(d: String) = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(workDir, d))
      new graft.streaming.StreamingDedupIngest(session, workDir).compact(horizon)
      if (has("vector_index"))
        new graft.sim.VectorIndexStore(session, s"$workDir/vector_index").compact(horizon)
      if (has("image_band_index"))
        new graft.streaming.StreamingImageIngest(session, workDir).compact(horizon)
      if (has("audio_band_index"))
        new graft.streaming.StreamingAudioIngest(session, workDir).compact(horizon)
    }
    val after = counts()
    before.keys.toSeq.sorted.map { name =>
      Row(name, before(name).size.toLong,
        after.getOrElse(name, Seq.empty).size.toLong)
    }
  }
}

/** `PROFILE SKEW '<path>' ON <col> [TOP n]` — the SQL face of
  * [[graft.ops.Profile.keySkewProfile]]: the pre-flight audit an
  * operator runs BEFORE shuffling a big parquet table on a key. One
  * aggregation over the table + two range-partitioned global rankings;
  * the returned rows are the top-n heavy hitters (≤ n, control-grain)
  * with their row share and the exact Gini of the whole key
  * distribution in ppm. The key prints as its string form so the
  * command's schema is stable across key types.
  */
case class ProfileSkewCommand(path: String, keyCol: String, topK: Int)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("key", org.apache.spark.sql.types.StringType, nullable = true)(),
    AttributeReference("cnt", LongType, nullable = false)(),
    AttributeReference("share_ppm", LongType, nullable = false)(),
    AttributeReference("n_keys", LongType, nullable = false)(),
    AttributeReference("gini_ppm", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(topK >= 1, s"PROFILE SKEW: TOP must be >= 1, got $topK")
    val df = session.read.parquet(path)
    require(df.columns.contains(keyCol),
      s"PROFILE SKEW: no column '$keyCol' in $path (has ${df.columns.mkString(", ")})")
    graft.ops.Profile.keySkewProfile(df, keyCol, topK)
      .collect().toSeq.map { r =>
      Row(r.getLong(0), Option(r.get(1)).map(_.toString).orNull,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
  }
}

/** `PREDICT JOIN '<pathA>' AND '<pathB>' ON <colA> [= <colB>]
  * [TOP n]` — the SQL face of [[graft.ops.Profile.joinCardinality]],
  * the OTHER pre-flight audit next to PROFILE SKEW: the EXACT output
  * row count of the keyed equi-join (per-key count products — the
  * join itself never runs) plus its heaviest keys, so an operator
  * sees the 10^13-row blowup in a 2-aggregation pass instead of
  * discovering it as a dead executor. Hi/lo BIGINT total (the sum
  * overflows int64 by design on real blowups); the in-plan int64
  * guard on a SINGLE key's output refuses infeasible joins loudly.
  */
case class PredictJoinCommand(pathA: String, pathB: String,
                              colA: String, colB: String, topK: Int)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("key", org.apache.spark.sql.types.StringType, nullable = true)(),
    AttributeReference("cnt_a", LongType, nullable = false)(),
    AttributeReference("cnt_b", LongType, nullable = false)(),
    AttributeReference("out_rows", LongType, nullable = false)(),
    AttributeReference("out_total_hi", LongType, nullable = false)(),
    AttributeReference("out_total_lo", LongType, nullable = false)(),
    AttributeReference("n_join_keys", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(topK >= 1, s"PREDICT JOIN: TOP must be >= 1, got $topK")
    val a = session.read.parquet(pathA)
    val b = session.read.parquet(pathB)
    require(a.columns.contains(colA),
      s"PREDICT JOIN: no column '$colA' in $pathA (has ${a.columns.mkString(", ")})")
    require(b.columns.contains(colB),
      s"PREDICT JOIN: no column '$colB' in $pathB (has ${b.columns.mkString(", ")})")
    graft.ops.Profile.joinCardinality(a, b, colA, colB, topK)
      .collect().toSeq.map { r =>
      Row(r.getLong(0), Option(r.get(1)).map(_.toString).orNull,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))
    }
  }
}

/** `COMPACT VECTORS '<storeDir>'` / `VACUUM VECTORS '<storeDir>'` —
  * the maintenance face of a STANDALONE [[graft.sim.VectorIndexStore]]
  * (one embedded in a streaming work dir is folded by
  * `COMPACT STREAMS`). COMPACT folds every committed leaf into one
  * consolidated segment, physically reclaiming tombstoned rows while
  * keeping the tombstones (deletes stay final); VACUUM additionally
  * purges the tombstones, re-enabling the deleted ids for future adds.
  * Both return the leaf-directory counts before/after plus the live
  * tombstone count after the operation — the two quantities an
  * operator watches. Run while no writer is active (same contract as
  * `COMPACT STREAMS`).
  */
case class VectorStoreMaintenanceCommand(storeDir: String, vacuum: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("leaves_before", LongType, nullable = false)(),
    AttributeReference("leaves_after", LongType, nullable = false)(),
    AttributeReference("tombstones", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val store = new graft.sim.VectorIndexStore(session, storeDir)
    val verb = if (vacuum) "VACUUM" else "COMPACT"
    require(store.exists, s"$verb VECTORS: no vector index store at $storeDir")
    val before = store.leafCount().toLong
    if (vacuum) store.vacuum()
    else {
      // fold everything committed, the newest add leaf included:
      // horizon = max add-leaf id + 1 (negative consolidated segments
      // ride along inside the fold). Unlike COMPACT STREAMS, which
      // folds strictly below the newest leaf to keep a stream's
      // crash replay exact, a standalone store has no stream to replay.
      val horizon = store.leafIds().filter(_ >= 0).foldLeft(-1L)(math.max) + 1
      store.compact(horizon)
    }
    Seq(Row(before, store.leafCount().toLong, store.tombstoneCount()))
  }
}

/** `DESCRIBE VECTORS '<storeDir>'` — one-row operational snapshot of a
  * [[graft.sim.VectorIndexStore]]: the serving generation, centroid
  * cell count, leaf-directory count (the quantity COMPACT bounds),
  * live row count (newest-batch deduped, tombstones excluded), and
  * pending tombstone count — the numbers an operator reads before
  * choosing between `COMPACT VECTORS` (too many leaves), `VACUUM
  * VECTORS` (tombstoned bytes to reclaim), and `REFRESH VECTORS`
  * (pair with `cellSkewProfile` / PROFILE SKEW for the drift alarm) —
  * without constructing the store in Scala. Read-only; safe while a
  * stream is writing (any crash-superset duplicates are deduped by
  * the same newest-batch read every prober uses).
  */
case class DescribeVectorsCommand(storeDir: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("generation", LongType, nullable = false)(),
    AttributeReference("cells", LongType, nullable = false)(),
    AttributeReference("leaves", LongType, nullable = false)(),
    AttributeReference("live_rows", LongType, nullable = false)(),
    AttributeReference("tombstones", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val store = new graft.sim.VectorIndexStore(session, storeDir)
    require(store.exists, s"DESCRIBE VECTORS: no vector index store at $storeDir")
    // an init'ed-but-never-add'ed store is a legal state for DESCRIBE
    // (unlike probes): it reports 0 leaves / 0 live rows
    val live = if (store.leafCount() == 0) 0L else store.codes().count()
    Seq(Row(store.currentGen, store.centroidsFrame().count(),
      store.leafCount().toLong, live, store.tombstoneCount()))
  }
}

/** `REFRESH VECTORS '<storeDir>' USING <table_or_view> ID <col>
  * VEC <col> [K n] [ITERS n] [SAMPLE n]` — the SQL face of
  * [[graft.sim.VectorIndexStore.retrain]]: re-fit centroids on a
  * hash-capped sample (default K 16, ITERS 3, SAMPLE 100000) of the
  * live vectors read from `table_or_view` (which must carry the fp32
  * vector for every live id — the corpus is the system of record) and
  * republish the whole index as the next generation behind the atomic
  * `_GEN` pointer. Returns the new generation plus the republished
  * cell/row counts. Run while no writer is active (the COMPACT
  * VECTORS contract).
  */
case class RefreshVectorsCommand(storeDir: String, source: String,
                                 idCol: String, vecCol: String,
                                 k: Int, iters: Int, sampleCap: Long)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("generation", LongType, nullable = false)(),
    AttributeReference("cells", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val store = new graft.sim.VectorIndexStore(session, storeDir)
    require(store.exists, s"REFRESH VECTORS: no vector index store at $storeDir")
    val gen = store.retrain(session.table(source), idCol, vecCol,
      k = k, iters = iters, sampleCap = sampleCap)
    Seq(Row(gen, store.centroidsFrame().count(), store.codes().count()))
  }
}

/** `CHECK EXPECTATIONS ON '<path>' (NOT NULL col, RANGE col lo hi,
  * MATCHES col 're', UNIQUE (a,b), ...)` — the SQL face of
  * [[graft.ops.Expect.run]]: the declarative data-contract suite for
  * the operational audience that lives on the SQL maintenance surface
  * (where PROFILE SKEW already is), without constructing Check objects
  * in Scala. All row-grain checks compile into ONE aggregation over
  * ONE scan of the parquet table (the Expect contract); returns the
  * (check, n_rows, n_violations, pass) frame. Referenced columns are
  * validated loudly against the table's schema before the scan.
  */
case class CheckExpectationsCommand(path: String, checks: Seq[graft.ops.Expect.Check])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("check", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_violations", LongType, nullable = false)(),
    AttributeReference("pass", org.apache.spark.sql.types.BooleanType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(checks.nonEmpty, "CHECK EXPECTATIONS: at least one check required")
    val df = session.read.parquet(path)
    val referenced = checks.flatMap {
      case graft.ops.Expect.NotNull(c) => Seq(c)
      case graft.ops.Expect.InRange(c, _, _) => Seq(c)
      case graft.ops.Expect.Matches(c, _) => Seq(c)
      case graft.ops.Expect.Unique(cs) => cs
      case graft.ops.Expect.RefIntegrity(c, _, _) => Seq(c)
    }.distinct
    val missing = referenced.filterNot(df.columns.contains)
    require(missing.isEmpty, s"CHECK EXPECTATIONS: no column(s) " +
      s"${missing.mkString(", ")} in $path (has ${df.columns.mkString(", ")})")
    graft.ops.Expect.run(df, checks).collect().toSeq.map { r =>
      Row(r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
    }
  }
}

/** `VACUUM '<path>' [KEEP n]` — reclaim versions older than the newest
  * `n` (default 2) that no kept manifest references (the SQL face of
  * [[MergeWriter.vacuum]]). Returns how many versions were reclaimed.
  */
case class VacuumPathCommand(targetDir: String, keep: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("reclaimed_versions", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(MergeWriter.currentVersion(targetDir) >= 0,
      s"VACUUM: no merge target at $targetDir")
    Seq(Row(MergeWriter.vacuum(targetDir, keep).size.toLong))
  }
}

/** `EXPORT CORPUS <table_or_view> TO '<dir>' SHARDS n
  * [FORMAT parquet|jsonl] ORDER BY col [DESC] [, ...] [OVERWRITE]` —
  * the SQL face of [[graft.export.CorpusExport.write]]: materialize a
  * frame as n round-robin shards (parquet default, or one-object-per-
  * line jsonl) in a pinned global order with an atomic,
  * sha256-bearing manifest. The ORDER BY list must be a
  * total order (append a unique id) — same contract as the API.
  * Returns the manifest: one row per shard (shard, file, rows,
  * sha256). Re-exporting to a published directory raises unless
  * OVERWRITE.
  */
case class ExportCorpusCommand(source: String, dir: String, shards: Int,
                               orderSpec: String, overwrite: Boolean,
                               format: String = "parquet")
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("shard", org.apache.spark.sql.types.IntegerType, nullable = false)(),
    AttributeReference("file", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("sha256", org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    // OVERWRITE is a reserved word of this statement: `ORDER BY a,
    // overwrite` parses the keyword as the flag and leaves a trailing
    // comma — raise loudly rather than silently dropping a sort column
    // (which would both break the total-order contract and destroy a
    // published export the user never asked to overwrite)
    if (orderSpec.trim.endsWith(","))
      throw new UnsupportedOperationException(
        "EXPORT CORPUS: dangling ORDER BY entry before OVERWRITE — " +
          "OVERWRITE is a reserved keyword here; a sort column cannot be named 'overwrite'")
    val sortCols = orderSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
      s.split("\\s+").toSeq match {
        case Seq(c) => col(c).asc
        case Seq(c, d) if d.equalsIgnoreCase("desc") => col(c).desc
        case Seq(c, d) if d.equalsIgnoreCase("asc") => col(c).asc
        case _ => throw new UnsupportedOperationException(
          s"EXPORT CORPUS: ORDER BY entries are 'col [ASC|DESC]'; got '$s'")
      }
    }
    val m = graft.export.CorpusExport.write(
      session.table(source), dir, shards, sortCols, overwrite, format)
    m.entries.map(e => Row(e.shard, e.file, e.rows, e.sha256))
  }
}

/** `graft_target_versions('<path>')` table-valued function — version
  * discoverability for the time-travel read side: which snapshot
  * versions are still on disk (and thus valid second arguments to
  * `graft_target(path, version)`), which is current, how many buckets
  * each maps and how many it physically holds (own_buckets < buckets
  * means the version points some buckets at older versions' files —
  * what COMPACT folds).
  */
object GraftTargetVersionsTvf {
  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 1, "usage: graft_target_versions('<path>')")
    require(exprs.forall(_.foldable), "graft_target_versions argument must be a literal")
    val path = String.valueOf(exprs.head.eval())
    val spark = SparkSession.active
    val info = MergeWriter.versionInfo(path) // already ascending by version
    require(info.nonEmpty, s"graft_target_versions: no merge target at $path")
    spark.createDataFrame(info).toDF("version", "is_current", "buckets", "own_buckets")
      .queryExecution.logical
  }
}

/** `graft_profile('<path>'[, 'col1,col2,...'])` — column-level
  * profiling of any parquet table as a TVF: per column, rows / nulls /
  * exact distinct count / native-typed min-max (rendered as strings).
  * All columns by default; the optional second literal narrows to a
  * comma-separated subset (exact distinct counts multiply the
  * aggregation's Expand factor — see [[graft.ops.Profile]]).
  */
object GraftProfileTvf {
  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.nonEmpty && exprs.size <= 2,
      "usage: graft_profile('<path>'[, 'col1,col2,...'])")
    require(exprs.forall(_.foldable), "graft_profile arguments must be literals")
    val path = String.valueOf(exprs.head.eval())
    val df = SparkSession.active.read.parquet(path)
    val cols =
      if (exprs.size == 2)
        String.valueOf(exprs(1).eval()).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else df.columns.toSeq
    graft.ops.Profile.profile(df, cols).queryExecution.logical
  }
}

/** `graft_target_layout('<path>')` table-valued function — storage
  * discoverability for the write side: the bucket count and key
  * columns fixed at the target's first merge (what a caller must know
  * to compose `MERGE INTO ... ON` / `graft_target_lookup` key tuples),
  * plus the current version.
  */
object GraftTargetLayoutTvf {
  def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size == 1, "usage: graft_target_layout('<path>')")
    require(exprs.forall(_.foldable), "graft_target_layout argument must be a literal")
    val path = String.valueOf(exprs.head.eval())
    val (buckets, keyCols) = MergeWriter.bucketLayout(path)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_target_layout: no bucketed merge target at $path"))
    val spark = SparkSession.active
    spark.createDataFrame(Seq(
        (buckets, keyCols.mkString(","), MergeWriter.currentVersion(path))))
      .toDF("buckets", "key_columns", "current_version")
      .queryExecution.logical
  }
}

/** Delegating parser that recognizes the path-target MERGE grammar
  * above (plus the COMPACT/VACUUM maintenance statements) and hands
  * everything else to Spark's parser. Injected via [[GraftExtensions]].
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val MergeRe =
    ("""(?is)^\s*MERGE\s+INTO\s+'([^']+)'\s+USING\s+([\w.]+)""" +
      """\s+ON\s+(.+?)""" +
      """(?:\s+ORDER\s+BY\s+(\w+))?(?:\s+BUCKETS\s+(\d+))?(\s+WHEN\s.*?)?\s*;?\s*$""").r

  // one key spec of the ON conjunction: `k` or `t.k = s.k`
  private val KeySpecRe = """(?is)^(?:[\w]+\.)?(\w+)(?:\s*=\s*(?:[\w]+\.)?(\w+))?$""".r

  // one WHEN branch each, anchored end-to-end — a clause that matches
  // none of these raises, so no trailing action is ever silently
  // ignored (clauses may appear in any T-SQL order)
  private val DeleteClauseRe =
    """(?is)^\s*WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*$""".r
  private val UpdateClauseRe =
    """(?is)^\s*WHEN\s+MATCHED\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*$""".r
  private val InsertClauseRe =
    """(?is)^\s*WHEN\s+NOT\s+MATCHED\s+(?:BY\s+TARGET\s+)?(?:AND\s+(.+?)\s+)?THEN\s+INSERT\s+(\*|\(.+?)\s*$""".r
  private val SyncDeleteClauseRe =
    """(?is)^\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+DELETE\s*$""".r
  private val SyncUpdateClauseRe =
    """(?is)^\s*WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(.+?)\s+)?THEN\s+UPDATE\s+SET\s+(.+?)\s*$""".r

  // one assignment of a partial SET list: `[t.]col = expr`
  private val AssignRe = """(?is)^\s*(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)\s*=\s*(.+?)\s*$""".r

  private val CompactRe = """(?is)^\s*COMPACT\s+'([^']+)'\s*;?\s*$""".r
  private val CompactStreamsRe =
    """(?is)^\s*COMPACT\s+STREAMS\s+'([^']+)'\s*;?\s*$""".r
  private val CompactVectorsRe =
    """(?is)^\s*COMPACT\s+VECTORS\s+'([^']+)'\s*;?\s*$""".r
  private val VacuumVectorsRe =
    """(?is)^\s*VACUUM\s+VECTORS\s+'([^']+)'\s*;?\s*$""".r
  private val DescribeVectorsRe =
    """(?is)^\s*DESCRIBE\s+VECTORS\s+'([^']+)'\s*;?\s*$""".r
  private val ExportRe =
    ("""(?is)^\s*EXPORT\s+CORPUS\s+([\w.]+)\s+TO\s+'([^']+)'\s+SHARDS\s+(\d+)""" +
      """(?:\s+FORMAT\s+(\w+))?\s+ORDER\s+BY\s+(.+?)(\s+OVERWRITE)?\s*;?\s*$""").r
  private val VacuumRe = """(?is)^\s*VACUUM\s+'([^']+)'(?:\s+KEEP\s+(\d+))?\s*;?\s*$""".r
  private val ProfileSkewRe =
    """(?is)^\s*PROFILE\s+SKEW\s+'([^']+)'\s+ON\s+([A-Za-z_]\w*)(?:\s+TOP\s+(\d+))?\s*;?\s*$""".r
  private val PredictJoinRe =
    ("""(?is)^\s*PREDICT\s+JOIN\s+'([^']+)'\s+AND\s+'([^']+)'""" +
      """\s+ON\s+([A-Za-z_]\w*)(?:\s*=\s*([A-Za-z_]\w*))?(?:\s+TOP\s+(\d+))?\s*;?\s*$""").r
  private val RefreshVectorsRe =
    ("""(?is)^\s*REFRESH\s+VECTORS\s+'([^']+)'\s+USING\s+([\w.]+)""" +
      """\s+ID\s+([A-Za-z_]\w*)\s+VEC\s+([A-Za-z_]\w*)""" +
      """(?:\s+K\s+(\d+))?(?:\s+ITERS\s+(\d+))?(?:\s+SAMPLE\s+(\d+))?\s*;?\s*$""").r
  private val CheckExpectationsRe =
    """(?is)^\s*CHECK\s+EXPECTATIONS\s+ON\s+'([^']+)'\s*\((.+)\)\s*;?\s*$""".r
  private val ExpectNotNullRe = """(?is)^NOT\s+NULL\s+([A-Za-z_]\w*)$""".r
  private val ExpectRangeRe =
    """(?is)^RANGE\s+([A-Za-z_]\w*)\s+(-?\d+)\s+(-?\d+)$""".r
  private val ExpectMatchesRe =
    """(?is)^MATCHES\s+([A-Za-z_]\w*)\s+'((?:[^']|'')*)'$""".r
  private val ExpectUniqueRe =
    """(?is)^UNIQUE\s+(?:\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)|([A-Za-z_]\w*))$""".r

  /** Split a check list on top-level commas only — commas inside a
    * UNIQUE's paren group or a MATCHES regex literal must not split. */
  private def splitChecks(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0
    var start = 0
    var i = 0
    while (i < body.length) {
      body.charAt(i) match {
        case '\'' => i = skipQuoted(body, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += body.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += body.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def parseCheck(spec: String): graft.ops.Expect.Check = spec match {
    case ExpectNotNullRe(c) => graft.ops.Expect.NotNull(c)
    case ExpectRangeRe(c, lo, hi) => graft.ops.Expect.InRange(c, lo.toLong, hi.toLong)
    case ExpectMatchesRe(c, re) =>
      graft.ops.Expect.Matches(c, re.replace("''", "'"))
    case ExpectUniqueRe(group, single) =>
      graft.ops.Expect.Unique(
        if (group != null) group.split(",").toSeq.map(_.trim) else Seq(single))
    case other => throw new UnsupportedOperationException(
      s"CHECK EXPECTATIONS: unrecognized check '$other' — expected " +
        "NOT NULL col | RANGE col lo hi | MATCHES col 're' | UNIQUE (a,b)")
  }

  private val UsingParenRe = """(?is)^(\s*MERGE\s+INTO\s+'[^']+'\s+USING\s+)\(""".r

  /** Index just past the end of the single-quoted literal opening at
    * `start` (which must hold a `'`), honoring `''` escapes; the
    * string's end if unterminated.
    */
  private def skipQuoted(sql: String, start: Int): Int = {
    var j = start + 1
    while (j < sql.length) {
      if (sql.charAt(j) == '\'') {
        if (j + 1 < sql.length && sql.charAt(j + 1) == '\'') j += 2 // '' escape
        else return j + 1
      } else j += 1
    }
    j
  }

  /** `USING (SELECT ...) [AS alias]` support: extract the
    * balanced-paren subquery (paren counting — a regex cannot balance)
    * and splice a placeholder name in, so the main grammar regex stays
    * simple. Single-quoted literals inside the subquery are skipped
    * while counting, so a literal containing parens — `WHERE v = ':)'`
    * — parses. Returns (rewritten statement, subquery SQL) or None
    * when the source is a plain table name.
    */
  private def extractUsingSubquery(sql: String): Option[(String, String)] =
    UsingParenRe.findFirstMatchIn(sql).flatMap { m =>
      val open = m.end - 1
      var depth = 0
      var i = open
      var close = -1
      while (i < sql.length && close < 0) {
        sql.charAt(i) match {
          case '\'' => i = skipQuoted(sql, i) - 1
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close < 0) None // unbalanced: let the delegate produce its error
      else {
        val sub = sql.substring(open + 1, close)
        // an optional alias after the subquery (T-SQL requires one) is
        // consumed and dropped — but never the ON keyword itself
        val AliasRe = """(?is)^\s+(?:AS\s+)?([A-Za-z_]\w*)""".r
        val afterParen = sql.substring(close + 1)
        val rest = AliasRe.findFirstMatchIn(afterParen) match {
          case Some(a) if !a.group(1).equalsIgnoreCase("on") =>
            afterParen.substring(a.end)
          case _ => afterParen
        }
        Some((sql.substring(0, m.end - 1) + "graft_using_subquery" + rest, sub))
      }
    }

  override def parsePlan(sqlText: String): LogicalPlan = {
    extractUsingSubquery(sqlText) match {
      case Some((rewritten, sub)) =>
        rewritten match {
          case MergeRe(_, _, _, _, _, _) =>
            return parseMerge(rewritten, Some(sub))
          case _ => // not our grammar after all: fall through on the ORIGINAL
        }
      case None =>
    }
    sqlText match {
      case MergeRe(_, _, _, _, _, _) => parseMerge(sqlText, None)
      case CompactStreamsRe(dir) => CompactStreamsCommand(dir)
      case CompactVectorsRe(dir) => VectorStoreMaintenanceCommand(dir, vacuum = false)
      case VacuumVectorsRe(dir) => VectorStoreMaintenanceCommand(dir, vacuum = true)
      case DescribeVectorsRe(dir) => DescribeVectorsCommand(dir)
      case CompactRe(dir) => CompactPathCommand(dir)
      case ExportRe(src, dir, n, fmt, order, ow) =>
        ExportCorpusCommand(src, dir, n.toInt, order, ow != null,
          Option(fmt).map(_.toLowerCase).getOrElse("parquet"))
      case VacuumRe(dir, keep) =>
        VacuumPathCommand(dir, Option(keep).map(_.toInt).getOrElse(2))
      case ProfileSkewRe(path, keyCol, topK) =>
        ProfileSkewCommand(path, keyCol, Option(topK).map(_.toInt).getOrElse(20))
      case PredictJoinRe(pa, pb, ca, cb, topK) =>
        PredictJoinCommand(pa, pb, ca, Option(cb).getOrElse(ca),
          Option(topK).map(_.toInt).getOrElse(20))
      case RefreshVectorsRe(dir, source, idCol, vecCol, k, iters, sample) =>
        RefreshVectorsCommand(dir, source, idCol, vecCol,
          Option(k).map(_.toInt).getOrElse(16),
          Option(iters).map(_.toInt).getOrElse(3),
          Option(sample).map(_.toLong).getOrElse(100000L))
      case CheckExpectationsRe(path, body) =>
        CheckExpectationsCommand(path, splitChecks(body).map(parseCheck))
      case _ => delegate.parsePlan(sqlText)
    }
  }

  /** The MERGE grammar body; `subquery` is Some(sql) when the USING
    * side was an inline subquery (already spliced out of `text`).
    */
  private def parseMerge(text: String, subquery: Option[String]): LogicalPlan = text match {
    case MergeRe(dir, source, onClause, order, buckets, when) =>
      // AND-separated key specs: each `k` or `t.k = s.k` with both
      // sides naming the same column
      val keyCols = onClause.trim.split("(?i)\\s+AND\\s+").toSeq.map {
        case KeySpecRe(lhs, rhs) =>
          if (rhs != null && rhs.toLowerCase != lhs.toLowerCase)
            throw new UnsupportedOperationException(
              s"MERGE INTO '<path>' requires same-named equi-keys; got $lhs = $rhs")
          lhs
        case other =>
          throw new UnsupportedOperationException(
            s"MERGE INTO '<path>' ON clause must be AND-joined equi-keys; got '$other'")
      }
      // split the WHEN blob into branches and match each against the
      // anchored clause grammar — every branch must parse, in any order,
      // each at most once, so no action is ever silently dropped
      var deleteCond: Option[String] = None
      var update: Option[Option[Seq[(String, String)]]] = None
      var updateCond: Option[String] = None
      var insert = false
      var insertCond: Option[String] = None
      var insertCols: Option[Seq[(String, String)]] = None
      var syncDelete = false
      var syncDeleteCond: Option[String] = None
      var syncUpdate: Option[Seq[(String, String)]] = None
      var syncUpdateCond: Option[String] = None
      // statement order of the two NOT MATCHED BY SOURCE branches: the
      // first applicable clause wins for a row both would select (T-SQL)
      var syncUpdateFirst = false
      // likewise for the two WHEN MATCHED branches: UPDATE listed
      // before DELETE means a matched row whose update condition holds
      // updates; DELETE-first (or lone delete) keeps delete precedence
      var matchedUpdateFirst = false
      def once(already: Boolean, what: String): Unit =
        if (already) throw new UnsupportedOperationException(
          s"MERGE INTO '<path>': duplicate $what clause")
      splitWhenClauses(when).foreach {
        case SyncDeleteClauseRe(c) =>
          once(syncDelete, "WHEN NOT MATCHED BY SOURCE ... DELETE")
          syncDelete = true
          syncDeleteCond = Option(c)
        case SyncUpdateClauseRe(c, setSpec) =>
          once(syncUpdate.isDefined, "WHEN NOT MATCHED BY SOURCE ... UPDATE")
          if (!syncDelete) syncUpdateFirst = true
          syncUpdate = parseSetSpec(setSpec, keyCols) match {
            case None => throw new UnsupportedOperationException(
              "MERGE INTO '<path>': WHEN NOT MATCHED BY SOURCE ... UPDATE " +
                "needs an explicit SET list (there is no source row for SET *)")
            case some => some
          }
          syncUpdateCond = Option(c)
        case InsertClauseRe(c, spec) =>
          once(insert, "WHEN NOT MATCHED ... INSERT"); insert = true
          insertCond = Option(c)
          insertCols = parseInsertSpec(spec, keyCols)
        case DeleteClauseRe(c) =>
          once(deleteCond.isDefined, "WHEN MATCHED ... DELETE")
          deleteCond = Some(Option(c).getOrElse("true"))
        case UpdateClauseRe(c, setSpec) =>
          once(update.isDefined, "WHEN MATCHED ... UPDATE")
          // update-first precedence only when the clause carries a
          // condition: T-SQL requires the first of two matched clauses
          // to be conditional (an unconditional first would make the
          // second unreachable), so an unconditional UPDATE acts as the
          // fallback for rows the delete condition rejects regardless
          // of where it is written — the only reachable meaning
          if (deleteCond.isEmpty && c != null) matchedUpdateFirst = true
          update = Some(parseSetSpec(setSpec, keyCols))
          updateCond = Option(c)
        case other => throw new UnsupportedOperationException(
          "MERGE INTO '<path>' WHEN actions are limited to " +
            "'WHEN MATCHED [AND cond] THEN DELETE', " +
            "'WHEN MATCHED [AND cond] THEN UPDATE SET * | SET col = expr, ...', " +
            "'WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (col, ...) VALUES (expr, ...)', " +
            "'WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE' and " +
            "'WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr, ...'; " +
            s"got '${other.trim}'")
      }
      // every branch combination is legal, exactly as in T-SQL: an
      // absent branch simply means "that action never fires". A branch
      // that is absent while OTHERS run in combined mode is expressed
      // through an always-false guard: insert-only leaves matched rows
      // byte-identical (ignore-if-exists), update-only leaves unmatched
      // source rows inert (update-if-exists CDC), sync-only treats the
      // source purely as the presence set. The one special case stays:
      // a LONE matched-delete branch runs the dedicated delete-only
      // path (source filtered to tombstones — O(tombstone buckets),
      // no full upsert machinery).
      val hasSync = syncDelete || syncUpdate.isDefined
      val combined = update.isDefined || insert || hasSync
      // no WHEN clause at all defaults to the upsert pair; combined
      // mode must NOT filter the source to tombstones — every source
      // key carries presence/match information for the other branches
      val upsert = combined || when == null
      MergeIntoPathCommand(dir, subquery.getOrElse(source), keyCols,
        Option(order), Option(buckets).map(_.toInt), deleteCond, upsert,
        sourceIsQuery = subquery.isDefined,
        setClause = update.flatten, syncDelete = syncDelete,
        updateCond =
          if (update.isEmpty && combined && when != null) Some("false") else updateCond,
        syncDeleteCond = syncDeleteCond,
        insertCond =
          if (!insert && combined && when != null) Some("false") else insertCond,
        insertCols = insertCols,
        syncUpdateSet = syncUpdate, syncUpdateCond = syncUpdateCond,
        syncUpdateFirst = syncUpdateFirst,
        matchedUpdateFirst = matchedUpdateFirst)
    case _ => throw new IllegalStateException("parseMerge on a non-MERGE statement")
  }

  /** Split the WHEN blob into one string per branch, cutting at every
    * `WHEN [NOT] MATCHED` outside single-quoted literals — the MATCHED
    * lookahead keeps a `CASE WHEN … END` inside a delete condition or
    * SET expression from being mistaken for a branch boundary.
    */
  private def splitWhenClauses(when: String): Seq[String] = {
    if (when == null) return Seq.empty
    val starts = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < when.length) {
      when.charAt(i) match {
        case '\'' => i = skipQuoted(when, i)
        case c if (c == 'w' || c == 'W') &&
            (i == 0 || !Character.isLetterOrDigit(when.charAt(i - 1)) &&
              when.charAt(i - 1) != '_') &&
            """(?is)^WHEN\s+(?:NOT\s+)?MATCHED\b""".r
              .findPrefixOf(when.substring(i)).isDefined =>
          starts += i; i += 4
        case _ => i += 1
      }
    }
    if (starts.isEmpty || when.substring(0, starts.head).trim.nonEmpty)
      throw new UnsupportedOperationException(
        s"MERGE INTO '<path>': unrecognized WHEN actions '${when.trim}'")
    starts.indices.map { k =>
      when.substring(starts(k), if (k + 1 < starts.length) starts(k + 1) else when.length)
    }
  }

  /** Split on top-level commas — commas inside quotes or parens
    * (function calls, CASE arms) do not split.
    */
  private def splitTopLevel(spec: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    var depth = 0
    while (i < spec.length) {
      spec.charAt(i) match {
        case '\'' =>
          val end = skipQuoted(spec, i); cur.append(spec.substring(i, end)); i = end
        case '(' => depth += 1; cur.append('('); i += 1
        case ')' => depth -= 1; cur.append(')'); i += 1
        case ',' if depth == 0 => parts += cur.result(); cur.clear(); i += 1
        case c => cur.append(c); i += 1
      }
    }
    parts += cur.result()
    parts.toSeq
  }

  /** Index of the `)` balancing the `(` at `open` (quote-aware), or -1. */
  private def closingParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => i = skipQuoted(s, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Parse an INSERT's spec: `*` → None (insert the raw source row);
    * otherwise the T-SQL `(col [, ...]) VALUES (expr [, ...])` form —
    * listed columns take their VALUES expression (over the SOURCE
    * columns), unlisted data columns insert NULL. Merge key columns
    * always flow from the source row the ON clause matched on (this
    * target is keyed storage — a NULL or rewritten key has no meaning
    * here), so a key may appear in the list only as its own identity
    * reference (`k` / `s.k`); anything else raises.
    */
  private def parseInsertSpec(spec0: String,
                              keyCols: Seq[String]): Option[Seq[(String, String)]] = {
    val spec = spec0.trim
    if (spec == "*") return None
    def bad(why: String): Nothing = throw new UnsupportedOperationException(
      s"MERGE INTO '<path>': malformed INSERT spec '${spec.trim}' ($why — " +
        "expected '*' or '(col, ...) VALUES (expr, ...)')")
    if (!spec.startsWith("(")) bad("no column list")
    val closeCols = closingParen(spec, 0)
    if (closeCols < 0) bad("unbalanced column list")
    val colList = splitTopLevel(spec.substring(1, closeCols)).map(_.trim)
    val afterCols = spec.substring(closeCols + 1)
    val ValuesRe = """(?is)^\s*VALUES\s*(\(.*)$""".r
    val valuesPart = afterCols match {
      case ValuesRe(v) => v
      case _ => bad("missing VALUES")
    }
    val closeVals = closingParen(valuesPart, 0)
    if (closeVals < 0) bad("unbalanced VALUES list")
    if (valuesPart.substring(closeVals + 1).trim.nonEmpty)
      bad("trailing text after VALUES list")
    val exprList = splitTopLevel(valuesPart.substring(1, closeVals)).map(_.trim)
    if (colList.size != exprList.size)
      bad(s"${colList.size} columns but ${exprList.size} values")
    val ColNameRe = """(?is)^(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)$""".r
    val pairs = colList.zip(exprList).map {
      case (ColNameRe(c), e) => c -> e
      case (other, _) => bad(s"bad column name '$other'")
    }
    pairs.groupBy(_._1.toLowerCase).collect { case (c, ps) if ps.size > 1 => c }
      .headOption.foreach(c => bad(s"column '$c' listed twice"))
    // keys: identity references only, then dropped (keys come from the
    // ON-matched source row, exactly what an identity reference names)
    val (keyPairs, dataPairs) = pairs.partition { case (c, _) =>
      keyCols.exists(_.equalsIgnoreCase(c)) }
    keyPairs.foreach {
      case (c, ColNameRe(v)) if v.equalsIgnoreCase(c) => ()
      case (c, e) => throw new UnsupportedOperationException(
        s"MERGE INTO '<path>': INSERT cannot rewrite merge key column " +
          s"'$c' (got '$c = $e'; keys always flow from the source row)")
    }
    Some(dataPairs)
  }

  /** Parse an UPDATE's SET spec: `*` → None (update every non-key
    * column); otherwise the comma-separated assignment list (commas
    * inside quotes or parens — function calls, CASE arms — do not
    * split). Assigning a merge key is rejected.
    */
  private def parseSetSpec(spec: String,
                           keyCols: Seq[String]): Option[Seq[(String, String)]] = {
    if (spec.trim == "*") return None
    Some(splitTopLevel(spec).map {
      case AssignRe(colName, rhs) =>
        if (keyCols.exists(_.equalsIgnoreCase(colName)))
          throw new UnsupportedOperationException(
            s"MERGE INTO '<path>': SET cannot assign merge key column '$colName'")
        colName -> rhs
      case other => throw new UnsupportedOperationException(
        s"MERGE INTO '<path>': malformed SET assignment '${other.trim}' " +
          "(expected 'col = expr')")
    })
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}
