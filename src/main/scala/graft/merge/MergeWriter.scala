package graft.merge

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, StructType}

import graft.util.NioLocalFileSystem

/** Step 4 (Migrate): keyed upsert into the target without a lakehouse
  * format (SURVEY.md §2.2 K2, §7.3).
  *
  * Semantics (reference `005_sp_migrate.sql:14-24` T-SQL MERGE /
  * `migrate.js:7-19` ON CONFLICT DO UPDATE):
  *  - match on the key column: matched → update all non-key columns +
  *    `migrated_at = now`; not matched → insert;
  *  - duplicate keys inside one batch: last-wins (SQLite behavior;
  *    T-SQL MERGE would error — dedup first is the superset behavior).
  *
  * Implementation: versioned, hash-bucketed snapshots. Rows live in
  * bucket directories `v<N>/data/_bucket=<b>` with
  * `b = pmod(hash(key), B)`; each version carries a `_MANIFEST`
  * mapping every bucket to the version directory that physically holds
  * its current rows. A merge reads ONLY the buckets its update keys
  * hash into, full-outer-joins them with the (deduped) updates,
  * rewrites just those buckets under `v<N+1>`, and points the
  * untouched buckets at their existing files — merge I/O is
  * O(touched buckets), not O(|target|): a 1k-row upsert against a
  * 100 TB target rewrites ~1k/B-th of it. An atomic `_CURRENT`
  * pointer swap publishes the manifest, so a crash mid-write leaves
  * the old version intact (last-good pointer, §7.4). Each version also
  * records its full snapshot schema in `_SCHEMA` (the columns it wrote
  * plus the previous version's, for additive evolution), so reads take
  * their schema from one small file instead of every parquet footer.
  * That is the one on-disk layout every reader accepts; a target in an
  * older layout fails loudly, naming `COMPACT '<dir>'` ([[compact]]),
  * the one upgrade.
  *
  * Scale: the join shuffles the touched buckets and the update batch
  * by the key once; Catalyst broadcasts the update side automatically
  * when it is small. One writer at a time: an in-process lock per
  * target plus a cross-JVM `_LEASE` file (heartbeated mtime,
  * stale-takeover via atomic rename) so a second JVM loses cleanly
  * (§7.4). `B` is fixed at first write (stored in `_BUCKETS`); size
  * it so |target|/B fits an executor comfortably.
  */
object MergeWriter {

  val DefaultBuckets = 32

  private def pointerFile(targetDir: String) = Paths.get(targetDir, "_CURRENT")
  private def bucketsFile(targetDir: String) = Paths.get(targetDir, "_BUCKETS")
  private def manifestFile(targetDir: String, v: Int) = Paths.get(targetDir, s"v$v", "_MANIFEST")
  private def schemaFile(targetDir: String, v: Int) = Paths.get(targetDir, s"v$v", "_SCHEMA")

  /** Current snapshot version, or -1 if the target is empty. */
  def currentVersion(targetDir: String): Int = {
    val p = pointerFile(targetDir)
    if (Files.exists(p)) Files.readString(p).trim.toInt else -1
  }

  /** Bucket count fixed at first write; None before any merge. */
  def numBuckets(targetDir: String): Option[Int] = bucketLayout(targetDir).map(_._1)

  /** Every snapshot version on disk that [[readTargetAt]] serves,
    * ascending: those in today's layout ([[inLayout]]). The manifest is
    * written after the data, so such a version is complete even if the
    * _CURRENT swap never happened. Fails, naming COMPACT, when the
    * current version predates the layout.
    */
  def listVersions(targetDir: String): Seq[Int] = {
    val cur = currentVersion(targetDir)
    if (cur >= 0) snapshot(targetDir, cur)
    versionDirs(targetDir).filter(v => inLayout(targetDir, v))
  }

  /** Per-version metadata for the SQL `graft_target_versions` surface:
    * (version, is_current, buckets mapped by its manifest, of which
    * held physically in its own directory). An emptied target's version
    * maps no bucket: 0/0.
    */
  private[graft] def versionInfo(targetDir: String): Seq[(Int, Boolean, Int, Int)] = {
    val cur = currentVersion(targetDir)
    listVersions(targetDir).map { v =>
      val m = manifestEntries(targetDir, v)
      (v, v == cur, m.size, m.values.count(_.startsWith(s"v$v/")))
    }
  }

  /** (bucket count, key columns) recorded at first merge (composite keys
    * stored comma-joined); None before any merge.
    */
  private[graft] def bucketLayout(targetDir: String): Option[(Int, Seq[String])] = {
    val p = bucketsFile(targetDir)
    if (!Files.exists(p)) None
    else {
      val parts = Files.readString(p).trim.split("\t")
      Some((parts(0).toInt, parts(1).split(",").toSeq))
    }
  }

  /** The `v<N>` directories on disk, ascending, whatever their layout. */
  private def versionDirs(targetDir: String): Seq[Int] = {
    val dir = Paths.get(targetDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt)
      .toSeq.sorted
    finally ls.close()
  }

  /** bucket → path (relative to targetDir) as version `v`'s manifest lists it. */
  private def manifestEntries(targetDir: String, v: Int): Map[Int, String] =
    Files.readAllLines(manifestFile(targetDir, v)).iterator().asScala.filter(_.nonEmpty).map { line =>
      val Array(b, rel) = line.split("\t", 2)
      b.toInt -> rel
    }.toMap

  /** Whether version `v` is in today's layout: the target records
    * `_BUCKETS`, and the version has a `_SCHEMA` and a `_MANIFEST` whose
    * entries are all buckets >= 0.
    */
  private def inLayout(targetDir: String, v: Int): Boolean =
    Files.exists(bucketsFile(targetDir)) && Files.exists(schemaFile(targetDir, v)) &&
      Files.exists(manifestFile(targetDir, v)) && manifestEntries(targetDir, v).keys.forall(_ >= 0)

  /** Version `v`'s bucket → path map and recorded snapshot schema. Only
    * today's layout is read ([[inLayout]]); any other fails loudly,
    * naming [[compact]], the one upgrade.
    */
  private def snapshot(targetDir: String, v: Int): (Map[Int, String], StructType) = {
    if (!inLayout(targetDir, v)) throw new IllegalStateException(
      s"merge target $targetDir: version $v predates the current on-disk layout " +
        s"(_BUCKETS; per version a _MANIFEST of buckets >= 0 and a _SCHEMA); " +
        s"run COMPACT '$targetDir' to upgrade it")
    (manifestEntries(targetDir, v), schemaAt(targetDir, v))
  }

  private def schemaAt(targetDir: String, v: Int): StructType =
    DataType.fromJson(Files.readString(schemaFile(targetDir, v))).asInstanceOf[StructType]

  /** Files `rels` (relative to targetDir) read with a version's full
    * snapshot schema — buckets written before an additive schema change
    * read the newer columns as null. No files (an emptied target) is an
    * empty frame of that schema.
    */
  private def readFiles(spark: SparkSession, targetDir: String, rels: Iterable[String],
                        schema: StructType): DataFrame =
    if (rels.isEmpty) emptyFrame(spark, schema)
    else spark.read.schema(schema).parquet(rels.map(rel => s"$targetDir/$rel").toSeq.sorted: _*)

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Whether `version` is on disk; a bare dir above the pointer without
    * a manifest is a crash-orphaned partial merge, not a version. */
  private def hasVersion(targetDir: String, version: Int): Boolean =
    version >= 0 && Files.isDirectory(Paths.get(targetDir, s"v$version")) &&
      (version <= currentVersion(targetDir) || Files.exists(manifestFile(targetDir, version)))

  /** Read the current target snapshot; None when no version exists. */
  def readTarget(spark: SparkSession, targetDir: String): Option[DataFrame] =
    readTargetAt(spark, targetDir, currentVersion(targetDir))

  /** Time-travel read of snapshot `version` (subject to vacuum
    * retention — a reclaimed version's manifest is gone). The manifest
    * is immutable once written, so this is a consistent point-in-time
    * view regardless of later merges.
    */
  def readTargetAt(spark: SparkSession, targetDir: String, version: Int): Option[DataFrame] =
    if (!hasVersion(targetDir, version)) None
    else {
      val (m, schema) = snapshot(targetDir, version)
      Some(readFiles(spark, targetDir, m.values, schema))
    }

  /** Bucket of one ALREADY-TYPED (catalyst-internal) key tuple under
    * this target's layout — the SAME expression the writer buckets by
    * (`pmod(hash(key...), B)`, Spark's Murmur3 with its default seed
    * chaining across the tuple's components), evaluated driver-side.
    * Taking typed values (not strings) guarantees the hashed tuple is
    * the very one the lookup filter compares with. No Spark job.
    */
  private def bucketOf(typed: Seq[(Any, org.apache.spark.sql.types.DataType)],
                       nB: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = new Murmur3Hash(typed.map { case (v, t) => Literal(v, t) })
      .eval(null).asInstanceOf[Int]
    ((h % nB) + nB) % nB
  }

  /** Key types whose value survives the string round trip the lookup
    * path uses (value → string → cast to the stored type). Timestamps
    * are excluded — their string render is JVM-timezone-dependent, so
    * the driver-side bucket hash could disagree with the writer's;
    * floats/doubles for NaN/-0.0 edges.
    */
  private[graft] def stringRoundTrippable(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.ShortType | _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.StringType | _: org.apache.spark.sql.types.BooleanType |
           _: org.apache.spark.sql.types.DateType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }

  /** Point lookup: rows of snapshot `version` (default: current) whose
    * key is in `keys`, reading ONLY the bucket directories those keys
    * hash into — I/O is O(|keys| buckets), not O(|target|), which is
    * the read-side twin of the touched-buckets merge write. Keys are
    * compared as typed literals cast from their string form (so
    * `Seq(7)` and `Seq("7")` behave alike, and the filter still pushes
    * into the parquet scan); null keys match nothing, as in SQL.
    *
    * The pruned read is forced to the FULL snapshot schema
    * (`schemaHint`, else the version's `_SCHEMA`) so additive schema
    * evolution cannot make the result schema vary with which buckets
    * the keys happen to hit — files predating an added column read it
    * as null.
    *
    * None when there is no such version, the target has a composite key,
    * or the key type does not survive the string round trip (see
    * [[stringRoundTrippable]]) — fall back to [[readTarget]] + a typed
    * filter in those cases.
    */
  def readTargetKeys(spark: SparkSession, targetDir: String, keys: Seq[Any],
                     version: Int = -1,
                     schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] =
    // the single-key surface stays single-key: against a composite
    // target it reports None (a bare key cannot address a key tuple)
    bucketLayout(targetDir) match {
      case Some((_, ks)) if ks.size > 1 => None
      case _ => readTargetTuples(spark, targetDir, keys.map(Seq(_)), version, schemaHint)
    }

  /** Composite form of [[readTargetKeys]]: each element of `tuples` is
    * one full key tuple in the target's recorded key-column order
    * (single-key targets take 1-tuples). A tuple with the wrong arity,
    * a null component, or an uncastable component matches nothing.
    * I/O is O(|tuples| buckets); the pushed filter is the OR over
    * tuples of the per-column equality conjunction.
    */
  def readTargetTuples(spark: SparkSession, targetDir: String, tuples: Seq[Seq[Any]],
                       version: Int = -1,
                       schemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    val cur = if (version >= 0) version else currentVersion(targetDir)
    if (!hasVersion(targetDir, cur)) return None
    val (m, recorded) = snapshot(targetDir, cur)
    val (nB, keyCols) = bucketLayout(targetDir).get
    val schema = schemaHint.getOrElse(recorded)
    // resolve the key columns case-insensitively, like the rest of the
    // engine: _BUCKETS may record the ON-clause spelling while the
    // parquet column carries the source frame's
    val keyFields = keyCols.map(kc =>
      schema.fields.find(_.name.equalsIgnoreCase(kc)).getOrElse(return None))
    if (!keyFields.forall(f => stringRoundTrippable(f.dataType))) return None
    // one cast per component, shared by the filter literal AND the
    // bucket hash, so the hashed tuple is provably the one compared;
    // tuples with a component that fails the cast (or was null) can
    // match nothing — drop them. EvalMode.TRY, explicitly: Spark 4
    // defaults ANSI on, and an ANSI cast would THROW on a malformed
    // key instead of returning the documented empty result.
    val internalTuples = tuples.filter(_.size == keyCols.size).flatMap { tup =>
      val cast = tup.zip(keyFields).map { case (k, f) =>
        if (k == null) null
        else {
          import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
          Cast(Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(k)),
            org.apache.spark.sql.types.StringType), f.dataType, Some("UTC"),
            EvalMode.TRY).eval(null)
        }
      }
      if (cast.contains(null)) None else Some(cast)
    }
    // a wanted bucket can be absent from the manifest (never held a
    // row) — then those tuples simply have no rows to read
    val wanted = internalTuples
      .map(vs => bucketOf(vs.zip(keyFields.map(_.dataType)), nB)).toSet
    val pruned = m.filter { case (b, _) => wanted.contains(b) }
      .values.map(rel => s"$targetDir/$rel").toSeq.sorted
    if (internalTuples.isEmpty || pruned.isEmpty)
      // provably empty: same schema, zero I/O — no point listing a
      // huge target's files just to filter(false) over them
      return Some(emptyFrame(spark, schema))
    def typedLit(v: Any, f: org.apache.spark.sql.types.StructField) =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal(v, f.dataType))
    // single key: IN-list (pushes as one In filter); composite: OR
    // over tuples of the per-column conjunction (pushes as Or(And))
    val cond =
      if (keyFields.size == 1)
        col(keyFields.head.name).isin(internalTuples.map(t => typedLit(t.head, keyFields.head)): _*)
      else internalTuples.map { vs =>
        vs.zip(keyFields).map { case (v, f) => col(f.name) === typedLit(v, f) }
          .reduce(_ && _)
      }.reduce(_ || _)
    Some(spark.read.schema(schema).parquet(pruned: _*).filter(cond))
  }

  /** Upsert `updates` into the target by `keyCol`. `orderCol` breaks
    * intra-batch duplicate keys (highest wins = "last" in source
    * order). Returns rows affected — rows that actually inserted,
    * updated, or deleted, mirroring the reference's MERGE @@ROWCOUNT
    * (a tombstone for an absent key takes no action and does not
    * count; the count rides the write job via an Observation, no extra
    * pass).
    *
    * `deleteCol` names an optional boolean column in `updates`: rows
    * where it is true are tombstones — a matched target key is removed,
    * an unmatched one is a no-op (a tombstone never inserts). The
    * last-wins dedup runs FIRST, so within one batch the latest action
    * per key decides (an upsert after a delete re-inserts; a delete
    * after upserts removes) — exactly the CDC change-stream contract.
    * Deletes cost the same O(touched buckets) I/O as upserts: the
    * tombstone's bucket is rewritten without the row.
    *
    * `updateCols` switches matched rows from update-all-columns to a
    * partial-column update (the sparse-CDC `SET col = expr` form):
    * each (targetCol, valueCol) pair routes `valueCol`'s value into
    * `targetCol` on MATCH ONLY — unlisted columns keep their target
    * values — while inserts still take the raw source columns (the
    * `valueCol`s are internal carriers, never written). `syncDelete`
    * additionally removes target rows whose key is absent from the
    * batch (T-SQL `WHEN NOT MATCHED BY SOURCE THEN DELETE`,
    * full-snapshot sync) — every bucket is touched in this mode, so
    * the merge is O(|target|) by necessity, not O(touched buckets).
    * `updateCondCol` names an optional boolean column guarding the
    * update branch (T-SQL `WHEN MATCHED AND cond THEN UPDATE`): a
    * matched row where it is false or null takes no action — the
    * target row stays byte-identical, `migrated_at` included, and the
    * row is not counted — while unmatched rows still insert.
    * `syncDeleteCond` scopes the sync delete (T-SQL
    * `WHEN NOT MATCHED BY SOURCE AND cond THEN DELETE`): a boolean SQL
    * expression over the TARGET columns — target-only rows failing it
    * (or evaluating null) are kept. Only meaningful with `syncDelete`.
    */
  // one writer per target at a time. In-process: a JVM-level lock per
  // normalized path. Cross-JVM: a create-exclusive `_LEASE` file whose
  // mtime is heartbeated while held — a second JVM writing the same
  // target loses cleanly instead of racing the version pointer.
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(targetDir: String): Object =
    writeLocks.computeIfAbsent(Paths.get(targetDir).toAbsolutePath.normalize.toString,
      _ => new Object)

  /** Heartbeat cadence: a lease untouched for this long is dead. */
  private[graft] val LeaseStaleMs: Long = 30000
  private val leaseOwner = java.util.UUID.randomUUID().toString

  private def leaseFile(targetDir: String): Path = Paths.get(targetDir, "_LEASE")

  /** Held lease: touches the file's mtime every staleMs/3 so liveness
    * is observable cross-JVM; release() deletes only our own lease.
    */
  private[graft] final class LeaseHandle(lf: Path, staleMs: Long) {
    private val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-merge-lease"); t.setDaemon(true); t
    }
    exec.scheduleAtFixedRate(
      () => try Files.setLastModifiedTime(lf,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: Exception => () },
      staleMs / 3, staleMs / 3, java.util.concurrent.TimeUnit.MILLISECONDS)
    def release(): Unit = {
      exec.shutdownNow()
      try if (Files.exists(lf) && Files.readString(lf) == leaseOwner) Files.delete(lf)
      catch { case _: Exception => () }
    }
  }

  /** Acquire the cross-JVM writer lease: create-exclusive wins; a
    * lease whose mtime is older than `staleMs` (dead holder) is taken
    * over via an atomic rename-steal — exactly one contender wins the
    * move, so two stealers can't both acquire. A live foreign lease
    * fails the acquire after `waitMs` (the loser's update is NOT
    * applied — no lost-update, the caller retries or surfaces).
    */
  private[graft] def acquireLease(targetDir: String, waitMs: Long = 10000,
                                  staleMs: Long = LeaseStaleMs): LeaseHandle = {
    val lf = leaseFile(targetDir)
    val deadline = System.currentTimeMillis() + waitMs
    while (true) {
      try {
        Files.writeString(lf, leaseOwner, java.nio.file.StandardOpenOption.CREATE_NEW)
        return new LeaseHandle(lf, staleMs)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis() - Files.getLastModifiedTime(lf).toMillis
            catch { case _: Exception => 0L } // vanished under us: retry create
          if (age > staleMs) {
            val steal = Paths.get(targetDir, s"_LEASE.steal-${System.nanoTime}")
            try { Files.move(lf, steal, StandardCopyOption.ATOMIC_MOVE); Files.deleteIfExists(steal) }
            catch { case _: Exception => () } // another stealer won; loop re-tries create
          } else if (System.currentTimeMillis() > deadline) {
            throw new IllegalStateException(
              s"merge lease on $targetDir held by a live writer in another JVM")
          } else Thread.sleep(100)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def merge(spark: SparkSession, targetDir: String, updates: DataFrame,
            keyCol: String, orderCol: String,
            buckets: Int = DefaultBuckets,
            leaseWaitMs: Long = 10000,
            deleteCol: Option[String] = None,
            updateCols: Option[Seq[(String, String)]] = None,
            syncDelete: Boolean = false,
            updateCondCol: Option[String] = None,
            syncDeleteCond: Option[String] = None,
            insertCondCol: Option[String] = None,
            insertCols: Option[Seq[(String, String)]] = None,
            syncUpdateCols: Option[Seq[(String, String)]] = None,
            syncUpdateCond: Option[String] = None,
            deleteMatchedOnly: Boolean = false,
            syncUpdateFirst: Boolean = false,
            matchedUpdateFirst: Boolean = false): Long =
    mergeByKeys(spark, targetDir, updates, Seq(keyCol), orderCol, buckets,
      leaseWaitMs, deleteCol, updateCols, syncDelete, updateCondCol, syncDeleteCond,
      insertCondCol, insertCols, syncUpdateCols, syncUpdateCond,
      deleteMatchedOnly, syncUpdateFirst, matchedUpdateFirst)

  /** Composite-key upsert: match on the conjunction of `keyCols`
    * (e.g. (tenant, id)); buckets hash the whole key tuple, so all
    * single-key scale properties (touched-bucket I/O, key-sorted
    * files) carry over. Point lookups go through [[readTargetTuples]]
    * with full key tuples. Key columns must be non-null (standard
    * merge keys; a null never equi-joins).
    */
  def mergeByKeys(spark: SparkSession, targetDir: String, updates: DataFrame,
                  keyCols: Seq[String], orderCol: String,
                  buckets: Int = DefaultBuckets,
                  leaseWaitMs: Long = 10000,
                  deleteCol: Option[String] = None,
                  updateCols: Option[Seq[(String, String)]] = None,
                  syncDelete: Boolean = false,
                  updateCondCol: Option[String] = None,
                  syncDeleteCond: Option[String] = None,
                  insertCondCol: Option[String] = None,
                  insertCols: Option[Seq[(String, String)]] = None,
                  syncUpdateCols: Option[Seq[(String, String)]] = None,
                  syncUpdateCond: Option[String] = None,
                  deleteMatchedOnly: Boolean = false,
                  syncUpdateFirst: Boolean = false,
                  matchedUpdateFirst: Boolean = false): Long = lockFor(targetDir).synchronized {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // key columns are persisted comma-joined (tab-separated from the
    // bucket count) in _BUCKETS — a separator inside a name would
    // silently corrupt the recorded layout and every later lookup
    require(keyCols.forall(k => !k.contains(",") && !k.contains("\t")),
      s"merge key column names must not contain ',' or tab: ${keyCols.mkString(", ")}")
    Files.createDirectories(Paths.get(targetDir))
    val lease = acquireLease(targetDir, leaseWaitMs)
    try mergeLocked(spark, targetDir, updates, keyCols, orderCol, buckets, deleteCol,
      updateCols, syncDelete, updateCondCol, syncDeleteCond, insertCondCol, insertCols,
      syncUpdateCols, syncUpdateCond, deleteMatchedOnly, syncUpdateFirst,
      matchedUpdateFirst)
    finally lease.release()
  }

  private def mergeLocked(spark: SparkSession, targetDir: String, updates: DataFrame,
                          keyCols: Seq[String], orderCol: String, buckets: Int,
                          deleteCol: Option[String],
                          updateCols: Option[Seq[(String, String)]],
                          syncDelete: Boolean,
                          updateCondCol: Option[String],
                          syncDeleteCond: Option[String],
                          insertCondCol: Option[String],
                          insertCols: Option[Seq[(String, String)]],
                          syncUpdateCols: Option[Seq[(String, String)]],
                          syncUpdateCond: Option[String],
                          deleteMatchedOnly: Boolean,
                          syncUpdateFirst: Boolean,
                          matchedUpdateFirst: Boolean): Long = {
    val cur = currentVersion(targetDir)
    val next = cur + 1
    // the current version's bucket map and snapshot schema; a target in
    // an older layout fails here, naming COMPACT
    val (oldManifest, prior) =
      if (cur < 0) (Map.empty[Int, String], None)
      else { val (m, schema) = snapshot(targetDir, cur); (m, Some(schema)) }
    val nB = bucketLayout(targetDir) match {
      case Some((b, stored)) =>
        // a different key set would hash rows into buckets the stored
        // layout never wrote — corrupting every later lookup silently.
        // Fail loudly instead (spelling may differ in case only).
        require(stored.size == keyCols.size &&
          stored.zip(keyCols).forall { case (a, bk) => a.equalsIgnoreCase(bk) },
          s"merge keys ${keyCols.mkString(",")} do not match the target's " +
            s"recorded layout ${stored.mkString(",")}")
        b
      case None =>
        Files.writeString(bucketsFile(targetDir), s"$buckets\t${keyCols.mkString(",")}")
        buckets
    }
    val keySet = keyCols.toSet
    // partial-update value carriers DISTINCT from their target column
    // (the SQL path's _graft_set_i expression columns) are internal —
    // never data columns, never written. A same-named pair (the API
    // form `amount -> amount`: update amount from the stream's amount)
    // IS the data column: inserts must still take its raw value.
    val exprCols = (updateCols.toSeq ++ insertCols.toSeq).flatten.collect {
      case (tc, vc) if !tc.equalsIgnoreCase(vc) => vc }.toSet
    val dataCols = updates.columns.filter(c =>
      !keySet.contains(c) && c != orderCol && !deleteCol.contains(c) &&
        !updateCondCol.contains(c) && !insertCondCol.contains(c) &&
        !exprCols.contains(c))
    def keyHash = pmod(hash(keyCols.map(col): _*), lit(nB))

    // last-wins dedup inside the batch (reference `migrate.js:10-15`) —
    // BEFORE the tombstone split, so the latest action per key decides
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).desc)
    val deduped0 = updates
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn", orderCol)
      .withColumn("migrated_at", current_timestamp())
    // normalize the tombstone flag (null = not a delete) to an internal
    // column so the join/filter below is uniform; dropped before write
    val dedupedD = deleteCol match {
      case Some(dc) => deduped0
        .withColumn("_gdel", coalesce(col(dc).cast("boolean"), lit(false))).drop(dc)
      case None => deduped0.withColumn("_gdel", lit(false))
    }
    // likewise the update-branch condition (null = does not apply, the
    // SQL three-valued rule): a matched row with a false flag takes no
    // action — the target row stays byte-identical
    val dedupedU = updateCondCol match {
      case Some(uc) => dedupedD
        .withColumn("_gupd", coalesce(col(uc).cast("boolean"), lit(false))).drop(uc)
      case None => dedupedD.withColumn("_gupd", lit(true))
    }
    // and the insert-branch condition (WHEN NOT MATCHED AND cond THEN
    // INSERT): an unmatched source row with a false/null flag takes no
    // action at all — it neither inserts nor counts
    val deduped = insertCondCol match {
      case Some(ic) => dedupedU
        .withColumn("_gins", coalesce(col(ic).cast("boolean"), lit(false))).drop(ic)
      case None => dedupedU.withColumn("_gins", lit(true))
    }

    // affected count rides on the bucket-discovery job via an
    // Observation — no separate counting pass
    val obs = new org.apache.spark.sql.Observation()
    val dedupedObs = deduped.observe(obs, count(lit(1)).as("n_updates"))
      .withColumn("_bucket", keyHash)
      .persist()

    // ONE pass over the (possibly expensive) update chain: this action
    // both materializes the cache and yields the touched bucket set.
    // Each partition reports its own distinct buckets (at most B values
    // per partition) — no second exchange to deduplicate them
    val batchTouched = dedupedObs.select(col("_bucket")).as(Encoders.scalaInt)
      .mapPartitions((it: Iterator[Int]) => it.toSet.iterator)(Encoders.scalaInt)
      .collect().toSet


    // full-snapshot sync must examine every target row (any bucket may
    // hold keys absent from the batch), so every manifest bucket is
    // touched — the merge degrades to O(|target|) by definition
    val syncUpdate = syncUpdateCols.isDefined
    val touched =
      if (syncDelete || syncUpdate) batchTouched ++ oldManifest.keys
      else batchTouched

    // old rows the merge must look at: touched buckets only
    val oldRels = oldManifest.filter { case (b, _) => touched.contains(b) }.values.toSeq.distinct

    // the @@ROWCOUNT-style action count rides the write job: rows that
    // actually insert, update, or delete (an unmatched tombstone takes
    // no action and does not count)
    val actObs = new org.apache.spark.sql.Observation()

    val merged =
      if (oldRels.isEmpty) {
        // empty target: every surviving row is an insert (the update
        // branch and its condition only ever guard MATCHED rows; the
        // insert condition and column list apply in full). A
        // matched-only delete branch (T-SQL) never fires here — nothing
        // matches — so flagged rows still insert; a CDC tombstone
        // (matched or not) always suppresses its row.
        val inserted0 = dedupedObs.filter(
            (if (deleteMatchedOnly) lit(true) else !col("_gdel")) && col("_gins"))
          .observe(actObs, count(lit(1)).as("n_actions"))
        val inserted = insertCols match {
          case Some(list) =>
            // explicit INSERT list: listed columns take their VALUES
            // expression, unlisted data columns insert NULL (T-SQL
            // semantics); keys and migrated_at always carry
            val listed = list.map(_._1.toLowerCase).toSet
            val nulled = dataCols.foldLeft(inserted0) { (df, c) =>
              if (listed.contains(c.toLowerCase)) df
              else df.withColumn(c, lit(null).cast(df.schema(c).dataType))
            }
            list.foldLeft(nulled) { case (df, (tc, vc)) =>
              if (tc.equalsIgnoreCase(vc)) df else df.withColumn(tc, col(vc))
            }
          case None => inserted0
        }
        inserted.drop(("_gdel" +: "_gupd" +: "_gins" +: exprCols.toSeq): _*)
      } else {
        // read with the snapshot schema: touched buckets written before
        // an additive schema change read the newer columns as null
        val target0 = readFiles(spark, targetDir, oldRels, prior.get)
        val oldCols = target0.columns
        val targetB = target0.withColumn("_bucket", keyHash)
        // the sync-delete scope condition, the sync-update SET
        // expressions, and the sync-update condition are all over the
        // TARGET columns (the only side that exists for a
        // not-matched-by-source row) — computed BEFORE the join so
        // plain names resolve unambiguously
        val targetD = syncDeleteCond match {
          case Some(c) if syncDelete =>
            targetB.withColumn("_gsyncdel", expr(c).cast("boolean"))
          case _ => targetB
        }
        val targetS = syncUpdateCols match {
          case Some(list) =>
            // aliased "t" so `t.col` and bare `col` both resolve in the
            // SET expressions and condition (mirroring the source's "s")
            val withVals = list.zipWithIndex.foldLeft(targetD.as("t")) { case (df, ((_, e), i)) =>
              df.withColumn(s"_gsup_$i", expr(e))
            }
            syncUpdateCond match {
              case Some(c) => withVals.withColumn("_gsupcond", expr(c).cast("boolean"))
              case None => withVals
            }
          case None => targetD
        }
        val t = targetS.as("t")
        val u = dedupedObs.as("u")
        // u-side presence / t-side match / update-branch applicability,
        // readable once for the routing, sync filter, and action count
        val uPresent = col("u._gdel").isNotNull
        val tPresent = col(s"t.${keyCols.head}").isNotNull
        // when this source row's delete flag takes effect: always under
        // CDC-tombstone semantics (the API/streaming path: an unmatched
        // tombstone is a no-op and never inserts), only against a
        // MATCHED target row under T-SQL semantics (the SQL MERGE path:
        // WHEN MATCHED ... DELETE never applies to an unmatched row,
        // which falls through to the insert branch instead)
        val uDel0 = coalesce(col("u._gdel"), lit(false)) &&
          (if (deleteMatchedOnly) tPresent else lit(true))
        // matched-branch statement order (T-SQL first-applicable-clause
        // rule, the matched twin of syncUpdateFirst below): with UPDATE
        // listed before DELETE, a matched row whose update branch fires
        // updates instead of deleting; delete keeps rows the update
        // condition rejects
        val uDel =
          if (matchedUpdateFirst) uDel0 && !(tPresent && col("u._gupd"))
          else uDel0
        // this source row's values take effect for its output row:
        // inserts always, matched rows only when the update branch fires
        val uApplies = uPresent && (!tPresent || col("u._gupd"))
        // additive schema evolution: a column only in the updates reads
        // null for pre-existing rows; a column only in the target is
        // carried forward untouched
        val tData = oldCols.filterNot(c =>
          keySet.contains(c) || c == "migrated_at" ||
            c == "_gdel" || c == "_gupd" || c == "_gins" || c == "_gsyncdel" ||
            c == "_gsupcond" || c.startsWith("_gsup_"))
        val allData0 = (dataCols ++ tData.filterNot(dataCols.contains)).toSeq
        // a SET- or INSERT-introduced column absent from both sides
        // still needs an output slot (rows its branch touches get the
        // expression's value, every other row null)
        val allData1 = allData0 ++ updateCols.map(_.map(_._1)
          .filterNot(c => allData0.exists(_.equalsIgnoreCase(c)))).getOrElse(Seq.empty)
        val allData2 = allData1 ++ insertCols.map(_.map(_._1)
          .filterNot(c => allData1.exists(_.equalsIgnoreCase(c)))).getOrElse(Seq.empty)
        val allData = allData2 ++ syncUpdateCols.map(_.map(_._1)
          .filterNot(c => allData2.exists(_.equalsIgnoreCase(c)))).getOrElse(Seq.empty)
        def assignedValueCol(c: String): Option[String] =
          updateCols.flatMap(_.find(_._1.equalsIgnoreCase(c)).map(_._2))
        // explicit INSERT list: an inserted row's value for c is its
        // VALUES expression, or NULL when c is unlisted (T-SQL)
        def insertValueCol(c: String): Column = insertCols.get
          .find(_._1.equalsIgnoreCase(c))
          .map { case (_, vc) => col(s"u.$vc") }.getOrElse(lit(null))
        def routedCol(c: String) = assignedValueCol(c) match {
          case Some(vc) =>
            // assigned column: matched (update branch firing) → the SET
            // expression's value, insert → the raw source value,
            // matched-no-fire / target-only → carried
            when(uPresent && tPresent && col("u._gupd"), col(s"u.$vc"))
              .when(uPresent && !tPresent,
                if (dataCols.contains(c)) col(s"u.$c") else lit(null))
              .otherwise(if (tData.contains(c)) col(s"t.$c") else lit(null))
          case None if updateCols.isDefined =>
            // partial update: unassigned columns KEEP the target value
            // on match; inserts still take the source value
            if (dataCols.contains(c) && tData.contains(c))
              when(uPresent && !tPresent, col(s"u.$c")).otherwise(col(s"t.$c"))
            else if (dataCols.contains(c)) when(uPresent && !tPresent, col(s"u.$c"))
            else if (tData.contains(c)) col(s"t.$c")
            else lit(null) // INSERT-introduced: only the insert arm fills it
          case None =>
            // full SET *: source values win wherever the source row
            // takes effect (null source values still fall back to the
            // target's — additive evolution)
            if (dataCols.contains(c) && tData.contains(c))
              when(uApplies, coalesce(col(s"u.$c"), col(s"t.$c")))
                .otherwise(col(s"t.$c"))
            else if (dataCols.contains(c)) when(uApplies, col(s"u.$c"))
            else if (tData.contains(c)) col(s"t.$c")
            else lit(null) // INSERT-introduced: only the insert arm fills it
        }
        // sync mode: which target-only rows each NOT MATCHED BY SOURCE
        // branch selects on its own (all of them, or — with a scope
        // condition — only those satisfying it; a null condition value
        // keeps the row, SQL three-valued rule)
        val rawSyncDrop =
          if (syncDeleteCond.isDefined)
            !uPresent && coalesce(col("t._gsyncdel"), lit(false))
          else !uPresent
        val rawSyncUpd =
          if (syncUpdateCond.isDefined) !uPresent && coalesce(col("t._gsupcond"), lit(false))
          else !uPresent
        // a row takes at most one action (T-SQL): with BOTH sync
        // branches present, the FIRST clause in statement order wins
        // for a row satisfying both conditions — exactly T-SQL's
        // first-applicable-clause rule
        val (syncDrops, syncUpdApplies) =
          if (syncUpdateFirst && syncDelete && syncUpdateCols.isDefined)
            (rawSyncDrop && !rawSyncUpd, rawSyncUpd)
          else
            (rawSyncDrop, rawSyncUpd && (if (syncDelete) !rawSyncDrop else lit(true)))
        def syncUpdValueCol(c: String): Option[Column] = syncUpdateCols
          .flatMap(_.zipWithIndex.find(_._1._1.equalsIgnoreCase(c))
            .map { case (_, i) => col(s"t._gsup_$i") })
        // the insert arm (explicit INSERT list) and the stale-row
        // update arm override the default routing for the rows their
        // branch touches; every other row falls through untouched
        def dataCol(c: String) = {
          val withIns =
            if (insertCols.isDefined)
              when(uPresent && !tPresent, insertValueCol(c)).otherwise(routedCol(c))
            else routedCol(c)
          syncUpdValueCol(c) match {
            case Some(v) if syncUpdateCols.isDefined =>
              when(syncUpdApplies, v).otherwise(withIns)
            case _ => withIns
          }
        }
        val outCols =
          keyCols.map(k => coalesce(col(s"u.$k"), col(s"t.$k")).as(k)) ++
          allData.map(c => dataCol(c).as(c)) :+
          // a matched row whose update branch does not fire keeps its
          // old migrated_at — it was not migrated this round; a
          // stale-row sync update IS a modification and re-stamps
          when(uApplies, coalesce(col("u.migrated_at"), col("t.migrated_at")))
            .when(syncUpdApplies && lit(syncUpdateCols.isDefined), current_timestamp())
            .otherwise(col("t.migrated_at")).as("migrated_at") :+
          coalesce(col("u._bucket"), col("t._bucket")).as("_bucket")
        // an action: a matched tombstone, an insert whose branch fires,
        // a matched row whose update branch fires, plus (sync mode)
        // every dropped target row and every stale-row update
        val isAction = (uPresent &&
            ((uDel && tPresent) ||
              (!uDel &&
                ((!tPresent && col("u._gins")) || (tPresent && col("u._gupd")))))) ||
          (lit(syncDelete) && syncDrops) ||
          (lit(syncUpdateCols.isDefined) && syncUpdApplies)
        // tombstones drop out here: a matched delete removes the target
        // row from its rewritten bucket, an unmatched one inserts
        // nothing; sync mode additionally drops target rows with no
        // matching source row
        val joined = t.join(u,
            keyCols.map(k => col(s"t.$k") === col(s"u.$k")).reduce(_ && _), "full_outer")
          .observe(actObs, coalesce(sum(when(isAction, 1L)), lit(0L)).as("n_actions"))
          // drop deletes (matched tombstones — and unmatched ones too
          // under CDC semantics), non-firing inserts (unmatched source
          // rows whose insert condition is false produce no output
          // row), and (sync mode) target-only rows
          .filter(!uDel &&
            (tPresent || coalesce(col("u._gins"), lit(true))) &&
            (if (syncDelete) !syncDrops else lit(true)))
          .select(outCols: _*)
        // only rows of touched buckets are rewritten (untouched buckets
        // stay where they are)
        joined.filter(col("_bucket").isin(touched.toSeq: _*))
      }

    // the new version's schema also keeps the columns that only the
    // carried (untouched) buckets hold
    val written = writeBuckets(merged, targetDir, next, keyCols, touched.size, prior)
    // resolve AFTER the write job that carried the action observation.
    // Fallback (observation machinery unavailable, e.g. inside
    // foreachBatch): the deduped batch size — an upper bound that only
    // differs when the batch carries no-op tombstones or sync deletes
    val affected = graft.util.Metrics.long(actObs, "n_actions",
      graft.util.Metrics.long(obs, "n_updates", dedupedObs.count()))
    dedupedObs.unpersist()

    // manifest: rewritten buckets point here, untouched buckets carry
    // their old location forward. A TOUCHED bucket absent from the
    // write (every one of its rows deleted — the parquet writer emits
    // no dir for an empty partition) must NOT carry forward: the old
    // file still holds the deleted rows. It simply leaves the manifest.
    // A merge that deletes every row leaves an entry-less manifest: the
    // version reads as an empty frame of its recorded schema.
    val carried = oldManifest.filter { case (b, _) => !written.contains(b) && !touched.contains(b) }
    publish(targetDir, next, carried ++ written.map(b => b -> s"v$next/data/_bucket=$b"))
    affected
  }

  /** Write version `v`'s manifest, then swap `_CURRENT` to it
    * atomically (write-tmp + ATOMIC_MOVE rename): a crash before the
    * swap leaves the previous version current.
    */
  private def publish(targetDir: String, v: Int, entries: Map[Int, String]): Unit = {
    Files.writeString(manifestFile(targetDir, v),
      entries.toSeq.sorted.map { case (b, rel) => s"$b\t$rel" }.mkString("", "\n", "\n"))
    val tmp = Paths.get(targetDir, s"_CURRENT.tmp$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, pointerFile(targetDir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write `rows` (which carry `_bucket`) as the bucket directories of
    * version `v`, key-sorted, exactly one file per bucket, and record the
    * version's snapshot schema: the written columns, then any column of
    * `prior` they lack. `buckets` is how many distinct buckets the rows
    * can hold. Returns the buckets written.
    *
    * The hash exchange on `_bucket` sends every bucket to exactly one
    * task, so each bucket directory gets one file by construction —
    * without it every task holding rows of a bucket writes its own small
    * file there (tasks × buckets files: each a listing entry, an open, a
    * footer). Its width, min(buckets, default parallelism), spreads the
    * per-file cost over the cores: a write coalesced into one task would
    * create every bucket's file serially. The files are created through
    * [[NioLocalFileSystem]], so a `file:` target starts no `chmod`
    * process per file, whose cost swings with the host's load.
    * A bucket is never split, so `B` remains the knob for file size.
    *
    * Then the partition-local sort by (bucket, key): the file writer's
    * required partition-column clustering is then already satisfied (no
    * second sort), and every bucket file comes out KEY-SORTED — parquet
    * row-group min/max stats on the key become tight, so the pushed key
    * filter of a point lookup skips row groups WITHIN the one bucket it
    * reads.
    */
  private def writeBuckets(rows: DataFrame, targetDir: String, v: Int, keyCols: Seq[String],
                           buckets: Int, prior: Option[StructType]): Set[Int] = {
    val width = math.max(1, math.min(buckets, rows.sparkSession.sparkContext.defaultParallelism))
    rows.repartition(width, col("_bucket"))
      .sortWithinPartitions((col("_bucket") +: keyCols.map(col)): _*)
      .write.options(NioLocalFileSystem.writeOptions)
      .mode("overwrite").partitionBy("_bucket").parquet(s"$targetDir/v$v/data")
    val cols = rows.schema.fields.filterNot(_.name == "_bucket").map(_.copy(nullable = true))
    val carriedOnly = prior.toSeq.flatMap(_.fields)
      .filterNot(p => p.name == "_bucket" || cols.exists(_.name.equalsIgnoreCase(p.name)))
    Files.writeString(schemaFile(targetDir, v), StructType(cols ++ carriedOnly).json)
    listBucketDirs(Paths.get(targetDir, s"v$v", "data"))
  }

  private def listBucketDirs(dataDir: Path): Set[Int] =
    if (!Files.exists(dataDir)) Set.empty
    else {
      val ls = Files.list(dataDir)
      try ls.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("_bucket=") => s.stripPrefix("_bucket=").toInt }
        .toSet
      finally ls.close()
    }

  /** Rewrite the current version into one self-contained version of
    * today's layout: every bucket rewritten key-sorted, one file each,
    * with its `_SCHEMA`. It releases the cross-version references a long
    * merge chain accumulates, so vacuum can reclaim old versions (run it
    * periodically, like any compaction job), and it is the one upgrade
    * of a target written in an older layout — the only reader of one.
    * A target without `_BUCKETS` records no key to bucket by and is
    * refused.
    */
  def compact(spark: SparkSession, targetDir: String): Unit = lockFor(targetDir).synchronized {
    if (currentVersion(targetDir) < 0) return
    val lease = acquireLease(targetDir)
    try compactLocked(spark, targetDir) finally lease.release()
  }

  private def compactLocked(spark: SparkSession, targetDir: String): Unit = {
    val cur = currentVersion(targetDir)
    if (cur < 0) return
    val (nB, keyCols) = bucketLayout(targetDir).getOrElse(throw new IllegalStateException(
      s"COMPACT: merge target $targetDir has no _BUCKETS, so no recorded key to bucket " +
        "its rows by; it cannot be upgraded in place — merge its rows into a new target"))
    // the upgrade read: a legacy current version holds the files its
    // manifest maps (bucket -1: one self-contained dir) or, with no
    // manifest, its bare v<N> dir; with no _SCHEMA, the files' footers
    // decide (one mergeSchema inference job)
    val rels =
      if (Files.exists(manifestFile(targetDir, cur))) manifestEntries(targetDir, cur).values
      else Seq(s"v$cur")
    val snap =
      if (Files.exists(schemaFile(targetDir, cur))) readFiles(spark, targetDir, rels, schemaAt(targetDir, cur))
      else spark.read.option("mergeSchema", "true").parquet(rels.map(rel => s"$targetDir/$rel").toSeq: _*)
    val keyed = snap.withColumn("_bucket", pmod(hash(keyCols.map(col): _*), lit(nB)))
    val next = cur + 1
    // same one-file-per-bucket, key-sorted layout as the merge write path
    // (the full snapshot is read, so its columns are already all there)
    val written = writeBuckets(keyed, targetDir, next, keyCols, nB, None)
    publish(targetDir, next, written.map(b => b -> s"v$next/data/_bucket=$b").toMap)
  }

  /** Retention: drop version directories that are (a) older than the
    * newest `keep` versions AND (b) not referenced by any kept
    * version's manifest (bucket entries may point across versions).
    * Never touches the current version; safe any time after a merge.
    * Versions of an older layout are reclaimed alike once unreferenced.
    */
  def vacuum(targetDir: String, keep: Int = 2): Seq[Int] = lockFor(targetDir).synchronized {
    // keep = 0 would consider NO version referenced — including the one
    // _CURRENT points at — and delete the whole target
    require(keep >= 1, s"vacuum needs keep >= 1, got $keep")
    if (currentVersion(targetDir) < 0) return Seq.empty
    val lease = acquireLease(targetDir)
    try vacuumLocked(targetDir, keep) finally lease.release()
  }

  private def vacuumLocked(targetDir: String, keep: Int): Seq[Int] = {
    val cur = currentVersion(targetDir)
    if (cur < 0) return Seq.empty
    val dir = Paths.get(targetDir)
    val all = versionDirs(targetDir)
    val kept = all.filter(v => v > cur - keep)
    val referenced = kept.filter(v => Files.exists(manifestFile(targetDir, v)))
      .flatMap(v => manifestEntries(targetDir, v).values)
      .flatMap(rel => "^v(\\d+)".r.findFirstMatchIn(rel).map(_.group(1).toInt)).toSet
    val removable = all.filter(v => v <= cur - keep && !referenced.contains(v))
    removable.foreach(v => graft.util.Fs.deleteRecursively(dir.resolve(s"v$v")))
    removable
  }
}
