package graft.catalog

import java.io.File
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.{Instant, OffsetDateTime, ZoneId}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.NanoTime
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.{LogEntry, PipelineRun, StepRun}
import graft.util.Json

/** Run-control catalog (SURVEY.md §1.1 control tables, §2.2 K3/K4,
  * §2.8 query surface).
  *
  * Driver-side metadata store: runs/steps/logs as NDJSON append logs
  * under a work dir, rolled into parquet segments by compaction. Writes
  * are plain driver-side file appends (microseconds — the reference's
  * DB-write equivalent; a Spark write job per status transition cost
  * seconds of fixed overhead per run). Reads are driver-side too, and
  * incremental: each read lists the store dirs, parses only the append
  * files and segments it has not seen (each file is immutable once
  * published), and resolves latest-per-key in plain Scala. The catalog
  * therefore holds O(live catalog rows) in memory, and a monitor read
  * launches no Spark job. The `DataFrame` methods wrap the resolved rows.
  *
  * RunNumber is a driver-side synchronized counter persisted to a file
  * (§2.6 A2 — the reference's `MAX+1` SQL pattern is racy; a real
  * sequence is the spec'd intent).
  */
class RunCatalog(private[graft] val spark: SparkSession, val dir: String,
                 clock: () => Long = () => System.currentTimeMillis(),
                 compactThreshold: Int = 1000,
                 tombstoneAgeFloorMs: Long = 0L) {
  import RunCatalog._

  private val seqFile = Paths.get(dir, "_run_number")

  private val runsStore = new Store[PipelineRun]("pipeline_runs", runsSchema,
    r => Row(r.run_id, r.run_number, r.pipeline_name, r.started_at, r.status, r.finished_at.orNull),
    r => PipelineRun(r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getString(2),
      r.getString(4), r.getAs[Timestamp](3), Option(r.getAs[Timestamp](5))))
  private val stepsStore = new Store[StepRun]("step_runs", stepsSchema,
    s => Row(s.run_id, s.step_number, s.step_name, s.status, s.rows_affected,
      s.error_message.orNull, s.started_at.orNull, s.finished_at.orNull),
    r => StepRun(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
      if (r.isNullAt(4)) 0L else r.getLong(4), Option(r.getString(5)),
      Option(r.getAs[Timestamp](6)), Option(r.getAs[Timestamp](7))))
  private val logsStore = new Store[LogEntry]("pipeline_logs", logsSchema,
    l => Row(l.run_id, l.log_at, l.level, l.step_number, l.message, l.details.orNull),
    r => LogEntry(r.getString(0), r.getAs[Timestamp](1), r.getString(2),
      if (r.isNullAt(3)) 0 else r.getInt(3), r.getString(4), Option(r.getString(5))))
  private val stores = Seq(runsStore, stepsStore, logsStore)

  stores.foreach(s => Files.createDirectories(Paths.get(s.path)))

  val stepNames: Seq[String] = Seq("Data Pull", "Extract", "Transform", "Migrate")

  private def now(): Timestamp = new Timestamp(clock())

  private def zone: ZoneId = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"), ZoneId.SHORT_IDS)

  private def nextRunNumber(): Long = seqFile.synchronized {
    val n = if (Files.exists(seqFile)) Files.readString(seqFile).trim.toLong + 1 else 1L
    Files.writeString(seqFile, n.toString)
    n
  }

  // one writer at a time per catalog (the runner's logger vs the
  // progress flusher, §2.10 C3)
  private val writeLock = new Object

  /** One store dir, read on the driver. Append files are immutable once
    * published and segments once renamed into place, so each is parsed
    * once and cached by file name; an entry leaves the cache as soon as
    * its file is tombstoned or leaves the listing, so memory tracks the
    * live store. Every read lists the dir, so appends that another JVM
    * publishes on the same dir show up on the next read.
    */
  private final class Store[R](name: String, val schema: StructType,
                               val toRow: R => Row, fromRow: Row => R) {
    val path = s"$dir/$name"
    // (publish stamp, file name) → rows in file order: iteration order
    // is append order, which breaks resolution ties and orders segments
    private val live = mutable.TreeMap.empty[(Long, String), Vector[R]]
    // tombstone file name → names of the files it rolled
    private val tombs = mutable.HashMap.empty[String, Set[String]]
    // appends since construction — drives auto-compaction
    val appends = new AtomicInteger

    /** Every live row, oldest append first. */
    def rows(): Vector[R] = synchronized { refresh(); live.valuesIterator.flatten.toVector }

    private def refresh(): Unit = {
      val files = Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      val tombFiles = files.filter(_.getName.startsWith("_tombstones-"))
      val tombNames = tombFiles.map(_.getName).toSet
      tombs.filterInPlace((n, _) => tombNames(n))
      tombFiles.filterNot(f => tombs.contains(f.getName)).foreach { f =>
        tombs(f.getName) = readLines(f).map(p => Paths.get(p).getFileName.toString).toSet
      }
      val dead = tombs.valuesIterator.flatten.toSet
      val keep = files.filter(f => isAppend(f.getName) || isSegment(f.getName))
        .filterNot(f => dead(f.getName)).map(f => (stamp(f.getName), f.getName) -> f).toMap
      live.filterInPlace((k, _) => keep.contains(k))
      keep.foreach { case (k, f) =>
        if (!live.contains(k)) load(f).foreach(rs => live(k) = rs)
      }
    }

    /** A file's rows; None when it vanished after the listing (reaped by
      * a compaction: its rows are in a segment the next read lists). */
    private def load(f: File): Option[Vector[R]] =
      try Some(
        if (isSegment(f.getName)) readSegment(f, schema).map(fromRow)
        else Files.readAllLines(f.toPath).asScala.iterator.filter(_.nonEmpty)
          // a line that does not parse is skipped: like Spark's
          // permissive JSON reader, one bad line never fails a read
          .flatMap(l => scala.util.Try(fromRow(jsonRow(l, schema))).toOption).toVector)
      catch { case _: NoSuchFileException => None }

    /** Publish `rows` as one append file: written under a `_tmp-` name no
      * listing matches, then atomically renamed, so a reader never sees
      * (and never caches) a half-written file. */
    def append(rows: Seq[R]): Unit = {
      val tmp = Paths.get(path, s"_tmp-${UUID.randomUUID()}")
      Files.writeString(tmp, rows.map(r => Json.row(toRow(r), schema, zone)).mkString("", "\n", "\n"))
      Files.move(tmp, Paths.get(path, s"append-${System.nanoTime}-${UUID.randomUUID().toString.take(8)}.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }

    /** Roll every live file into one new segment, written from the cached
      * rows. The caller holds the write lock. The rename into place, the
      * tombstone and the cache swap happen under this store's lock, so a
      * read in this JVM sees either the old files or the new segment,
      * never both.
      */
    def compact(): Unit = {
      val rolled = synchronized { refresh(); live.toVector }
      if (!rolled.exists { case ((_, n), _) => isAppend(n) }) return
      val rows = rolled.flatMap(_._2)
      val st = System.nanoTime
      val tmp = Paths.get(path, s"_tmp-segment-$st")
      spark.createDataFrame(rows.map(toRow).asJava, schema).coalesce(1).write.parquet(tmp.toString)
      synchronized {
        val seg = s"segment-$st"
        Files.move(tmp, Paths.get(path, seg), StandardCopyOption.ATOMIC_MOVE)
        // tombstone what this compaction rolled (atomic publish via move).
        // The publish time is stamped from the catalog clock() into the
        // name (`_tombstones-<clockMs>-<nano>`): the age floor must compare
        // clock() against clock(), not against fs mtime — with an injected
        // non-realtime clock the mtime comparison would retain files
        // forever or reap them immediately.
        val t = Files.createTempFile(Paths.get(path), "_tomb-tmp", "")
        Files.writeString(t, rolled.map { case ((_, n), _) => s"$path/$n" }.mkString("\n"))
        Files.move(t, Paths.get(path, s"_tombstones-${clock()}-${System.nanoTime}"),
          StandardCopyOption.ATOMIC_MOVE)
        live --= rolled.map(_._1)
        live((st, seg)) = rows
      }
    }
  }

  private def append[R](store: Store[R], rows: Seq[R]): Unit = {
    writeLock.synchronized(store.append(rows))
    // K3 at scale: one tiny file per status transition means a
    // million-run catalog lists a million files on every API read —
    // roll appends into a parquet segment once enough pile up
    if (store.appends.incrementAndGet() >= compactThreshold) {
      store.appends.set(0)
      compactStore(store)
    }
  }

  /** Roll every NDJSON append (and any previous segment) into one new
    * parquet segment. Runs inline under the write lock (an occasional
    * sub-second pause, amortized over `compactThreshold` microsecond
    * appends).
    *
    * Deletion is DEFERRED one compaction generation: rolled files are
    * tombstoned (excluded from new listings) but left on disk, and only
    * files tombstoned by a *previous* compaction are physically
    * deleted. A reader in another JVM that listed files just before
    * this compaction therefore can still open them for a whole further
    * cycle (~`compactThreshold` appends) — no FileNotFoundException
    * mid-read. Crash-safe ordering: the segment is fully written before
    * the tombstone; a crash in between leaves duplicate rows, which the
    * read-side latest-per-key resolution collapses for runs/steps.
    */
  private def compactStore(store: Store[_]): Unit =
    writeLock.synchronized {
      // reap the previous generation first: anything already tombstoned
      // was excluded from every listing since that tombstone published,
      // so only reads that listed before the PREVIOUS compaction could
      // still reference it — they've had a full cycle to drain. The
      // age floor additionally keeps a tombstone's files on disk for
      // `tombstoneAgeFloorMs` after it published — one generation is
      // plenty for this driver's sub-millisecond reads, but external
      // readers (another JVM working from a listing) drain on wall-clock
      // time, not compaction cadence; size the floor to their slowest
      // read
      Option(new File(store.path).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.startsWith("_tombstones-") &&
          (tombstoneAgeFloorMs <= 0L ||
            clock() - tombstonePublishedMs(f) >= tombstoneAgeFloorMs))
        .foreach { tf =>
          readLines(tf).foreach(p => graft.util.Fs.deleteRecursively(p))
          Files.deleteIfExists(tf.toPath)
        }
      store.compact()
    }

  /** Publish time of a tombstone file in the catalog clock()'s frame:
    * the first stamp of `_tombstones-<clockMs>-<nano>`; legacy
    * single-stamp names fall back to fs mtime (wall-clock).
    */
  private def tombstonePublishedMs(f: File): Long = {
    val stamps = f.getName.stripPrefix("_tombstones-").split("-")
    if (stamps.length >= 2) scala.util.Try(stamps(0).toLong).getOrElse(f.lastModified())
    else f.lastModified()
  }

  /** Force a compaction pass over all three stores (maintenance hook;
    * normally triggered automatically every `compactThreshold` appends).
    */
  def compact(): Unit = stores.foreach(s => compactStore(s))

  /** Create run header (Running) + one Pending step row per step
    * (reference `orchestrator/index.js:32-51`).
    */
  def startRun(pipelineName: String): String =
    startRunWithSteps(pipelineName, stepNames)

  /** [[startRun]] with caller-named steps — the contract extension
    * that lets a streaming ingest record its funnel stages (quality,
    * dedup, …) through the SAME run/step tables the batch pipeline
    * uses, so `GET /runs/:id` shows one observability surface for
    * both (see [[recordFunnel]]).
    */
  def startRunWithSteps(pipelineName: String, steps: Seq[String]): String = {
    require(steps.nonEmpty, "a run needs at least one step")
    val runId = UUID.randomUUID().toString
    append(runsStore, Seq(PipelineRun(runId, nextRunNumber(), pipelineName, "Running", now(), None)))
    append(stepsStore, steps.zipWithIndex.map { case (name, i) =>
      StepRun(runId, i + 1, name, "Pending", 0L, None, None, None)
    })
    runId
  }

  /** Status transition for a step (Pending→Running→Success/Failed).
    * Parquet has no in-place update: transitions append a new row and
    * readers take the latest per (run_id, step_number) — the same
    * read-side resolution a log-structured store does.
    */
  def updateStep(runId: String, stepNumber: Int, status: String,
                 rowsAffected: Long = 0L, error: Option[String] = None): Unit =
    updateStepNamed(runId, stepNumber, stepNames(stepNumber - 1), status,
      rowsAffected, error)

  /** [[updateStep]] for a caller-named step (runs started via
    * [[startRunWithSteps]] — the transition row must carry the same
    * step_name the Pending row declared).
    */
  def updateStepNamed(runId: String, stepNumber: Int, stepName: String,
                      status: String, rowsAffected: Long = 0L,
                      error: Option[String] = None): Unit = {
    val ts = Some(now())
    append(stepsStore, Seq(StepRun(runId, stepNumber, stepName, status, rowsAffected,
      error, if (status == "Running") ts else None,
      if (status == "Success" || status == "Failed" || status == "Cancelled") ts else None)))
  }

  def finishRun(runId: String, status: String): Unit =
    append(runsStore, Seq(PipelineRun(runId, -1L, "", status, now(), Some(now()))))

  /** Record a streaming gate's disposition ledger as one finished run
    * whose steps are the funnel `stages` in pipeline order, with
    * `rows_affected` = the ledger rows at that stage (drops per gate,
    * survivors at 'admitted'), so `GET /runs/:id` serves an ingest
    * funnel next to batch step rows with no new contract. Each call
    * aggregates the (compaction-folded, replay-idempotent) ledger once
    * and records one snapshot of cumulative counts — call it at a
    * reporting cadence, not per batch. The collect is |stages| rows,
    * never row-grain. Returns the run id.
    */
  def recordFunnel(pipelineName: String, stages: Seq[String], ledger: DataFrame): String = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val counts = ledger.groupBy(col("stage")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val runId = startRunWithSteps(pipelineName, stages)
    stages.zipWithIndex.foreach { case (st, i) =>
      updateStepNamed(runId, i + 1, st, "Success", counts.getOrElse(st, 0L))
    }
    finishRun(runId, "Success")
    runId
  }

  def log(runId: String, level: String, stepNumber: Int, message: String,
          details: Option[String] = None): Unit =
    append(logsStore, Seq(LogEntry(runId, now(), level, stepNumber, message, details)))

  // ---- query surface (§2.8) -------------------------------------------

  /** Every run: its header (the row with `run_number > 0`, once per
    * run_id — a crash between segment write and tombstone can leave the
    * same header in both a segment and an append) with the latest status
    * and finished_at of all its rows; the finish marker (run_number = -1)
    * carries the final status.
    */
  def runRows(): Seq[PipelineRun] = resolveRuns(runsStore.rows())

  /** One run by id, wherever it falls in the newest-first order. */
  def findRun(runId: String): Option[PipelineRun] =
    resolveRuns(runsStore.rows().filter(_.run_id == runId)).headOption

  private def resolveRuns(raw: Vector[PipelineRun]): Seq[PipelineRun] = {
    val finals = raw.groupBy(_.run_id).view.mapValues(rs => latest(rs)(_.status, _.finished_at)).toMap
    raw.filter(_.run_number > 0).distinctBy(_.run_id).map { h =>
      val f = finals(h.run_id)
      h.copy(status = f.status, finished_at = f.finished_at)
    }
  }

  /** A run's steps by step_number, each at its latest state. A finished
    * step keeps the started_at of its Running transition.
    */
  def stepRows(runId: String): Seq[StepRun] =
    resolveSteps(stepsStore.rows().filter(_.run_id == runId)).sortBy(_.step_number) // O3

  private def resolveSteps(raw: Vector[StepRun]): Seq[StepRun] =
    raw.groupBy(s => (s.run_id, s.step_number)).values.map { rs =>
      val s = latest(rs)(_.status, _.finished_at)
      s.copy(started_at = s.started_at.orElse(rs.findLast(_.status == "Running").flatMap(_.started_at)))
    }.toSeq

  /** GET /runs — conjunctive equality filters + top-100 newest (O1);
    * runs started in the same millisecond order by run_number, newest first. */
  def listRunRows(pipelineName: Option[String] = None, status: Option[String] = None): Seq[PipelineRun] =
    runRows().filter(r => pipelineName.forall(_ == r.pipeline_name) && status.forall(_ == r.status))
      .sortBy(r => (Option(r.started_at), r.run_number))(newestFirst).take(100)

  /** GET /logs — filters + capped top-N newest (O2: default 500, max
    * 2000); entries logged in the same millisecond order newest append first. */
  def listLogRows(runId: Option[String] = None, level: Option[String] = None,
                  limit: Int = 500): Seq[LogEntry] = {
    require(limit >= 0, s"limit must be >= 0, got $limit")
    logsStore.rows().zipWithIndex
      .filter { case (l, _) => runId.forall(_ == l.run_id) && level.forall(_ == l.level) }
      .sortBy { case (l, i) => (Option(l.log_at), i) }(newestFirst)
      .take(math.min(limit, 2000)).map(_._1)
  }

  /** Rows as JSON objects — the catalog's append lines and the API's
    * response rows. */
  def runJson(r: PipelineRun): String = Json.row(runsStore.toRow(r), runsSchema, zone)
  def stepJson(s: StepRun): String = Json.row(stepsStore.toRow(s), stepsSchema, zone)
  def logJson(l: LogEntry): String = Json.row(logsStore.toRow(l), logsSchema, zone)

  private def frame[R](store: Store[R], rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map(store.toRow).asJava, store.schema)

  def runs(): DataFrame = frame(runsStore, runRows())

  def steps(runId: String): DataFrame = frame(stepsStore, stepRows(runId))

  def listRuns(pipelineName: Option[String] = None, status: Option[String] = None): DataFrame =
    frame(runsStore, listRunRows(pipelineName, status))

  def listLogs(runId: Option[String] = None, level: Option[String] = None,
               limit: Int = 500): DataFrame =
    frame(logsStore, listLogRows(runId, level, limit))

  /** Run detail = header ⊕ steps[] (J2 parent-child assembly). */
  def runDetail(runId: String): DataFrame = {
    val steps = stepRows(runId).map(s => Row(s.step_number, s.step_name, s.status, s.rows_affected))
    val rows = findRun(runId).toSeq.map(r =>
      Row.fromSeq(runsStore.toRow(r).toSeq :+ (if (steps.isEmpty) null else steps)))
    spark.createDataFrame(rows.asJava, runsSchema.add("steps", ArrayType(detailStepSchema, containsNull = false)))
  }

  /** A4 status rollup across steps + C5 timeout sweep predicate. */
  def runStatusRollup(): DataFrame = {
    val rows = resolveSteps(stepsStore.rows()).groupBy(_.run_id).map { case (id, ss) =>
      val st = ss.map(_.status).toSet
      Row(id, ss.flatMap(_.started_at).minOption.orNull, ss.flatMap(_.finished_at).maxOption.orNull,
        Seq("Failed", "Running", "Pending").find(st).getOrElse("Success"))
    }
    spark.createDataFrame(rows.toSeq.asJava, rollupSchema)
  }

  /** C5: mark runs Running for more than `hours` as timed out. Sweeps
    * the runs' non-terminal *steps* too — a driver that died mid-step
    * would otherwise leave a Running step forever under a swept run.
    */
  def sweepTimeouts(hours: Int = 6): Seq[String] = {
    val cutoff = new Timestamp(clock() - hours * 3600L * 1000L)
    val stale = runRows().filter(r => r.status == "Running" && r.started_at != null &&
      r.started_at.before(cutoff)).map(_.run_id)
    stale.foreach { id =>
      finishRun(id, s"Failed-TimeOut-${hours}Hours")
      stepRows(id).filter(s => s.status == "Pending" || s.status == "Running")
        .foreach(s => updateStep(id, s.step_number, "Failed",
          error = Some(s"Swept: run timed out after ${hours}h")))
    }
    stale
  }
}

object RunCatalog {
  private val runsSchema = StructType.fromDDL(
    "run_id STRING, run_number BIGINT, pipeline_name STRING, started_at TIMESTAMP, " +
      "status STRING, finished_at TIMESTAMP")
  private val stepsSchema = StructType.fromDDL(
    "run_id STRING, step_number INT, step_name STRING, status STRING, " +
      "rows_affected BIGINT, error_message STRING, started_at TIMESTAMP, finished_at TIMESTAMP")
  private val logsSchema = StructType.fromDDL(
    "run_id STRING, log_at TIMESTAMP, level STRING, step_number INT, message STRING, details STRING")
  private val detailStepSchema = StructType.fromDDL(
    "step_number INT, step_name STRING, status STRING, rows_affected BIGINT")
  private val rollupSchema = StructType.fromDDL(
    "run_id STRING, started TIMESTAMP, finished TIMESTAMP, rollup_status STRING")

  private val mapper = new ObjectMapper()
  private val JulianDayOfEpoch = 2440588L

  private def isAppend(name: String) = name.startsWith("append-") && name.endsWith(".json")
  private def isSegment(name: String) = name.startsWith("segment-")

  private val Stamp = """(?:append|segment)-(-?\d+).*""".r

  /** The nanoTime a file name carries: orders files by publish time. */
  private def stamp(name: String): Long = name match {
    case Stamp(n) => n.toLong
    case _ => 0L
  }

  private def readLines(f: File): Seq[String] =
    scala.util.Try(Files.readAllLines(f.toPath).asScala.toSeq).getOrElse(Seq.empty).filter(_.nonEmpty)

  private implicit val timestampOrdering: Ordering[Timestamp] = (a, b) => a.compareTo(b)

  /** Newest first, nulls last (Spark's `desc` order). */
  private def newestFirst[K: Ordering]: Ordering[(Option[Timestamp], K)] =
    Ordering.Tuple2(Ordering[Option[Timestamp]], Ordering[K]).reverse

  /** Lifecycle rank — the append-log's latest state per key is the
    * furthest-progressed status (Pending < Running < terminal).
    */
  private def statusRank(status: String): Int = status match {
    case "Pending" => 0
    case "Running" => 1
    case _ => 2
  }

  /** The latest state of one key among its rows (in append order):
    * statusRank first (lifecycle progress), then finished_at (nulls
    * last) so two terminal appends for one key (e.g. Failed racing
    * Cancelled) resolve by append time, then status, then the newest
    * append as the final total-order key.
    */
  private def latest[R](rows: Seq[R])(status: R => String, finished: R => Option[Timestamp]): R =
    rows.zipWithIndex.maxBy { case (r, i) => (statusRank(status(r)), finished(r), status(r), i) }._1

  private def jsonRow(line: String, schema: StructType): Row = {
    val node = mapper.readTree(line)
    Row.fromSeq(schema.fields.toSeq.map { f =>
      val v = node.get(f.name)
      if (v == null || v.isNull) null
      else f.dataType match {
        case StringType => v.asText
        case LongType => v.asLong
        case IntegerType => v.asInt
        case TimestampType => Timestamp.from(OffsetDateTime.parse(v.asText).toInstant)
      }
    })
  }

  /** A segment's rows, read with parquet's own reader on the driver. */
  private def readSegment(seg: File, schema: StructType): Vector[Row] = {
    val parts = Option(seg.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).sortBy(_.getName)
    parts.toVector.flatMap { p =>
      val reader = ParquetReader.builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(p.toURI)).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(groupRow(_, schema)).toVector
      finally reader.close()
    }
  }

  private def groupRow(g: Group, schema: StructType): Row = {
    val t = g.getType
    Row.fromSeq(schema.fields.toSeq.map { f =>
      if (!t.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case StringType => g.getString(f.name, 0)
        case LongType => g.getLong(f.name, 0)
        case IntegerType => g.getInteger(f.name, 0)
        case TimestampType =>
          val pt = t.getType(f.name).asPrimitiveType
          val nanos =
            if (pt.getPrimitiveTypeName == PrimitiveTypeName.INT96) {
              val nt = NanoTime.fromBinary(g.getInt96(f.name, 0))
              (nt.getJulianDay - JulianDayOfEpoch) * 86400L * 1000000000L + nt.getTimeOfDayNanos
            } else {
              val v = g.getLong(f.name, 0)
              pt.getLogicalTypeAnnotation.asInstanceOf[TimestampLogicalTypeAnnotation].getUnit match {
                case TimeUnit.MILLIS => v * 1000000L
                case TimeUnit.MICROS => v * 1000L
                case TimeUnit.NANOS => v
              }
            }
          Timestamp.from(Instant.EPOCH.plusNanos(nanos))
      }
    })
  }
}
