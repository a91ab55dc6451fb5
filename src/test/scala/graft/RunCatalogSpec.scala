package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.RunCatalog
import graft.model.{LogEntry, PipelineRun, StepRun}
import graft.runner.PipelineRunner
import graft.util.Json

/** The catalog's driver-side reader against the Spark-plan resolution it
  * replaced, the atomic append publish, and the shared JSON writer.
  */
class RunCatalogSpec extends SparkSpec {
  import spark.implicits._

  /** The catalog's former read side, kept as the reference: every live
    * append file and segment read through Spark, then the
    * latest-per-key window and the headers ⊕ finals join.
    */
  private class Reference(dir: String) {
    private val runsSchema = StructType.fromDDL(
      "run_id STRING, run_number BIGINT, pipeline_name STRING, status STRING, " +
        "started_at TIMESTAMP, finished_at TIMESTAMP")
    private val stepsSchema = StructType.fromDDL(
      "run_id STRING, step_number INT, step_name STRING, status STRING, " +
        "rows_affected BIGINT, error_message STRING, started_at TIMESTAMP, finished_at TIMESTAMP")
    private val logsSchema = StructType.fromDDL(
      "run_id STRING, log_at TIMESTAMP, level STRING, step_number INT, message STRING, details STRING")

    private def listStore(path: String): (Seq[String], Seq[String]) = {
      val fs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      val dead = fs.filter(f => f.isFile && f.getName.startsWith("_tombstones-"))
        .flatMap(f => Files.readAllLines(f.toPath).asScala).filter(_.nonEmpty).toSet
      (fs.filter(f => f.isFile && f.getName.endsWith(".json") && !dead(f.getPath)).map(_.getPath).toSeq,
        fs.filter(f => f.isDirectory && f.getName.startsWith("segment-") && !dead(f.getPath)).map(_.getPath).toSeq)
    }

    private def readStore(path: String, schema: StructType): DataFrame = {
      val (json, segs) = listStore(path)
      val parts = Seq(
        if (json.nonEmpty) Some(spark.read.schema(schema)
          .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX")
          .json(json: _*)) else None,
        if (segs.nonEmpty) Some(spark.read.schema(schema).parquet(segs: _*)) else None).flatten
      parts.reduceOption(_ unionByName _).getOrElse(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
    }

    private def statusRank = when(col("status") === "Pending", 0)
      .when(col("status") === "Running", 1).otherwise(2)

    private def latestPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(statusRank.desc, col("finished_at").desc_nulls_last, col("status").desc)
      df.withColumn("_rn", row_number().over(w)).filter($"_rn" === 1).drop("_rn")
    }

    def runs(): Seq[PipelineRun] = {
      val raw = readStore(s"$dir/pipeline_runs", runsSchema)
      val headers = raw.filter($"run_number" > 0)
        .select($"run_id", $"run_number", $"pipeline_name", $"started_at")
        .dropDuplicates("run_id")
      val finals = latestPerKey(raw, Seq("run_id")).select($"run_id", $"status", $"finished_at")
      headers.join(finals, Seq("run_id"), "left").collect().toSeq.map(r =>
        PipelineRun(r.getString(0), r.getLong(1), r.getString(2), r.getString(4),
          r.getTimestamp(3), Option(r.getTimestamp(5))))
    }

    def steps(): Seq[StepRun] =
      latestPerKey(readStore(s"$dir/step_runs", stepsSchema), Seq("run_id", "step_number"))
        .collect().toSeq.map(r => StepRun(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
          r.getLong(4), Option(r.getString(5)), Option(r.getTimestamp(6)), Option(r.getTimestamp(7))))

    def logs(): Seq[LogEntry] =
      readStore(s"$dir/pipeline_logs", logsSchema).collect().toSeq.map(r =>
        LogEntry(r.getString(0), r.getTimestamp(1), r.getString(2), r.getInt(3), r.getString(4),
          Option(r.getString(5))))
  }

  private val ts = Ordering.fromLessThan[Timestamp](_.before(_))

  /** Checks every read of `cat` against the reference over its dir.
    * `ran` holds the (run_id, step_number) keys that had a Running append. */
  private def assertMatchesReference(cat: RunCatalog, ref: Reference, ran: Set[(String, Int)]): Unit = {
    val runs = cat.runRows()
    val refRuns = ref.runs()
    assert(runs.size == refRuns.size && runs.toSet == refRuns.toSet)
    // newest first, ties on started_at broken by run_number descending
    val newest = refRuns.sortBy(r => (r.started_at, r.run_number))(Ordering.Tuple2(ts, Ordering.Long).reverse)
    assert(cat.listRunRows() == newest.take(100))
    assert(cat.listRunRows(status = Some("Failed")) == newest.filter(_.status == "Failed").take(100))
    refRuns.foreach(r => assert(cat.findRun(r.run_id).contains(r)))

    val refSteps = ref.steps().groupBy(_.run_id)
    refRuns.foreach { r =>
      val got = cat.stepRows(r.run_id)
      val want = refSteps.getOrElse(r.run_id, Nil).sortBy(_.step_number)
      // identical but for started_at, which a finished step now keeps
      assert(got.map(_.copy(started_at = None)) == want.map(_.copy(started_at = None)))
      got.zip(want).foreach { case (g, w) =>
        if (w.started_at.isDefined) assert(g.started_at == w.started_at)
        else assert(g.started_at.isDefined == (g.finished_at.isDefined && ran((g.run_id, g.step_number))), g)
        g.started_at.zip(g.finished_at).foreach { case (a, b) => assert(!a.after(b), g) }
      }
    }

    val logs = cat.listLogRows(limit = 2000)
    val refLogs = ref.logs()
    assert(refLogs.size < 2000)
    assert(logs.sortBy(_.toString) == refLogs.sortBy(_.toString))
    // newest first; entries of one millisecond newest append first (each
    // message ends in its append sequence number)
    def seq(l: LogEntry) = l.message.split('#').last.toInt
    assert(logs.sliding(2).forall {
      case Seq(a, b) => a.log_at.after(b.log_at) || (a.log_at == b.log_at && seq(a) > seq(b))
      case _ => true
    })
    val one = refRuns.head.run_id
    assert(cat.listLogRows(runId = Some(one), level = Some("Warning")).sortBy(_.toString) ==
      refLogs.filter(l => l.run_id == one && l.level == "Warning").sortBy(_.toString))

    // the DataFrame wrappers carry the same rows, and the catalog's JSON
    // equals Spark's for them
    assert(cat.listRuns().toJSON.collect().toSeq == cat.listRunRows().map(cat.runJson))
    assert(cat.steps(one).toJSON.collect().toSeq == cat.stepRows(one).map(cat.stepJson))
    assert(cat.listLogs(limit = 2000).toJSON.collect().toSeq == logs.map(cat.logJson))
  }

  test("driver-side reads equal the Spark-plan resolution on a random append log") {
    val dir = Files.createTempDirectory("graft_catalog_ref").toString + "/catalog"
    val rng = new scala.util.Random(20240617L)
    var nowMs = 1700000000000L
    // the clock often stands still, so sort and resolution ties occur
    val cat = new RunCatalog(spark, dir, clock = () => nowMs, compactThreshold = 150)
    val ref = new Reference(dir)
    def tick(): Unit = nowMs += rng.nextInt(3)
    val ran = scala.collection.mutable.Set[(String, Int)]()
    // run id → next step to advance (5 = all steps done)
    val active = scala.collection.mutable.LinkedHashMap[String, Int]()
    var started = 0
    var dupHeader: Option[(String, String)] = None // (run id, header line)
    var logged = 0
    def log(id: String, level: String, step: Int, msg: String, details: Option[String] = None): Unit = {
      logged += 1
      cat.log(id, level, step, s"$msg #$logged", details)
    }
    def event(): Unit = {
      tick()
      if (active.isEmpty && started == 200) ()
      else if (started < 200 && (active.size < 4 || rng.nextInt(6) == 0)) {
        val id = cat.startRun(s"p${rng.nextInt(3)}")
        started += 1
        active(id) = 1
        if (started == 3) dupHeader = Some(id -> Files.list(Paths.get(dir, "pipeline_runs")).iterator.asScala
          .filter(_.getFileName.toString.startsWith("append-")).map(p => Files.readString(p)).find(s => s.contains(id) && !s.contains("\"run_number\":-1")).get)
      } else {
        val (id, step) = active.toSeq(rng.nextInt(active.size))
        if (step > 4) {
          cat.finishRun(id, Seq("Success", "Success", "Failed")(rng.nextInt(3)))
          if (rng.nextInt(5) == 0) { tick(); cat.finishRun(id, "Cancelled") }
          active -= id
        } else if (!ran((id, step)) && rng.nextInt(4) != 0) {
          cat.updateStep(id, step, "Running")
          ran += id -> step
          log(id, "Info", step, s"step $step started")
        } else rng.nextInt(8) match {
          case 0 =>
            // racing terminal appends: Failed, then Cancelled in the same
            // or a later millisecond
            cat.updateStep(id, step, "Failed", 0L, Some(s"boom \"$step\"\n"))
            tick()
            cat.updateStep(id, step, "Cancelled")
            log(id, "Warning", step, "cancelled", Some("after failure"))
            active(id) = 5
          case _ =>
            cat.updateStep(id, step, "Success", rng.nextInt(1000).toLong)
            if (rng.nextBoolean()) log(id, if (rng.nextBoolean()) "Info" else "Warning", step, "done")
            active(id) = step + 1
        }
      }
    }

    (1 to 500).foreach(_ => event())
    assertMatchesReference(cat, ref, ran.toSet)
    cat.compact()
    // a crash between segment write and tombstone leaves a header in
    // both a segment and an append
    val (dupId, header) = dupHeader.get
    Files.writeString(Paths.get(dir, "pipeline_runs", s"append-${System.nanoTime}-dupheadr.json"), header)
    assertMatchesReference(cat, ref, ran.toSet)
    (1 to 700).foreach(_ => event())
    assert(cat.runRows().count(_.run_id == dupId) == 1)
    assertMatchesReference(cat, ref, ran.toSet)
    // a fresh catalog on the same dir loads the segments from disk
    assertMatchesReference(new RunCatalog(spark, dir), ref, ran.toSet)
  }

  test("appends publish atomically; a second catalog on the same dir sees them on its next read") {
    val dir = Files.createTempDirectory("graft_catalog_two").toString + "/catalog"
    val a = new RunCatalog(spark, dir)
    val b = new RunCatalog(spark, dir)
    assert(b.runRows().isEmpty)
    val id = a.startRun("p")
    // a half-written temp file (a writer that died before its rename)
    // is never read, nor rolled by a compaction
    val stray = Paths.get(dir, "pipeline_runs", "_tmp-0f8b6a1e")
    Files.writeString(stray, """{"run_id":"ghost","run_number":99,"pipeline_name":"p""")
    assert(b.runRows().map(_.run_id) == Seq(id))
    a.updateStep(id, 1, "Running")
    a.finishRun(id, "Success")
    assert(b.findRun(id).map(_.status).contains("Success"))
    assert(b.stepRows(id).head.status == "Running")
    // b rolls a's appends into a segment (here with INT64 timestamps,
    // where compactions under the default conf write INT96); a reads it
    // from disk and sees the same rows
    val before = (a.runRows(), a.stepRows(id))
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try b.compact() finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    assert((a.runRows(), a.stepRows(id)) == before)
    assert(Files.exists(stray))
    a.log(id, "Info", 1, "after compaction")
    assert(a.runRows().map(r => r.run_id -> r.status) == Seq(id -> "Success"))
    assert(a.listLogRows().map(_.message) == Seq("after compaction"))
    // the writers leave no temp file of their own behind
    Seq("pipeline_runs", "step_runs", "pipeline_logs").foreach { s =>
      assert(Files.list(Paths.get(dir, s)).iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_tmp-")).toSeq == (if (s == "pipeline_runs") Seq("_tmp-0f8b6a1e") else Nil))
    }
  }

  test("finished steps keep the started_at of their Running transition") {
    val work = Files.createTempDirectory("graft_catalog_started").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    val csv = Paths.get(work, "orders.csv")
    Files.writeString(csv, "OrderId,CustomerId,Amount,OrderDate\nS-1,C1,10,2024-01-01\nS-2,C2,300,2024-01-02\n")
    val res = new PipelineRunner(spark, cat, work).run(csv.toString)
    assert(res.status == "Success")
    val steps = cat.stepRows(res.runId)
    assert(steps.size == 4 && steps.forall(_.status == "Success"))
    steps.foreach { s =>
      assert(s.started_at.isDefined && s.finished_at.isDefined, s)
      assert(!s.started_at.get.after(s.finished_at.get), s)
    }
  }

  test("the JSON writer renders rows as Dataset.toJSON does, in any session time zone") {
    val schema = StructType.fromDDL("s STRING, i INT, l BIGINT, t TIMESTAMP, n STRING")
    val nanos = Timestamp.valueOf("2024-02-29 23:59:59.123456789")
    val rows = Seq(
      Row("plain", 1, 2L, Timestamp.valueOf("2024-01-01 00:00:00"), null),
      Row("q\"b\\s/\n\r\t\b\f\u0001\u001f\u007f é   😀", -7, Long.MinValue, nanos, "x"),
      Row(null, null, null, new Timestamp(-1500L), ""))
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try Seq("UTC", "America/Los_Angeles", "Asia/Kolkata").foreach { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      val want = spark.createDataFrame(rows.asJava, schema).toJSON.collect().toSeq
      assert(rows.map(Json.row(_, schema, java.time.ZoneId.of(tz))) == want, tz)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }
}
