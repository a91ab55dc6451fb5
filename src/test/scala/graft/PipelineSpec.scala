package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.RunCatalog
import graft.merge.MergeWriter
import graft.model.Schemas
import graft.runner.PipelineRunner
import graft.sources.Ingest
import graft.util.SparkMeter

/** Golden end-to-end runs over the reference fixture shapes
  * (FIXTURES.md §1-§3): CSV/JSON, messy headers, bad data, upsert
  * rerun idempotence, catalog statuses.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, RunCatalog, PipelineRunner) = {
    val work = Files.createTempDirectory("graft_pipe").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    (work, cat, new PipelineRunner(spark, cat, work))
  }

  private def writeFixture(name: String, content: String): String = {
    val f = Files.createTempDirectory("graft_fix").resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  val sampleCsv: String =
    """OrderId,CustomerId,Amount,OrderDate
      |ORD-001,C101,99.50,2025-01-15
      |ORD-002,C102,25.00,2025-01-16
      |ORD-003,C103,350.00,2025-01-17
      |ORD-004,,49.99,2025-01-18
      |ORD-005,C105,200.00,2025-01-19
      |""".stripMargin

  test("gzip-compressed CSV ingests transparently (Spark codec discovery by extension)") {
    val (_, _, runner) = freshDirs()
    val f = Files.createTempDirectory("graft_gz").resolve("orders.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write(sampleCsv.getBytes("UTF-8")); out.close()
    val res = runner.run(f.toString)
    assert(res.status == "Success")
    assert(MergeWriter.readTarget(spark, runner.targetDir).get.count() == 5)
  }

  test("CSV run end-to-end: categories, UNKNOWN default, catalog Success") {
    val (work, cat, runner) = freshDirs()
    val res = runner.run(writeFixture("sample.csv", sampleCsv))
    assert(res.status == "Success")
    assert(res.rowsPerStep("Data Pull") == 5)
    assert(res.rowsPerStep("Extract") == 5)
    assert(res.rowsPerStep("Migrate") == 5)

    val target = MergeWriter.readTarget(spark, runner.targetDir).get
    val cats = target.select($"order_id", $"amount_category").as[(String, String)]
      .collect().toMap
    assert(cats == Map("ORD-001" -> "Medium", "ORD-002" -> "Low", "ORD-003" -> "High",
      "ORD-004" -> "Low", "ORD-005" -> "High")) // 200.00 is High (>= 200 edge)
    val unknown = target.filter($"order_id" === "ORD-004")
      .select($"customer_id").as[String].head()
    assert(unknown == "UNKNOWN")

    val steps = cat.steps(res.runId).select($"status").as[String].collect()
    assert(steps.forall(_ == "Success"))
  }

  test("case-insensitive headers and JSON source") {
    val (_, _, runner) = freshDirs()
    val messy = writeFixture("messy.csv",
      "orderid,CUSTOMERID,amount,orderDate\nORD-X,C1,10,2025-01-01\n")
    assert(runner.run(messy).status == "Success")

    val json = writeFixture("orders.json",
      """[{"OrderId":"ORD-J1","CustomerId":"C201","Amount":120.0,"OrderDate":"2025-02-01"},
        |{"OrderId":"ORD-J2","CustomerId":"C202","Amount":35.5,"OrderDate":"2025-02-02"}]""".stripMargin)
    val res = runner.run(json)
    assert(res.status == "Success")
    assert(res.rowsPerStep("Data Pull") == 2)
  }

  test("XML source ingests through the same 4-step pipeline (Spark 4 built-in XML reader)") {
    val (_, _, runner) = freshDirs()
    // attributes and child elements mix; header matching is the same
    // case-insensitive aliasing as CSV/JSON; an extra element is
    // dropped and a missing amount lands NULL → UNKNOWN category later
    val xml = writeFixture("orders.xml",
      """<?xml version="1.0"?>
        |<orders>
        |  <record><OrderId>ORD-X1</OrderId><customerid>C301</customerid>
        |    <Amount>75.25</Amount><orderDate>2025-03-01</orderDate>
        |    <ignored>zzz</ignored></record>
        |  <record><OrderId>ORD-X2</OrderId><customerid>C302</customerid>
        |    <Amount>19.99</Amount><orderDate>2025-03-02</orderDate></record>
        |</orders>""".stripMargin)
    val res = runner.run(xml)
    assert(res.status == "Success")
    assert(res.rowsPerStep("Data Pull") == 2)
    val target = MergeWriter.readTarget(spark, runner.targetDir).get
    val ids = target.select($"order_id").as[String].collect().toSet
    assert(ids == Set("ORD-X1", "ORD-X2"), ids.toString)
  }

  test("rerun same file is idempotent on the target (upsert, not append)") {
    val (_, _, runner) = freshDirs()
    val f = writeFixture("sample.csv", sampleCsv)
    assert(runner.run(f).status == "Success")
    val v1 = MergeWriter.readTarget(spark, runner.targetDir).get.count()
    assert(runner.run(f).status == "Success")
    val v2 = MergeWriter.readTarget(spark, runner.targetDir).get.count()
    assert(v1 == 5 && v2 == 5)
  }

  test("bad data: blank keys dropped, garbage amount/date rejected, negative amount rejected") {
    val (work, cat, runner) = freshDirs()
    val bad = writeFixture("bad.csv",
      """OrderId,CustomerId,Amount,OrderDate
        |ORD-001,C1,25.50,2024-01-02
        |ORD-002,C2,-1,2024-01-03
        |ORD-003,C3,150,2024-01-04
        |,C4,10,2024-01-05
        |ORD-005,C5,garbage,2024-01-06
        |ORD-006,C6,10,not-a-date
        |""".stripMargin)
    val res = runner.run(bad)
    assert(res.status == "Success")
    assert(res.rowsPerStep("Data Pull") == 6)
    assert(res.rowsPerStep("Extract") == 3)   // blank key dropped; 2 rejects
    assert(res.rowsPerStep("Transform") == 2) // negative amount rejected
    assert(res.rowsPerStep("Migrate") == 2)

    val rejects = spark.read.parquet(s"$work/rejected_orders")
    assert(rejects.count() == 3)
    val reasons = rejects.select($"reject_reason").as[String].collect().sorted
    assert(reasons.toSeq == Seq("negative_amount", "unparseable_amount", "unparseable_date"))
    // the rejects produced Warning logs
    assert(cat.listLogs(runId = Some(res.runId), level = Some("Warning")).count() == 2)
  }

  test("catalog queries: listRuns filters, status rollup, run detail") {
    val (_, cat, runner) = freshDirs()
    val res = runner.run(writeFixture("s.csv", sampleCsv))
    assert(cat.listRuns(status = Some("Success")).count() == 1)
    assert(cat.listRuns(status = Some("Failed")).count() == 0)
    val rollup = cat.runStatusRollup().filter($"run_id" === res.runId)
      .select($"rollup_status").as[String].head()
    assert(rollup == "Success")
    val detail = cat.runDetail(res.runId).select(size($"steps")).as[Int].head()
    assert(detail == 4)
  }

  test("timeout sweep marks stale Running runs failed (C5)") {
    val work = Files.createTempDirectory("graft_sweep").toString
    var nowMs = 1700000000000L
    val cat = new RunCatalog(spark, s"$work/catalog", () => nowMs)
    val stale = cat.startRun("stale-pipeline")   // Running at t0
    cat.updateStep(stale, 1, "Success", 5L)      // finished before the driver died
    cat.updateStep(stale, 2, "Running")          // mid-step when it died
    nowMs += 7L * 3600 * 1000                    // 7 hours later
    val fresh = cat.startRun("fresh-pipeline")   // Running at t0+7h
    val swept = cat.sweepTimeouts(hours = 6)
    assert(swept == Seq(stale))
    val statuses = cat.runs().select($"run_id", $"status").as[(String, String)].collect().toMap
    assert(statuses(stale) == "Failed-TimeOut-6Hours")
    assert(statuses(fresh) == "Running")
    // non-terminal steps are swept with their run; terminal ones kept
    val stepStatuses = cat.steps(stale).select($"step_number", $"status")
      .as[(Int, String)].collect().toMap
    assert(stepStatuses(1) == "Success")
    assert(stepStatuses(2) == "Failed" && stepStatuses(3) == "Failed" && stepStatuses(4) == "Failed")
    // fresh run's Pending steps untouched
    assert(cat.steps(fresh).filter($"status" === "Pending").count() == 4)
  }

  test("racing terminal step appends resolve deterministically (latest append time wins)") {
    val work = Files.createTempDirectory("graft_tie").toString
    var nowMs = 1700000000000L
    val cat = new RunCatalog(spark, s"$work/catalog", () => nowMs)
    val id = cat.startRun("tie")
    cat.updateStep(id, 1, "Failed", 0L, Some("step blew up"))
    nowMs += 1000 // a later Cancelled append for the SAME step
    cat.updateStep(id, 1, "Cancelled")
    val got = cat.steps(id).filter($"step_number" === 1)
      .select($"status").as[String].collect().toSeq
    assert(got == Seq("Cancelled")) // the later terminal append, every read
    // same answer after compaction reorders the physical files
    cat.compact()
    assert(cat.steps(id).filter($"step_number" === 1)
      .select($"status").as[String].head() == "Cancelled")
  }

  test("reads planned before a compaction still collect after it (deferred deletion)") {
    val work = Files.createTempDirectory("graft_snap").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    val ids = (1 to 30).map { i =>
      val id = cat.startRun(s"p$i"); cat.finishRun(id, "Success"); cat.log(id, "Info", 1, s"m$i"); id
    }
    // plan (and thereby list files for) three reads BEFORE compaction
    val plannedRuns = cat.runs()
    val plannedLogs = cat.listLogs(runId = Some(ids.head))
    cat.compact() // tombstones every append the plans listed
    // the planned DataFrames still execute against the on-disk snapshot
    assert(plannedRuns.count() == 30)
    assert(plannedLogs.count() == 1)
    // and fresh reads see the segment without duplicates
    assert(cat.runs().count() == 30)
    assert(cat.listLogs(limit = 2000).count() == 30)
  }

  test("tombstone age floor keeps rolled files on disk for external readers") {
    def ndjsonCount(work: String): Long = {
      val s = Files.walk(java.nio.file.Paths.get(work))
      try s.filter(p => p.getFileName.toString.endsWith(".json")).count()
      finally s.close()
    }
    // floor = 1h: two compactions never physically delete anything
    val work1 = Files.createTempDirectory("graft_floor").toString
    val floored = new RunCatalog(spark, s"$work1/catalog", tombstoneAgeFloorMs = 3600000L)
    (1 to 10).foreach { i => val id = floored.startRun(s"p$i"); floored.finishRun(id, "Success") }
    floored.compact()
    val afterFirst = ndjsonCount(work1)
    assert(afterFirst >= 10) // rolled but retained (tombstoned, not deleted)
    floored.compact()
    assert(ndjsonCount(work1) == afterFirst) // second pass respects the floor
    assert(floored.runs().count() == 10)     // and reads stay exact

    // floor = 0 (default): the second compaction reaps the first's files
    val work2 = Files.createTempDirectory("graft_nofloor").toString
    val eager = new RunCatalog(spark, s"$work2/catalog")
    (1 to 10).foreach { i => val id = eager.startRun(s"p$i"); eager.finishRun(id, "Success") }
    eager.compact()
    val id2 = eager.startRun("late"); eager.finishRun(id2, "Success")
    eager.compact()
    assert(ndjsonCount(work2) < afterFirst)
    assert(eager.runs().count() == 11)

    // the floor lives in the injected clock's frame, not fs mtime: a
    // non-realtime clock (epoch-near-zero here, far below any mtime)
    // must retain while young and reap once ONLY the clock has advanced
    // past the floor — no wall-clock sleep involved
    var tick = 1000L
    val work3 = Files.createTempDirectory("graft_simclock").toString
    val sim = new RunCatalog(spark, s"$work3/catalog", clock = () => tick,
      tombstoneAgeFloorMs = 60000L)
    (1 to 10).foreach { i => val id = sim.startRun(s"p$i"); sim.finishRun(id, "Success") }
    sim.compact()
    val simFirst = ndjsonCount(work3)
    assert(simFirst >= 10)
    sim.compact() // clock unchanged: still inside the floor, nothing reaped
    assert(ndjsonCount(work3) == simFirst)
    tick += 61000L
    sim.compact() // clock advanced past the floor: first generation reaped
    assert(ndjsonCount(work3) < simFirst)
    assert(sim.runs().count() == 10)
  }

  test("approx sketch aggregates stay within tolerance of exact counts") {
    val df = SparkEntry.queries("q_approx_distinct")(spark, sf("sf0.01"))
    val rows = df.select($"approx_orders", $"n").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    // HLL with default rsd 5%: sanity band, not exactness
    rows.foreach { case (approx, _) => assert(approx > 0) }
  }

  test("quoted CSV fields with embedded commas and single-object JSON are ingested") {
    val (_, _, runner) = freshDirs()
    val quoted = writeFixture("quoted.csv",
      "OrderId,CustomerId,Amount,OrderDate\n\"ORD-Q1\",\"C, with comma\",10,2024-01-01\n")
    val res = runner.run(quoted)
    assert(res.status == "Success" && res.rowsPerStep("Data Pull") == 1)
    val t1 = MergeWriter.readTarget(spark, runner.targetDir).get
    assert(t1.filter($"order_id" === "ORD-Q1").select($"customer_id").as[String].head() == "C, with comma")

    // single top-level object (not array) coerced to one record
    val single = writeFixture("one.json",
      """{"OrderId":"ORD-ONE","CustomerId":"C9","Amount":42.0,"OrderDate":"2024-03-03"}""")
    val r2 = runner.run(single)
    assert(r2.status == "Success" && r2.rowsPerStep("Data Pull") == 1)
  }

  test("cancel during a running stage records Cancelled, not Failed (C4)") {
    val (_, cat, runner) = freshDirs()
    // Big enough that the run is still in flight when cancel lands.
    val f = Files.createTempDirectory("graft_cancel").resolve("big.csv")
    val w = Files.newBufferedWriter(f)
    w.write("OrderId,CustomerId,Amount,OrderDate\n")
    (1 to 1500000).foreach(i => w.write(s"ORD-$i,C${i % 997},${i % 500}.25,2025-01-15\n"))
    w.close()

    import scala.concurrent.ExecutionContext.Implicits.global
    val (runId, fut) = runner.runAsync(f.toString)
    // Bias toward the mid-stage (exception) path: wait for step 1 to be
    // Running before cancelling. Either path must record Cancelled.
    val deadline = System.currentTimeMillis() + 15000
    while (System.currentTimeMillis() < deadline &&
      cat.steps(runId).filter($"status" === "Running").isEmpty) Thread.sleep(100)
    runner.cancel(runId)
    val res = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(120, "s"))
    assert(res.status == "Cancelled")
    val runStatus = cat.runs().filter($"run_id" === runId).select($"status").as[String].head()
    assert(runStatus == "Cancelled")
    val stepStatuses = cat.steps(runId).select($"status").as[String].collect().toSet
    assert(!stepStatuses.contains("Failed"))
  }

  test("two concurrent runs both succeed and both land in the target (C2 overlap)") {
    val (_, cat, runner) = freshDirs()
    def fixture(prefix: String): String = writeFixture(s"$prefix.csv",
      "OrderId,CustomerId,Amount,OrderDate\n" +
        (1 to 2000).map(i => s"$prefix-$i,C${i % 13},${i % 300}.75,2025-03-01").mkString("\n") + "\n")
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.{Await, duration}
    val (_, fut1) = runner.runAsync(fixture("A"))
    val (_, fut2) = runner.runAsync(fixture("B"))
    val r1 = Await.result(fut1, duration.Duration(180, "s"))
    val r2 = Await.result(fut2, duration.Duration(180, "s"))
    assert(r1.status == "Success", s"run A: ${r1.status}")
    assert(r2.status == "Success", s"run B: ${r2.status}")
    val target = MergeWriter.readTarget(spark, runner.targetDir).get
    assert(target.filter($"order_id".startsWith("A-")).count() == 2000)
    assert(target.filter($"order_id".startsWith("B-")).count() == 2000)
  }

  test("stage janitor removes old runs' slices, keeps recent ones and the target") {
    val (work, cat, runner) = freshDirs()
    val r1 = runner.run(writeFixture("j1.csv", sampleCsv))
    Thread.sleep(5) // distinct started_at ordering
    val r2 = runner.run(writeFixture("j2.csv",
      "OrderId,CustomerId,Amount,OrderDate\nJ-1,C1,10,2025-01-01\n"))
    assert(r1.status == "Success" && r2.status == "Success")
    def slice(stage: String, runId: String) =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$work/$stage/run_id=$runId"))
    assert(slice("landing_orders", r1.runId) && slice("landing_orders", r2.runId))

    val cleaned = graft.runner.StageJanitor.cleanStages(work, cat, keep = 1)
    assert(cleaned == Seq(r1.runId))
    assert(!slice("landing_orders", r1.runId) && !slice("staging_orders", r1.runId))
    assert(slice("landing_orders", r2.runId))
    // the durable target is untouched: all 6 keys still present
    assert(MergeWriter.readTarget(spark, runner.targetDir).get.count() == 6)
    // idempotent
    assert(graft.runner.StageJanitor.cleanStages(work, cat, keep = 1).isEmpty)
  }

  test("catalog auto-compaction bounds file count without changing query results") {
    val work = Files.createTempDirectory("graft_compact").toString
    val cat = new RunCatalog(spark, s"$work/catalog", compactThreshold = 100)
    // 200 runs ≈ 1000 append files across the three stores pre-compaction
    val runIds = (1 to 200).map { i =>
      val id = cat.startRun(s"p${i % 3}")
      cat.updateStep(id, 1, "Running")
      cat.updateStep(id, 1, "Success", 10L)
      cat.finishRun(id, if (i % 5 == 0) "Failed" else "Success")
      cat.log(id, "Info", 1, s"msg $i")
      id
    }
    cat.compact() // roll the sub-threshold remainder too
    cat.compact() // deletion is deferred one generation — reap it
    def fileCount(sub: String): Int =
      Option(new java.io.File(s"$work/catalog/$sub").listFiles()).map(_.length).getOrElse(0)
    for (store <- Seq("pipeline_runs", "step_runs", "pipeline_logs"))
      assert(fileCount(store) <= 3, s"$store not compacted: ${fileCount(store)} files")

    // query results identical to the logical append history
    assert(cat.runs().count() == 200)
    assert(cat.listRuns(status = Some("Failed")).count() == 40)
    val steps = cat.steps(runIds.head).select($"status").as[String].collect()
    assert(steps.head == "Success" && steps.length == 4)
    assert(cat.listLogs(runId = Some(runIds.last)).count() == 1)
    // appends after compaction still land and read back
    val late = cat.startRun("late")
    assert(cat.runs().count() == 201)
    assert(cat.steps(late).count() == 4)
  }

  test("extract accepts the configured date-format list") {
    import graft.ops.Extract
    val landing = Seq(
      ("D1", "C", "1", "2024-01-31"),
      ("D2", "C", "1", "2024/02/29"),
      ("D3", "C", "1", "03/15/2024"),
      ("D4", "C", "1", "31-01-2024")).toDF("order_id", "customer_id", "amount", "order_date")
      .withColumn("run_id", lit("r")).withColumn("source_type", lit("CSV"))
      .withColumn("raw_payload", lit("{}")).withColumn("loaded_at", current_timestamp())
    val out = Extract.extract(landing)
      .select($"order_id", $"order_date".cast("string"), $"reject_reason").collect()
      .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)))).toMap
    assert(out("D1") == (Some("2024-01-31"), None))
    assert(out("D2") == (Some("2024-02-29"), None))
    assert(out("D3") == (Some("2024-03-15"), None))
    assert(out("D4") == (None, Some("unparseable_date")))
  }

  /** (name, type) of each column, in order: nullability aside, what a
    * declared-schema read relies on. */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("jobs per step stay within their ceilings on a clean file") {
    val work = Files.createTempDirectory("graft_pipe").toString
    val stepKey = "graft.test.step"
    // tag each job with the step the runner thread is in: local
    // properties travel with every job that thread submits
    val cat = new RunCatalog(spark, s"$work/catalog") {
      override def updateStep(runId: String, stepNumber: Int, status: String,
                              rowsAffected: Long, error: Option[String]): Unit = {
        spark.sparkContext.setLocalProperty(stepKey,
          if (status == "Running") s"$runId/$stepNumber" else null)
        super.updateStep(runId, stepNumber, status, rowsAffected, error)
      }
    }
    val runner = new PipelineRunner(spark, cat, work)
    try {
      val ((first, second), window) = SparkMeter.measure(spark) {
        (runner.run(writeFixture("jobs1.csv", sampleCsv)),
          // the steady state: two updates and one insert into a non-empty target
          runner.run(writeFixture("jobs2.csv",
            """OrderId,CustomerId,Amount,OrderDate
              |ORD-001,C9,10.00,2025-02-01
              |ORD-003,C9,20.00,2025-02-02
              |ORD-009,C9,30.00,2025-02-03
              |""".stripMargin)))
      }
      assert(first.status == "Success" && second.status == "Success")
      for (r <- Seq(first, second)) {
        val n = (1 to 4).map(step => window.jobs.count(_.properties.get(stepKey).contains(s"${r.runId}/$step")))
        val Seq(pull, extract, transform, migrate) = n
        assert(pull == 2 && extract == 1 && transform == 1 && migrate <= 6,
          s"jobs per step (pull, extract, transform, migrate) = ${n.mkString(", ")}")
      }
    } finally spark.sparkContext.setLocalProperty(stepKey, null)
  }

  test("stage reads are run-scoped: other runs' slices change neither rows nor schema") {
    val (work, _, runner) = freshDirs()
    // earlier runs' slices in the same stage dirs: one with an extra
    // column, one with a different column set and a clashing type
    Seq(("X-1", "C1", "1.00", "2025-01-01", "extra")).toDF(
        "order_id", "customer_id", "amount", "order_date", "note")
      .withColumn("source_type", lit("CSV")).withColumn("raw_payload", lit("{}"))
      .withColumn("loaded_at", current_timestamp())
      .write.parquet(s"$work/landing_orders/run_id=old-1")
    Seq(("X-2", 7)).toDF("order_id", "amount").write.parquet(s"$work/landing_orders/run_id=old-2")
    Seq(("X-3", 7)).toDF("order_id", "amount").write.parquet(s"$work/staging_orders/run_id=old-2")

    val res = runner.run(writeFixture("scoped.csv", sampleCsv))
    assert(res.status == "Success", s"run: ${res.status}")
    val landing = Ingest.readStage(spark, s"$work/landing_orders", res.runId, Schemas.landing)
    assert(shape(landing.schema) == shape(Schemas.landing))
    assert(landing.select($"order_id").as[String].collect().sorted.toSeq ==
      Seq("ORD-001", "ORD-002", "ORD-003", "ORD-004", "ORD-005"))
    assert(landing.select($"run_id").distinct().as[String].collect().toSeq == Seq(res.runId))
    val target = MergeWriter.readTarget(spark, runner.targetDir).get
    assert(target.select($"order_id").as[String].collect().sorted.toSeq ==
      Seq("ORD-001", "ORD-002", "ORD-003", "ORD-004", "ORD-005"))
  }

  test("each step writes exactly its declared stage schema") {
    val (work, _, runner) = freshDirs()
    val res = runner.run(writeFixture("declared.csv", sampleCsv))
    assert(res.status == "Success")
    // readStage reads these slices with the declared schemas: a drift
    // in a step's output would read back as nulls, so it fails here
    for ((stage, declared) <- Seq("landing_orders" -> Schemas.landing,
        "staging_orders" -> Schemas.staging, "staging_orders_transformed" -> Schemas.transformed)) {
      val written = spark.read.parquet(s"$work/$stage/run_id=${res.runId}").schema
      assert(shape(written) == shape(declared).filterNot(_._1 == "run_id"), s"$stage: ${written.simpleString}")
    }
    assert(shape(MergeWriter.readTarget(spark, runner.targetDir).get.schema) == shape(Schemas.target))
  }
}
