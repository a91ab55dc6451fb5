package graft

import java.nio.file.Files
import java.time.LocalDateTime

import graft.catalog.RunCatalog
import graft.runner.{PipelineRunner, ProgressListener}
import graft.scheduler.{Schedule, ScheduleRunner}

class SchedulerProgressSpec extends SparkSpec {
  import spark.implicits._

  test("schedule runner: CRUD, due scan fires and advances, disabled skipped") {
    val dir = Files.createTempDirectory("graft_sched").toString
    var clock = LocalDateTime.of(2026, 3, 10, 8, 59)
    val fired = scala.collection.mutable.ListBuffer[String]()
    val sr = new ScheduleRunner(dir, s => fired += s.name, () => clock)

    val daily = sr.create("daily-9", "daily", "09:00", sourcePath = "/tmp/a.csv")
    sr.create("weekly-sun", "weekly", "09:00", dayOfWeek = 0, sourcePath = "/tmp/b.csv")
    val off = sr.create("disabled", "daily", "09:00", sourcePath = "/tmp/c.csv")
    sr.setEnabled(off.scheduleId, enabled = false)
    assert(sr.list().size == 3)
    assert(daily.nextRunAt.contains(LocalDateTime.of(2026, 3, 10, 9, 0)))

    assert(sr.tick().isEmpty)            // 08:59 — nothing due
    clock = LocalDateTime.of(2026, 3, 10, 9, 1)
    val due = sr.tick()                  // 09:01 — only the enabled daily
    assert(due.map(_.name) == Seq("daily-9") && fired.toList == List("daily-9"))
    assert(due.head.nextRunAt.contains(LocalDateTime.of(2026, 3, 11, 9, 0)))
    assert(sr.tick().isEmpty)            // advanced — not due again

    sr.delete(daily.scheduleId)
    assert(sr.list().size == 2)

    // every 60 s tick and every GET /schedules lists the store: the
    // listing must not hold its directory descriptor open
    def openFds() = {
      val ls = Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try ls.count() finally ls.close()
    }
    val before = openFds()
    (1 to 200).foreach(_ => sr.list())
    assert(openFds() - before < 20, "list() leaks its directory listing")
  }

  test("schedule firing triggers a pipeline run end-to-end") {
    val work = Files.createTempDirectory("graft_sched_e2e").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, cat, work)
    val csv = Files.createTempDirectory("fix").resolve("s.csv")
    Files.writeString(csv, "OrderId,CustomerId,Amount,OrderDate\nS-1,C1,10,2024-01-01\n")

    var clock = LocalDateTime.of(2026, 3, 10, 8, 59)
    val results = scala.collection.mutable.ListBuffer[String]()
    val sr = new ScheduleRunner(s"$work/schedules",
      s => results += runner.run(s.sourcePath, s.name).status, () => clock)
    sr.create("nightly", "daily", "09:00", sourcePath = csv.toString)
    clock = LocalDateTime.of(2026, 3, 10, 9, 1)
    assert(sr.tick().size == 1)
    assert(results.toList == List("Success"))
    assert(cat.listRuns(pipelineName = Some("nightly")).count() == 1)
  }

  test("progress listener accumulates task metrics per run and logs the cadence") {
    val work = Files.createTempDirectory("graft_prog").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    val listener = new ProgressListener(cat)
    spark.sparkContext.addSparkListener(listener)
    try {
      val runner = new PipelineRunner(spark, cat, work)
      val csv = Files.createTempDirectory("fix").resolve("p.csv")
      val rows = (1 to 2000).map(i => s"P-$i,C$i,${i % 300},2024-01-01").mkString("\n")
      Files.writeString(csv, s"OrderId,CustomerId,Amount,OrderDate\n$rows\n")
      val res = runner.run(csv.toString)
      assert(res.status == "Success")
      // listener saw this run's tasks… (listener bus is async; poll)
      val deadline = System.currentTimeMillis() + 30000
      while (listener.recordsProcessed(res.runId) == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(listener.recordsProcessed(res.runId) > 0)
      // …and flushed at least the early progress log
      assert(cat.listLogs(runId = Some(res.runId)).filter($"message" === "progress").count() >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
