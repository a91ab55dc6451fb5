package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.catalog.RunCatalog
import graft.http.ApiServer
import graft.runner.PipelineRunner
import graft.util.SparkMeter

/** Drives the REST surface over a real socket: upload → trigger →
  * poll → logs → cancel/sweep.
  */
class ApiServerSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()
  private def get(url: String) =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET.build(), HttpResponse.BodyHandlers.ofString())
  private def post(url: String, body: String = "") =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())

  test("upload → trigger → poll to Success → logs; error paths") {
    val work = Files.createTempDirectory("graft_api").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val api = new ApiServer(catalog, runner, s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val csv = "OrderId,CustomerId,Amount,OrderDate\nA-1,C1,10,2024-01-01\nA-2,C2,300,2024-01-02\n"
      val up = post(s"$base/pipeline/upload?filename=x.csv", csv)
      assert(up.statusCode() == 201 && up.body().contains("filePath"))
      val fp = up.body().split("\"")(3)

      val trig = post(s"$base/pipeline/trigger?filePath=$fp")
      assert(trig.statusCode() == 201)
      val runId = trig.body().split("\"")(3)

      // poll the catalog through the API until the background run lands
      var status = ""
      val deadline = System.currentTimeMillis() + 120000
      while (status != "Success" && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        val detail = get(s"$base/runs/$runId")
        if (detail.statusCode() == 200 && detail.body().contains("\"status\":\"Success\"")
          && !detail.body().contains("\"Pending\"") && !detail.body().contains("\"Running\""))
          status = "Success"
      }
      assert(status == "Success")

      val logs = get(s"$base/runs/$runId/logs")
      assert(logs.statusCode() == 200 && logs.body().contains("Migrate"))

      // rowsTotal denominator = Data Pull batch size from the catalog
      val prog = get(s"$base/runs/$runId/progress")
      assert(prog.statusCode() == 200 && prog.body().contains("\"rowsTotal\":2"))

      val list = get(s"$base/runs?status=Success")
      assert(list.statusCode() == 200 && list.body().contains(runId))

      // error paths
      assert(post(s"$base/pipeline/trigger?filePath=/nope.csv").statusCode() == 400)
      assert(post(s"$base/pipeline/upload?filename=x.exe").statusCode() == 400)
      assert(get(s"$base/runs/does-not-exist").statusCode() == 404)
      assert(get(s"$base/nope").statusCode() == 404)
      assert(post(s"$base/admin/sweep-timeouts?hours=6").statusCode() == 200)
      val cleaned = post(s"$base/admin/clean-stages?keepRuns=100")
      assert(cleaned.statusCode() == 200 && cleaned.body().contains("\"cleaned\":0"))
    } finally api.stop()
  }

  test("schedule CRUD and progress endpoints") {
    val work = Files.createTempDirectory("graft_api2").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val sr = new graft.scheduler.ScheduleRunner(s"$work/schedules", _ => ())
    val api = new ApiServer(catalog, runner, s"$work/uploads",
      schedules = Some(sr), progress = Some(new graft.runner.ProgressListener(catalog))).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val created = post(s"$base/schedules?name=nightly&scheduleType=daily&runAtTime=09:30&sourcePath=/tmp/x.csv")
      assert(created.statusCode() == 201)
      val id = created.body().split("\"")(3)

      val listed = get(s"$base/schedules")
      assert(listed.statusCode() == 200 && listed.body().contains("nightly")
        && listed.body().contains("\"enabled\":true"))

      assert(post(s"$base/schedules/$id/disable").statusCode() == 200)
      assert(get(s"$base/schedules").body().contains("\"enabled\":false"))
      assert(post(s"$base/schedules/$id/enable").statusCode() == 200)
      assert(post(s"$base/schedules/$id/delete").statusCode() == 200)
      assert(get(s"$base/schedules").body() == "[]")

      assert(post(s"$base/schedules?name=incomplete").statusCode() == 400)

      // a quote/backslash in a user-supplied name must not break the
      // listing JSON (the monitor pane polls it every 5s)
      val evilName = java.net.URLEncoder.encode("a\"b\\c", "UTF-8")
      val ev = post(s"$base/schedules?name=$evilName&scheduleType=daily&runAtTime=09:30&sourcePath=/tmp/x.csv")
      assert(ev.statusCode() == 201)
      val evBody = get(s"$base/schedules").body()
      assert(evBody.contains("\"name\":\"a\\\"b\\\\c\""))
      val evId = ev.body().split("\"")(3)
      assert(post(s"$base/schedules/$evId/delete").statusCode() == 200)

      val prog = get(s"$base/runs/some-run/progress")
      assert(prog.statusCode() == 200 && prog.body().contains("\"recordsProcessed\":0")
        && prog.body().contains("\"rowsTotal\":0"))
    } finally api.stop()
  }

  test("schedule update route changes fields and recomputes nextRunAt") {
    val work = Files.createTempDirectory("graft_api3").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val sr = new graft.scheduler.ScheduleRunner(s"$work/schedules", _ => ())
    val api = new ApiServer(catalog, runner, s"$work/uploads", schedules = Some(sr)).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val created = post(s"$base/schedules?name=n1&scheduleType=daily&runAtTime=09:30&sourcePath=/tmp/x.csv")
      val id = created.body().split("\"")(3)
      val upd = post(s"$base/schedules/$id/update?name=n2&scheduleType=weekly&runAtTime=08:00&dayOfWeek=3")
      assert(upd.statusCode() == 200 && upd.body().contains("\"updated\":true"))
      val s = sr.get(id).get
      assert(s.name == "n2" && s.scheduleType == "weekly"
        && s.runAtTime == "08:00" && s.dayOfWeek == 3)
      assert(s.nextRunAt.exists(_.getDayOfWeek.getValue % 7 == 3)) // a Wednesday
      assert(s.sourcePath == "/tmp/x.csv") // untouched field preserved
      assert(post(s"$base/schedules/nope/update?name=z").statusCode() == 404)
    } finally api.stop()
  }

  test("/streams surfaces live StreamingQuery progress and drops stopped queries") {
    val work = Files.createTempDirectory("graft_api_streams").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val api = new ApiServer(catalog, runner, s"$work/uploads",
      streamSession = Some(spark)).start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // a server built WITHOUT a stream session reports nothing (and
      // doesn't error) — streaming observability is opt-in
      val none = new ApiServer(catalog, runner, s"$work/uploads2").start()
      try assert(get(s"http://127.0.0.1:${none.boundPort}/streams").body() == "[]")
      finally none.stop()

      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("k", "v").writeStream.format("memory")
        .queryName("graft_api_stream").start()
      try {
        mem.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
        val resp = get(s"$base/streams")
        assert(resp.statusCode() == 200)
        val body = resp.body()
        // the engine's own progress JSON, addressable by query name:
        // batch id, input rows, and activity flag round-trip
        assert(body.startsWith("[") && body.contains("\"graft_api_stream\""))
        assert(body.contains("\"isActive\":true"))
        assert(body.contains("\"numInputRows\":2"))
        assert(body.contains("\"batchId\""))
        assert(body.contains(s""""id":"${q.id}""""))
      } finally q.stop()
      assert(!get(s"$base/streams").body().contains("graft_api_stream"))
    } finally api.stop()
  }

  test("/streams/ledger aggregates a dedup-ingest disposition ledger per batch and stage") {
    val work = Files.createTempDirectory("graft_api_ledger").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val api = new ApiServer(catalog, runner, s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      // no ledger yet (runner workDir has none) → empty, no error
      assert(get(s"$base/streams/ledger").body() == "[]")
      import spark.implicits._
      val ingestDir = s"$work/ingest"
      val ingest = new graft.streaming.StreamingDedupIngest(spark, ingestDir,
        simThreshold = 0.9, ledger = true)
      val dA = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
      ingest.processBatch(Seq((1L, dA), (2L, dA)).toDF("doc_id", "text"), 0L)
      val body = get(s"$base/streams/ledger?workDir=$ingestDir").body()
      assert(body.contains("\"stage\":\"admitted\"") &&
        body.contains("\"stage\":\"near_dup_intra\""), body)
      assert(body.contains("\"batch_id\":0") && body.contains("\"n\":1"), body)
      // corrupt/non-parquet content under the root fails CLOSED ([])
      Files.createDirectories(java.nio.file.Paths.get(s"$work/junk/ledger"))
      Files.write(java.nio.file.Paths.get(s"$work/junk/ledger/part-0.parquet"),
        "not parquet".getBytes)
      assert(get(s"$base/streams/ledger?workDir=$work/junk").body() == "[]")
      // paths outside the runner work root are refused, never probed
      val out = get(s"$base/streams/ledger?workDir=/etc")
      assert(out.statusCode() == 403, out.body())
      // a symlink INSIDE the work root pointing outside it is refused
      // too: confinement resolves symlinks (toRealPath), not just
      // `..` segments — a lexical check would follow the link
      val link = java.nio.file.Paths.get(s"$work/lnk")
      try {
        java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get("/etc"))
        val esc = get(s"$base/streams/ledger?workDir=$work/lnk")
        assert(esc.statusCode() == 403, esc.body())
      } finally java.nio.file.Files.deleteIfExists(link)
      // catalog rollup: the ingest funnel serves through the SAME
      // GET /runs/:id surface as batch step rows
      val runId = ingest.recordToCatalog(catalog).get
      val run = get(s"$base/runs/$runId").body()
      assert(run.contains("\"step_name\":\"near_dup_intra\"") &&
        run.contains("\"step_name\":\"admitted\"") &&
        run.contains("\"pipeline_name\":\"streaming-ingest\""), run)
    } finally api.stop()
  }

  test("multipart/form-data upload extracts the file part; raw body still works") {
    val work = Files.createTempDirectory("graft_api4").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val api = new ApiServer(catalog, runner, s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val csv = "OrderId,CustomerId,Amount,OrderDate\nM-1,C1,10,2024-01-01\n"
      val boundary = "----graftTestBoundary42"
      val body =
        s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"note\"\r\n\r\nhello\r\n" +
        s"--$boundary\r\n" +
        "Content-Disposition: form-data; name=\"file\"; filename=\"orders.csv\"\r\n" +
        "Content-Type: text/csv\r\n\r\n" +
        csv + "\r\n" +
        s"--$boundary--\r\n"
      val up = client.send(HttpRequest.newBuilder(URI.create(s"$base/pipeline/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(up.statusCode() == 201, up.body())
      val fp = up.body().split("\"")(3)
      // saved file is the part content, not the MIME framing
      assert(Files.readString(java.nio.file.Paths.get(fp)) == csv)

      // a multipart body with no file part is rejected
      val nofile = client.send(HttpRequest.newBuilder(URI.create(s"$base/pipeline/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"--$boundary\r\nContent-Disposition: form-data; name=\"note\"\r\n\r\nx\r\n--$boundary--\r\n"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(nofile.statusCode() == 400)

      // non-.csv/.json part filename rejected
      val exe = client.send(HttpRequest.newBuilder(URI.create(s"$base/pipeline/upload"))
        .header("Content-Type", s"multipart/form-data; boundary=$boundary")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"--$boundary\r\nContent-Disposition: form-data; name=\"file\"; filename=\"x.exe\"\r\n\r\nMZ\r\n--$boundary--\r\n"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(exe.statusCode() == 400)
    } finally api.stop()
  }

  test("status page serves html wired to the run endpoints") {
    val work = Files.createTempDirectory("graft_api5").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, work)
    val api = new ApiServer(catalog, runner, s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      for (url <- Seq(s"$base/", s"$base/ui")) {
        val page = get(url)
        assert(page.statusCode() == 200)
        assert(page.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
        val b = page.body()
        assert(b.contains("fetch('/runs'") && b.contains("/progress"))
        // logs pane + filter controls (RunList.jsx/Logs.jsx parity)
        assert(b.contains("fetch('/logs?") && b.contains("fLevel"))
        assert(b.contains("fPipeline") && b.contains("fStatus")
          && b.contains("pipelineName") && b.contains("status"))
        // XSS hardening: no HTML interpolation of catalog values
        assert(!b.contains("innerHTML") && b.contains("textContent"))
        // schedules pane: list + create + per-row enable/disable/delete
        // wired to the /schedules CRUD (ApiServlet.java:197-281 parity)
        assert(b.contains("fetch('/schedules')") && b.contains("fetch('/schedules?"))
        assert(b.contains("id=\"schedules\"") && b.contains("sCreate")
          && b.contains("scheduleType") && b.contains("/' + action"))
        // streams pane polls /streams for live StreamingQuery progress
        assert(b.contains("fetch('/streams')") && b.contains("id=\"streams\"")
          && b.contains("inputRowsPerSecond") && b.contains("watermark"))
      }
      // the filter params the page sends round-trip through GET /runs
      val r1 = runner.run(writeCsv(work, "F-1"), "alpha")
      val r2 = runner.run(writeCsv(work, "F-2"), "beta")
      assert(r1.status == "Success" && r2.status == "Success")
      val alpha = get(s"$base/runs?pipelineName=alpha&status=Success").body()
      assert(alpha.contains(r1.runId) && !alpha.contains(r2.runId))
      val none = get(s"$base/runs?pipelineName=alpha&status=Failed").body()
      assert(none == "[]")
    } finally api.stop()
  }

  private def writeCsv(work: String, orderId: String): String = {
    val p = java.nio.file.Paths.get(work, s"src_$orderId.csv")
    Files.writeString(p, s"OrderId,CustomerId,Amount,OrderDate\n$orderId,C1,10,2024-01-01\n")
    p.toString
  }

  test("trigger accepts a per-request workDir override; concurrent runs land in distinct dirs") {
    val work = Files.createTempDirectory("graft_api6").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val runner = new PipelineRunner(spark, catalog, s"$work/main")
    val api = new ApiServer(catalog, runner, s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val fpA = writeCsv(work, "OV-A")
      val fpB = writeCsv(work, "OV-B")
      val altDir = s"$work/alt"
      // two concurrent background runs: default work dir + override
      val tA = post(s"$base/pipeline/trigger?filePath=$fpA&pipelineName=main-wd")
      val tB = post(s"$base/pipeline/trigger?filePath=$fpB&pipelineName=alt-wd&workDir=" +
        java.net.URLEncoder.encode(altDir, "UTF-8"))
      assert(tA.statusCode() == 201 && tB.statusCode() == 201)
      val Seq(idA, idB) = Seq(tA, tB).map(_.body().split("\"")(3))

      val deadline = System.currentTimeMillis() + 120000
      def done(id: String): Boolean = {
        val d = get(s"$base/runs/$id").body()
        d.contains("\"status\":\"Success\"") && !d.contains("\"Pending\"") && !d.contains("\"Running\"")
      }
      while (!(done(idA) && done(idB)) && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(done(idA) && done(idB))

      // stages really landed in the two distinct work dirs
      assert(Files.isDirectory(java.nio.file.Paths.get(s"$work/main/landing_orders/run_id=$idA")))
      assert(Files.isDirectory(java.nio.file.Paths.get(s"$altDir/landing_orders/run_id=$idB")))
      assert(!Files.exists(java.nio.file.Paths.get(s"$work/main/landing_orders/run_id=$idB")))
      // both runs visible in the one shared catalog
      val list = get(s"$base/runs").body()
      assert(list.contains(idA) && list.contains(idB))
    } finally api.stop()
  }

  /** A catalog of `n` finished runs, one second apart, oldest first:
    * history rolled into a segment, the newest few runs still appends. */
  private def historicCatalog(work: String, n: Int): (RunCatalog, Seq[String]) = {
    var nowMs = 1700000000000L
    val catalog = new RunCatalog(spark, s"$work/catalog", clock = () => nowMs)
    val ids = (1 to n).map { i =>
      nowMs += 1000
      val id = catalog.startRun("OrdersPipeline")
      catalog.stepNames.zipWithIndex.foreach { case (name, k) =>
        catalog.updateStep(id, k + 1, "Running")
        catalog.log(id, "Info", k + 1, s"$name started")
        catalog.updateStep(id, k + 1, "Success", 10L * (k + 1))
      }
      catalog.finishRun(id, "Success")
      if (i == n - 3) catalog.compact()
      id
    }
    (catalog, ids)
  }

  test("the catalog GET endpoints launch no Spark job") {
    val work = Files.createTempDirectory("graft_api_nojobs").toString
    val (written, ids) = historicCatalog(work, 12)
    // a fresh catalog on the dir: its first read loads the segment too
    val catalog = new RunCatalog(spark, written.dir)
    val api = new ApiServer(catalog, new PipelineRunner(spark, catalog, work), s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      val id = ids(ids.size / 2)
      val paths = Seq("/runs", s"/runs/$id", s"/runs/$id/logs", s"/runs/$id/progress", s"/logs?runId=$id")
      val bodies = scala.collection.mutable.Map[String, String]()
      val jobs = SparkMeter.measure(spark)(paths.foreach { p =>
        val r = get(base + p)
        assert(r.statusCode() == 200, p)
        bodies(p) = r.body()
      })._2.jobs.size
      assert(jobs == 0, s"$jobs Spark jobs for ${paths.size} GETs")
      assert(bodies(s"/runs/$id").contains("\"step_name\":\"Migrate\""))
      assert(bodies(s"/runs/$id/progress").contains("\"rowsTotal\":10"))
      assert(bodies(s"/logs?runId=$id").contains("Migrate started"))
      assert(ids.forall(bodies("/runs").contains))
    } finally api.stop()
  }

  test("GET /runs/:id finds a run outside the newest 100") {
    val work = Files.createTempDirectory("graft_api_old").toString
    val (catalog, ids) = historicCatalog(work, 105)
    val api = new ApiServer(catalog, new PipelineRunner(spark, catalog, work), s"$work/uploads").start()
    val base = s"http://127.0.0.1:${api.boundPort}"
    try {
      assert(!get(s"$base/runs").body().contains(ids.head))
      val oldest = get(s"$base/runs/${ids.head}")
      assert(oldest.statusCode() == 200, oldest.body())
      assert("\"step_number\"".r.findAllMatchIn(oldest.body()).size == 4, oldest.body())
    } finally api.stop()
  }

  test("stop() shuts down the server's thread pool") {
    val work = Files.createTempDirectory("graft_api_stop").toString
    val catalog = new RunCatalog(spark, s"$work/catalog")
    val api = new ApiServer(catalog, new PipelineRunner(spark, catalog, work), s"$work/uploads").start()
    assert(get(s"http://127.0.0.1:${api.boundPort}/runs").statusCode() == 200)
    api.stop()
    assert(api.executor.isTerminated)
  }
}
