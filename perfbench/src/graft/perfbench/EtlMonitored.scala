package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.catalog.RunCatalog
import graft.http.ApiServer
import graft.merge.MergeWriter
import graft.runner.{PipelineRunner, ProgressListener}

/** `etl_monitored`: the paper's system under its own monitor.
  *
  * A closed loop triggers pipeline runs (`PipelineRunner.runAsync`, then
  * waits for the result) one after another over seeded order files, on a
  * target and catalog pre-populated with historic loads and runs, until
  * the window is over and at least [[MinRuns]] runs are done; the first
  * [[MonitoredWarmRuns]] runs under the monitor are set-up. Beside
  * it one GUI client polls the REST API in an open loop at [[Rate]]
  * requests/s over at most two connections, alternating `GET /runs/:id`
  * and `GET /runs/:id/logs` on the current run, with every eighth request
  * a `GET /runs`. Request latency counts from the scheduled send time.
  *
  * Output checks: every run succeeds with the planted rows per step and
  * reject counts; the final target row count and amount checksum equal
  * the generator's key model; every response is 200 and `/runs/:id`
  * lists 4 steps; no run sees the request backlog grow.
  */
object EtlMonitored {
  /** GUI poll rate: a rung of {1, 0.5, 0.25, 0.125} req/s (see NOTES.md). */
  val Rate = 0.5
  val Connections = 2
  val HistoricRuns = 30
  val MaxFiles = 24
  val WarmFiles = 2
  /** Untimed runs under the monitor before the window: the first runs
    * through the measured catalog, server and poller are still warming. */
  val MonitoredWarmRuns = 1
  /** Timed runs at least, however short the window. */
  val MinRuns = 5
  val CsvRows = 5000
  val JsonRows = 2500
  val DirtyRows = 40
  val ExistingShare = 0.3

  final case class OrderFile(path: String, rows: Int, unparseable: Int, negative: Int,
                             clean: Seq[(String, Long)])

  private def amount(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** Writes file `i` of the sequence: CSV mostly, JSON every fourth file,
    * dirty rows in every third CSV; about [[ExistingShare]] of the clean
    * keys already exist in `live` (which the file's keys then join).
    */
  private def orderFile(dir: String, i: Int, rng: scala.util.Random, live: scala.collection.mutable.ArrayBuffer[String],
                        nextKey: () => String): OrderFile = {
    val json = i % 4 == 2
    val n = if (json) JsonRows else CsvRows
    val dirty = !json && i % 3 == 0
    val nBad = if (dirty) DirtyRows else 0
    val nClean = n - 2 * nBad
    val nOld = (nClean * ExistingShare).toInt
    val old = rng.shuffle(live.indices.toVector).take(nOld).map(live)
    val fresh = Vector.fill(nClean - nOld)(nextKey())
    val clean = rng.shuffle(old ++ fresh).map(k => k -> (100L + rng.nextInt(60000)))
    live ++= fresh
    def date(k: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(k % 400).toString
    val rows = clean.zipWithIndex.map { case ((k, c), j) => (k, s"C${j % 2000 + 1}", amount(c), date(j)) } ++
      (0 until nBad).map(j => (nextKey(), s"C${j + 1}", "n/a", date(j))) ++
      (0 until nBad).map(j => (nextKey(), s"C${j + 1}", "-" + amount(100L + j), date(j)))
    val path = Paths.get(dir, f"orders_$i%03d.${if (json) "json" else "csv"}")
    val body =
      if (json) rows.map { case (k, c, a, d) =>
        s"""{"OrderId":"$k","CustomerId":"$c","Amount":$a,"OrderDate":"$d"}""" }.mkString("[\n", ",\n", "\n]\n")
      else rows.map { case (k, c, a, d) => s"$k,$c,$a,$d" }.mkString("OrderId,CustomerId,Amount,OrderDate\n", "\n", "\n")
    Files.writeString(path, body)
    OrderFile(path.toString, n, nBad, nBad, clean)
  }

  /** A historic run through the catalog's public write API. */
  private def historicRun(cat: RunCatalog, rng: scala.util.Random): Unit = {
    val id = cat.startRun("OrdersPipeline")
    cat.stepNames.zipWithIndex.foreach { case (name, i) =>
      val n = 10000L + rng.nextInt(10000)
      cat.updateStep(id, i + 1, "Running")
      cat.log(id, "Info", i + 1, s"$name started")
      cat.updateStep(id, i + 1, "Success", n)
      cat.log(id, "Info", i + 1, s"$name finished", Some(s"rows=$n"))
    }
    cat.finishRun(id, "Success")
  }

  private final case class Req(kind: String, scheduledMs: Double, startMs: Double, endMs: Double,
                               status: Int, steps: Int, inFlight: Int)

  /** The GUI client: an open loop at `rate` req/s on [[Connections]] workers. */
  private final class Poller(port: Int, rate: Double, current: AtomicReference[String], spans: Spans) {
    private val pool = Executors.newFixedThreadPool(Connections, (r: Runnable) => {
      val t = new Thread(r, "perfbench-gui"); t.setDaemon(true); t
    })
    private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    private val inFlight = new AtomicInteger
    val done = new ConcurrentLinkedQueue[Req]()
    @volatile private var stopping = false
    private val t0 = Clock.ms()
    private val scheduler = new Thread(() => {
      var k = 0L
      while (!stopping) {
        val due = t0 + k * 1000.0 / rate
        val wait = due - Clock.ms()
        if (wait > 0) try Thread.sleep(math.ceil(wait).toLong) catch { case _: InterruptedException => () }
        if (!stopping) {
          val id = current.get
          val kind = if (k % 8 == 7) "list_runs" else if (k % 2 == 0) "run" else "logs"
          val path = kind match {
            case "list_runs" => "/runs"
            case "run" => s"/runs/$id"
            case _ => s"/runs/$id/logs"
          }
          val depth = inFlight.incrementAndGet()
          pool.submit(new Runnable {
            def run(): Unit = {
              val start = Clock.ms()
              val (status, body) =
                try {
                  val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
                    .timeout(java.time.Duration.ofSeconds(60)).GET().build(), HttpResponse.BodyHandlers.ofString())
                  (r.statusCode, r.body)
                } catch { case e: Throwable => (-1, String.valueOf(e)) }
              val end = Clock.ms()
              inFlight.decrementAndGet()
              val steps = if (kind == "run") "\"step_number\"".r.findAllMatchIn(body).size else 4
              spans.add(s"http.$kind", start, end, s"run-$id")
              done.add(Req(kind, due, start, end, status, steps, depth))
            }
          })
          k += 1
        }
      }
    }, "perfbench-gui-scheduler")
    scheduler.setDaemon(true)
    scheduler.start()

    /** Stops scheduling and waits for the requests in flight. */
    def stop(): Unit = {
      stopping = true
      scheduler.interrupt()
      pool.shutdown()
      pool.awaitTermination(90, TimeUnit.SECONDS)
    }
  }

  /** (start, end) epoch ms of each step of each run, from the catalog's
    * "<step> started/finished" log rows, read with one `listLogs` call
    * (`steps()` loses `started_at` on a finished step). */
  private def stepSpans(cat: RunCatalog): Map[String, Map[String, (Double, Double)]] = {
    val rows = cat.listLogs(limit = 2000).select("run_id", "log_at", "message").collect()
    rows.groupBy(_.getString(0)).map { case (id, rs) =>
      val at = rs.map(r => r.getString(2) -> r.getTimestamp(1).getTime.toDouble).toMap
      id -> cat.stepNames.flatMap(s => for (a <- at.get(s"$s started"); b <- at.get(s"$s finished")) yield s -> (a, b)).toMap
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = s"${ctx.work}/etl"
    val failures = Seq.newBuilder[String]
    val rng = new scala.util.Random(ctx.seed)

    // --- set-up -------------------------------------------------------
    val keyCounter = new java.util.concurrent.atomic.AtomicLong
    def nextKey(): String = f"ORD-${keyCounter.getAndIncrement()}%09d"
    val model = scala.collection.mutable.HashMap[String, Long]()
    val live = scala.collection.mutable.ArrayBuffer[String]()
    val incoming = Files.createDirectories(Paths.get(work, "incoming")).toString
    val (orderFiles, filesS) = ctx.spans.time("setup.files", "setup") {
      (0 until MaxFiles).map(i => orderFile(incoming, i, rng, live, () => nextKey()))
    }
    val (catalog, catalogS) = ctx.spans.time("setup.catalog", "setup") {
      val cat = new RunCatalog(spark, s"$work/catalog")
      val hr = new scala.util.Random(ctx.seed)
      (0 until HistoricRuns).foreach(_ => historicRun(cat, hr))
      // a maintained catalog: history rolled into segments, as the
      // catalog's own compaction leaves it
      cat.compact()
      cat
    }
    // warm-up: the first files of the sequence are the target's historic
    // loads, run through the same work dir under a separate catalog
    val (_, warmRunsS) = ctx.spans.time("setup.warmup", "setup") {
      val warmRunner = new PipelineRunner(spark, new RunCatalog(spark, s"$work/catalog-warm"), work)
      orderFiles.take(WarmFiles).foreach { f =>
        val r = warmRunner.run(f.path)
        if (r.status == "Success") f.clean.foreach { case (k, c) => model(k) = c }
        else failures += s"warm-up run ${r.runId} ${r.status}"
      }
    }
    // `/runs/:id` only finds runs among the newest 100
    val current = new AtomicReference[String](catalog.listRuns().select("run_id").head().getString(0))
    val runner = new PipelineRunner(spark, catalog, work)
    val progress = new ProgressListener(catalog)
    spark.sparkContext.addSparkListener(progress)
    val server = new ApiServer(catalog, runner, s"$work/uploads", 0, progress = Some(progress)).start()
    val port = server.boundPort
    val (_, warmGetsS) = ctx.spans.time("setup.warmup_gets", "setup") {
      val client = HttpClient.newHttpClient()
      Seq("/runs", s"/runs/${current.get}", s"/runs/${current.get}/logs").foreach { p =>
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
          HttpResponse.BodyHandlers.discarding())
      }
    }

    val runEc = ExecutionContext.fromExecutorService(Executors.newSingleThreadExecutor((r: Runnable) => {
      val t = new Thread(r, "perfbench-runner"); t.setDaemon(true); t
    }))
    val poller = new Poller(port, Rate, current, ctx.spans)
    case class RunRec(id: String, file: OrderFile, startMs: Double, endMs: Double, result: runner.RunResult)
    def runFile(f: OrderFile): RunRec = {
      val start = Clock.ms()
      val (id, fut) = runner.runAsync(f.path)(runEc)
      current.set(id)
      val res = Await.result(fut, Duration(120, "s"))
      val end = Clock.ms()
      ctx.spans.add(s"run-$id", start, end, "etl")
      if (res.status == "Success") f.clean.foreach { case (k, c) => model(k) = c }
      RunRec(id, f, start, end, res)
    }
    val (warmRuns, warmMonitoredS) = ctx.spans.time("setup.warmup_monitored", "setup") {
      orderFiles.slice(WarmFiles, WarmFiles + MonitoredWarmRuns).map(runFile)
    }
    val warmS = warmRunsS + warmGetsS + warmMonitoredS

    // --- measured window ----------------------------------------------
    val runs = Vector.newBuilder[RunRec]
    val first = WarmFiles + MonitoredWarmRuns
    val t0 = Clock.ms()
    def elapsedS = (Clock.ms() - t0) / 1e3
    var i = first
    // at least MinRuns runs, or 2 once the run is over its time budget
    while (i < MaxFiles && (i - first < 2 ||
        (!ctx.overBudget && (elapsedS < ctx.seconds || i - first < MinRuns)))) {
      runs += runFile(orderFiles(i))
      i += 1
    }
    val wallS = elapsedS
    poller.stop()
    server.stop()
    runEc.shutdown()

    // --- checks -------------------------------------------------------
    val rs = runs.result()
    (warmRuns ++ rs).foreach { r =>
      val f = r.file
      val want = Map("Data Pull" -> f.rows.toLong, "Extract" -> (f.rows - f.unparseable).toLong,
        "Transform" -> (f.rows - f.unparseable - f.negative).toLong,
        "Migrate" -> (f.rows - f.unparseable - f.negative).toLong)
      if (r.result.status != "Success") failures += s"run ${r.id} ${r.result.status}"
      else if (r.result.rowsPerStep != want) failures += s"run ${r.id} rows ${r.result.rowsPerStep} != $want"
    }
    val rejects = spark.read.parquet(s"$work/rejected_orders").groupBy("rejected_in").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ran = orderFiles.take(WarmFiles) ++ (warmRuns ++ rs).map(_.file)
    val wantRejects = Map("Extract" -> ran.map(_.unparseable.toLong).sum,
      "Transform" -> ran.map(_.negative.toLong).sum).filter(_._2 > 0)
    if (rejects != wantRejects) failures += s"rejects $rejects != $wantRejects"
    val target = MergeWriter.readTarget(spark, runner.targetDir).get
      .agg(count(lit(1)), sum(col("amount"))).head()
    val wantSum = BigDecimal(model.values.sum) / 100
    if (target.getLong(0) != model.size || BigDecimal(target.getDecimal(1)) != wantSum)
      failures += s"target ${target.getLong(0)} rows / ${target.getDecimal(1)} != ${model.size} / $wantSum"
    val allReqs = poller.done.asScala.toVector.sortBy(_.scheduledMs)
    allReqs.filter(r => r.status != 200 || r.steps != 4).foreach(r =>
      failures += s"GET ${r.kind} at ${r.scheduledMs - t0} ms: status ${r.status}, steps ${r.steps}")
    // latency counts the requests scheduled in the window
    val reqs = allReqs.filter(_.scheduledMs >= t0)
    // an honest open loop: within a run, lateness must not build up
    val periodMs = 1000.0 / Rate
    rs.foreach { r =>
      val in = reqs.filter(q => q.scheduledMs >= r.startMs && q.scheduledMs < r.endMs)
      if (in.size >= 2 && in.last.startMs - in.last.scheduledMs > in.head.startMs - in.head.scheduledMs + periodMs &&
          in.last.inFlight > in.head.inFlight)
        failures += s"run ${r.id}: request backlog grew from ${in.head.inFlight} to ${in.last.inFlight}"
    }

    // --- metrics ------------------------------------------------------
    val runS = rs.map(r => (r.endMs - r.startMs) / 1e3)
    System.err.println(s"[perfbench] run seconds: ${runS.map(x => f"$x%.2f").mkString(" ")}; " +
      s"request ms: ${reqs.map(r => f"${r.endMs - r.scheduledMs}%.0f").mkString(" ")}")
    val latMs = reqs.map(r => r.endMs - r.scheduledMs)
    val sourceRows = rs.map(_.file.rows.toLong).sum
    val stageDirs = Seq("landing" -> "landing_orders", "staging" -> "staging_orders",
      "transformed" -> "staging_orders_transformed", "rejects" -> "rejected_orders")
    val stageBytes = stageDirs.map { case (k, d) => k -> Files2.du(s"$work/$d")._2 }
    val (targetFiles, targetBytes) = Files2.du(runner.targetDir)
    val detail = Seq(
      "etl.run_s.p50" -> Stats.median(runS),
      "etl.run_s.tail" -> Stats.tail(runS)._1,
      "etl.rows_per_s" -> sourceRows / wallS,
      "etl.disk_bytes_per_row" -> (stageBytes.map(_._2).sum + targetBytes).toDouble / model.size,
      "monitor.req_ms.p50" -> Stats.median(latMs),
      "monitor.req_ms.tail" -> Stats.tail(latMs)._1,
      "info.rate" -> Rate, "info.requests" -> reqs.size.toDouble, "info.runs" -> rs.size.toDouble,
      "info.setup_files_s" -> filesS, "info.setup_catalog_s" -> catalogS,
      "info.setup_warmup_s" -> warmS)

    val layers =
      if (!ctx.traced) Nil
      else {
        val jobs = ctx.meter.get.snapshot().filter(j => j.submitMs >= t0 && j.submitMs <= t0 + wallS * 1e3)
        val spans = stepSpans(catalog)
        val steps = rs.map(r => r -> spans.getOrElse(r.id, Map.empty[String, (Double, Double)]))
        val stepKey = Map("Data Pull" -> "pull", "Extract" -> "extract", "Transform" -> "transform", "Migrate" -> "migrate")
        steps.foreach { case (r, sp) => sp.foreach { case (s, (a, b)) => ctx.spans.add(s"step.${stepKey(s)}", a, b, s"run-${r.id}") } }
        jobs.foreach(j => ctx.spans.add(s"job-${j.id}", j.submitMs.toDouble, j.endMs.toDouble,
          if (j.group.isEmpty) "monitor" else j.group))
        def stepS(s: String) = steps.flatMap(_._2.get(s)).map { case (a, b) => (b - a) / 1e3 }
        def stepJobs(s: String) = steps.map { case (r, sp) =>
          sp.get(s).map { case (a, b) =>
            jobs.count(j => j.group == s"run-${r.id}" && j.submitMs >= a && j.submitMs <= b).toDouble
          }.getOrElse(0.0)
        }
        val migrate = steps.map { case (r, sp) => r -> sp.get("Migrate").map { case (a, b) => (b - a) / 1e3 } }
        val medMigrate = Stats.median(migrate.flatMap(_._2))
        val compactRuns = migrate.zipWithIndex.collect {
          case ((_, Some(s)), k) if (MergeWriter.currentVersion(runner.targetDir) - (rs.size - 1 - k)) % 16 == 0 => s
        }
        val bookkeeping = steps.map { case (r, sp) =>
          (r.endMs - r.startMs) / 1e3 - sp.values.map { case (a, b) => (b - a) / 1e3 }.sum
        }
        // direct catalog calls with the API's arguments, after the window
        val last = rs.last.id
        def timeMs(name: String)(body: => Unit): Double = ctx.spans.time(s"catalog.$name", "catalog")(body)._2 * 1e3
        val listRunsMs = timeMs("list_runs")(catalog.listRuns().toJSON.collect(): Unit)
        val stepsMs = timeMs("steps")(catalog.steps(last).toJSON.collect(): Unit)
        val listLogsMs = timeMs("list_logs")(catalog.listLogs(runId = Some(last)).toJSON.collect(): Unit)
        val catalogMs = Map("list_runs" -> listRunsMs, "run" -> (listRunsMs + stepsMs), "logs" -> listLogsMs)
        val storeFiles = Seq("pipeline_runs", "step_runs", "pipeline_logs").map { d =>
          Option(new java.io.File(s"${catalog.dir}/$d").listFiles()).getOrElse(Array.empty[java.io.File])
            .count(f => f.getName.endsWith(".json") || f.getName.startsWith("segment-")).toDouble
        }.sum
        val monitorJobs = jobs.count(j => !j.group.startsWith("run-"))
        detail ++ Seq("pull" -> "Data Pull", "extract" -> "Extract", "transform" -> "Transform", "migrate" -> "Migrate")
          .flatMap { case (k, s) =>
            Seq(s"runner.step_s.$k" -> Stats.median(stepS(s)), s"runner.jobs.$k" -> Stats.median(stepJobs(s)))
          } ++ Seq(
          "runner.bookkeeping_s" -> Stats.median(bookkeeping),
          "merge.maintenance_s" -> (if (compactRuns.isEmpty) 0.0 else Stats.median(compactRuns) - medMigrate),
          "merge.target_files" -> targetFiles.toDouble,
          "merge.target_bytes" -> targetBytes.toDouble) ++
          stageBytes.map { case (k, v) => s"stages.bytes.$k" -> v.toDouble } ++ Seq(
          "catalog.read_ms.list_runs" -> listRunsMs,
          "catalog.read_ms.steps" -> stepsMs,
          "catalog.read_ms.list_logs" -> listLogsMs,
          "catalog.store_files" -> storeFiles,
          "http.self_ms" -> Stats.median(reqs.map(r => r.endMs - r.startMs - catalogMs(r.kind))),
          "monitor.jobs_per_req" -> monitorJobs.toDouble / math.max(1, reqs.size),
          "monitor.gen_late_ms.max" -> reqs.map(r => r.startMs - r.scheduledMs).maxOption.getOrElse(0.0),
          "monitor.in_flight.max" -> reqs.map(_.inFlight.toDouble).maxOption.getOrElse(0.0),
          "spark.driver_gap_frac" -> (1.0 - jobs.map(_.runMs.get).sum / 1e3 / (wallS * ctx.cores)))
      }
    Outcome(
      setupS = filesS + catalogS + warmS,
      opS = Stats.median(runS),
      workPerS = sourceRows / wallS,
      attempted = warmRuns.size + rs.size + allReqs.size + 1,
      failures = failures.result(),
      detail = detail,
      layers = layers)
  }
}
