package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.ExecutionContext

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.catalog.RunCatalog
import graft.runner.PipelineRunner
import graft.util.Json

/** REST monitoring + trigger API (SURVEY.md §2.8 endpoints, §2.10
  * C2/C4/C5), on the JDK's built-in HttpServer — zero extra deps.
  *
  *   GET  /  or  /ui                      monitoring page (2s polling)
  *   GET  /runs?pipelineName=&status=     top-100 newest runs
  *   GET  /runs/{id}                      run header + steps
  *   GET  /runs/{id}/logs                 logs for one run
  *   GET  /runs/{id}/progress             {recordsProcessed, rowsTotal}
  *   GET  /logs?runId=&level=&limit=      capped log stream (≤2000)
  *   POST /pipeline/upload?filename=      raw or multipart/form-data body
  *                                        → landing file (10 MB cap)
  *   POST /pipeline/trigger?filePath=&pipelineName=&workDir=
  *                                        background run → 201 {"runId"}
  *                                        (workDir: per-request override)
  *   POST /runs/{id}/cancel               cooperative cancel
  *   POST /schedules/{id}/update?name=&scheduleType=&runAtTime=&...
  *   GET  /streams                        active StreamingQuery progress
  *   POST /admin/sweep-timeouts?hours=    mark stale Running runs failed
  *
  * The coordination channel is the catalog (exactly the reference's
  * design: the API reads what the background run writes) — except
  * `/streams`, which reads the live `SparkSession.streams` registry:
  * the streaming twins (file-trigger, merge sink, dedup ingest) have
  * no catalog runs, so their observability comes straight from the
  * engine's StreamingQueryProgress.
  */
class ApiServer(catalog: RunCatalog, runner: PipelineRunner,
                uploadDir: String, port: Int = 0,
                schedules: Option[graft.scheduler.ScheduleRunner] = None,
                progress: Option[graft.runner.ProgressListener] = None,
                streamSession: Option[org.apache.spark.sql.SparkSession] = None) {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val MaxUploadBytes = 10 * 1024 * 1024

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private[graft] val executor = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(executor)

  def boundPort: Int = server.getAddress.getPort

  private def respond(x: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.add("Content-Type", contentType)
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private def query(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)

  private def handle(path: String, method: String, x: HttpExchange): Unit = {
    val q = query(x)
    (method, path.stripSuffix("/").split("/").toList.drop(1)) match {
      // catalog reads are driver-side rows: these GETs launch no Spark job
      case ("GET", List("runs")) =>
        respond(x, 200, Json.arr(catalog.listRunRows(q.get("pipelineName"), q.get("status"))
          .map(catalog.runJson)))
      case ("GET", List("runs", id)) =>
        catalog.findRun(id) match {
          case None => respond(x, 404, """{"error":"not found"}""")
          case Some(run) =>
            respond(x, 200, s"""{"run":[${catalog.runJson(run)}],""" +
              s""""steps":${Json.arr(catalog.stepRows(id).map(catalog.stepJson))}}""")
        }
      case ("GET", List("runs", id, "logs")) =>
        respond(x, 200, Json.arr(catalog.listLogRows(runId = Some(id)).map(catalog.logJson)))
      case ("GET", List("logs")) =>
        respond(x, 200, Json.arr(catalog.listLogRows(q.get("runId"), q.get("level"),
          q.get("limit").map(_.toInt).getOrElse(500)).map(catalog.logJson)))
      case ("POST", List("pipeline", "upload")) =>
        val rawBody = x.getRequestBody.readNBytes(MaxUploadBytes + 1)
        if (rawBody.length > MaxUploadBytes) respond(x, 413, """{"error":"upload too large"}""")
        else {
          val contentType = Option(x.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          // browser-form multipart (reference multer / ServletFileUpload
          // parity): extract the file part instead of saving the MIME
          // framing as file content; a malformed multipart body is a 400
          val parsed: Either[String, (String, Array[Byte])] =
            if (contentType.toLowerCase.startsWith("multipart/form-data")) {
              Multipart.firstFilePart(contentType, rawBody)
                .toRight("malformed multipart body or no file part")
            } else {
              Right(q.getOrElse("filename", s"upload_${System.currentTimeMillis}.csv") -> rawBody)
            }
          parsed match {
            case Left(err) => respond(x, 400, s"""{"error":"$err"}""")
            case Right((name, body)) =>
              val ext = name.split("\\.").last.toLowerCase
              if (ext != "csv" && ext != "json") {
                respond(x, 400, """{"error":"only .csv/.json accepted"}""")
              } else {
                Files.createDirectories(Paths.get(uploadDir))
                val dest = Paths.get(uploadDir, s"upload_${System.currentTimeMillis}.$ext")
                Files.write(dest, body)
                respond(x, 201, s"""{"filePath":"${dest.toString}"}""")
              }
          }
        }
      case ("POST", List("pipeline", "trigger")) =>
        q.get("filePath") match {
          case None => respond(x, 400, """{"error":"filePath required"}""")
          case Some(fp) if !Files.exists(Paths.get(fp)) =>
            respond(x, 400, """{"error":"no such file"}""")
          case Some(fp) =>
            // per-request work-dir override (reference ApiServlet.java:
            // 617-623 per-request DB overrides): stages land under the
            // override dir; the run still registers in the shared
            // catalog so monitoring and cancel see it
            val r = q.get("workDir").map(runner.withWorkDir).getOrElse(runner)
            val (runId, _) = r.runAsync(fp, q.getOrElse("pipelineName", "OrdersPipeline"))
            respond(x, 201, s"""{"runId":"$runId"}""")
        }
      case ("POST", List("runs", id, "cancel")) =>
        runner.cancel(id)
        respond(x, 202, s"""{"runId":"$id","status":"cancel requested"}""")
      case ("GET", List("runs", id, "progress")) =>
        val n = progress.map(_.recordsProcessed(id)).getOrElse(0L)
        // denominator for a progress bar (reference StepProgress
        // RowsProcessed/RowsTotal pair): the run's batch size, known
        // once Data Pull commits its count
        val total = catalog.stepRows(id)
          .find(s => s.step_number == 1 && s.status == "Success").map(_.rows_affected).getOrElse(0L)
        respond(x, 200, s"""{"runId":"$id","recordsProcessed":$n,"rowsTotal":$total}""")
      // schedule CRUD (C6 — reference ApiServlet schedules endpoints)
      case ("GET", List("schedules")) =>
        // user-supplied fields (name, runAtTime, sourcePath arrive from
        // the create form) must be JSON-escaped: one quote in a name
        // would otherwise break the whole listing for every client
        val rows = schedules.map(_.list()).getOrElse(Seq.empty).map { sc =>
          s"""{"scheduleId":${Json.str(sc.scheduleId)},"name":${Json.str(sc.name)},"scheduleType":${Json.str(sc.scheduleType)},""" +
            s""""runAtTime":${Json.str(sc.runAtTime)},"enabled":${sc.enabled},""" +
            s""""nextRunAt":${sc.nextRunAt.map(v => Json.str(v.toString)).getOrElse("null")}}"""
        }
        respond(x, 200, Json.arr(rows))
      case ("POST", List("schedules")) =>
        (schedules, q.get("name"), q.get("scheduleType"), q.get("runAtTime"), q.get("sourcePath")) match {
          case (Some(sr), Some(n), Some(st), Some(at), Some(sp)) =>
            val sc = sr.create(n, st, at,
              q.get("dayOfWeek").map(_.toInt).getOrElse(0),
              q.get("dayOfMonth").map(_.toInt).getOrElse(1), sp)
            respond(x, 201, s"""{"scheduleId":"${sc.scheduleId}"}""")
          case _ => respond(x, 400, """{"error":"name, scheduleType, runAtTime, sourcePath required"}""")
        }
      case ("POST", List("schedules", id, "update")) =>
        schedules.flatMap(sr => sr.get(id).map(sr -> _)) match {
          case Some((sr, s0)) =>
            val s1 = s0.copy(
              name = q.getOrElse("name", s0.name),
              scheduleType = q.getOrElse("scheduleType", s0.scheduleType),
              runAtTime = q.getOrElse("runAtTime", s0.runAtTime),
              dayOfWeek = q.get("dayOfWeek").map(_.toInt).getOrElse(s0.dayOfWeek),
              dayOfMonth = q.get("dayOfMonth").map(_.toInt).getOrElse(s0.dayOfMonth),
              sourcePath = q.getOrElse("sourcePath", s0.sourcePath))
            sr.update(s1) // recomputes nextRunAt from the new fields
            respond(x, 200, s"""{"scheduleId":"$id","updated":true}""")
          case None => respond(x, 404, """{"error":"not found"}""")
        }
      case ("POST", List("schedules", id, "enable")) =>
        schedules.foreach(_.setEnabled(id, enabled = true))
        respond(x, 200, s"""{"scheduleId":"$id","enabled":true}""")
      case ("POST", List("schedules", id, "disable")) =>
        schedules.foreach(_.setEnabled(id, enabled = false))
        respond(x, 200, s"""{"scheduleId":"$id","enabled":false}""")
      case ("POST", List("schedules", id, "delete")) =>
        schedules.foreach(_.delete(id))
        respond(x, 200, s"""{"scheduleId":"$id","deleted":true}""")
      case ("GET", List("streams")) =>
        // live streaming observability: one entry per active query on
        // the session, carrying the engine's own last progress (batch
        // id, rows/sec, event-time watermark) verbatim — the progress
        // and status objects serialize themselves to JSON
        val items = streamSession.map(_.streams.active.toSeq).getOrElse(Seq.empty).map { sq =>
          s"""{"id":"${sq.id}","runId":"${sq.runId}",""" +
            s""""name":${Option(sq.name).map(Json.str).getOrElse("null")},""" +
            s""""isActive":${sq.isActive},"status":${sq.status.json},""" +
            s""""lastProgress":${Option(sq.lastProgress).map(_.json).getOrElse("null")}}"""
        }
        respond(x, 200, Json.arr(items))
      case ("GET", List("streams", "ledger")) =>
        // streaming funnel observability: per-batch stage counts from
        // a StreamingDedupIngest disposition ledger (written when the
        // ingest runs with ledger=true). `workDir` names the ingest's
        // work dir; defaults to the runner's, and is CONFINED to the
        // runner's work root — the parameter is caller-supplied, and
        // an unconfined path would let any API caller probe arbitrary
        // filesystem directories for ledger-shaped parquet. The shared
        // reader owns the on-disk contract and fails CLOSED on
        // non-ledger/corrupt directories, so a bad path inside the
        // root answers [] instead of a raw Spark error.
        // confinement resolves SYMLINKS, not just `..` segments
        // (toRealPath): a link created under the work root that points
        // outside it would pass a lexical startsWith check and reopen
        // the arbitrary-directory probe this guard closes. A path that
        // does not exist cannot hold a ledger — answer [] without
        // probing anything.
        def real(p: java.nio.file.Path): Option[java.nio.file.Path] =
          try Some(p.toRealPath()) catch { case _: java.io.IOException => None }
        val root = real(java.nio.file.Paths.get(runner.workDir).toAbsolutePath)
        val base = real(java.nio.file.Paths.get(
          q.get("workDir").getOrElse(runner.workDir)).toAbsolutePath)
        (root, base) match {
          case (_, None) => respond(x, 200, "[]") // nonexistent: no ledger
          case (r, Some(b)) if r.isEmpty || !b.startsWith(r.get) =>
            respond(x, 403, """{"error":"workDir must be under the runner work root"}""")
          case (_, Some(b)) =>
            graft.streaming.StreamingDedupIngest.readLedger(catalog.spark, b.toString) match {
              case None => respond(x, 200, "[]")
              case Some(led) =>
                import org.apache.spark.sql.functions.{col, count, lit}
                val rows = led
                  .groupBy(col("batch_id"), col("stage"))
                  .agg(count(lit(1)).as("n"))
                  .orderBy(col("batch_id"), col("stage"))
                respond(x, 200, Json.arr(rows.toJSON.collect()))
            }
        }
      case ("POST", List("admin", "sweep-timeouts")) =>
        val swept = catalog.sweepTimeouts(q.get("hours").map(_.toInt).getOrElse(6))
        respond(x, 200, s"""{"swept":${swept.size}}""")
      case ("POST", List("admin", "clean-stages")) =>
        val cleaned = graft.runner.StageJanitor.cleanStages(
          runner.workDir, catalog, q.get("keepRuns").map(_.toInt).getOrElse(100))
        respond(x, 200, s"""{"cleaned":${cleaned.size}}""")
      // monitoring GUI (reference web/src/pages RunList+RunDetail with
      // 2s polling, RunDetail.jsx:67-96 — same poll loop, one page)
      case ("GET", Nil) | ("GET", List("ui")) =>
        respond(x, 200, ApiServer.statusPage, "text/html; charset=utf-8")
      case _ => respond(x, 404, """{"error":"not found"}""")
    }
  }

  server.createContext("/", (x: HttpExchange) =>
    try handle(x.getRequestURI.getPath, x.getRequestMethod, x)
    catch {
      case e: Throwable =>
        try respond(x, 500, s"""{"error":${Json.str(String.valueOf(e.getMessage))}}""")
        catch { case _: Throwable => () }
    })

  def start(): ApiServer = { server.start(); this }
  def stop(): Unit = {
    server.stop(0)
    executor.shutdown()
    executor.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object ApiServer {
  /** Single-page monitor: run list with pipelineName/status filters,
    * selected-run detail/progress, a logs pane with a level filter
    * (reference RunList.jsx filter bar + Logs.jsx), and a schedules
    * pane — list, create, enable/disable, delete — wired to the
    * `/schedules` CRUD (reference ApiServlet.java:197-281 + JSP
    * schedules view), refreshed from the JSON endpoints above.
    *
    * All catalog-sourced values (pipeline_name is attacker-settable via
    * the trigger endpoint) are rendered with `textContent` on
    * DOM-created nodes — never interpolated into HTML — so a crafted
    * name can't execute script in an operator's browser.
    */
  private[http] val statusPage: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft pipeline monitor</title>
      |<style>
      |body{font-family:system-ui,sans-serif;margin:2rem;background:#fafafa}
      |table{border-collapse:collapse;width:100%;background:#fff}
      |th,td{border:1px solid #ddd;padding:6px 10px;text-align:left;font-size:14px}
      |th{background:#f0f0f0}
      |tr.sel{background:#eef6ff}
      |#runs tr{cursor:pointer}
      |.Success{color:#1a7f37}.Failed{color:#d1242f}.Running{color:#9a6700}.Cancelled{color:#656d76}
      |pre{background:#fff;border:1px solid #ddd;padding:10px;overflow:auto}
      |.bar{margin:0 0 10px 0}
      |.bar input,.bar select{padding:4px 6px;margin-right:8px}
      |</style></head><body>
      |<h2>Pipeline runs</h2>
      |<div class="bar">
      |<input id="fPipeline" placeholder="pipelineName filter">
      |<select id="fStatus"><option value="">all statuses</option>
      |<option>Running</option><option>Success</option>
      |<option>Failed</option><option>Cancelled</option></select>
      |</div>
      |<table><thead><tr><th>run</th><th>pipeline</th><th>status</th>
      |<th>started</th><th>finished</th></tr></thead>
      |<tbody id="runs"></tbody></table>
      |<h3>Run detail</h3><pre id="detail">select a run</pre>
      |<h3>Logs</h3>
      |<div class="bar">
      |<select id="fLevel"><option value="">all levels</option>
      |<option>Info</option><option>Warning</option><option>Error</option></select>
      |</div>
      |<table><thead><tr><th>at</th><th>level</th><th>step</th>
      |<th>message</th><th>details</th></tr></thead>
      |<tbody id="logs"></tbody></table>
      |<h3>Schedules</h3>
      |<div class="bar">
      |<input id="sName" placeholder="name">
      |<select id="sType"><option>daily</option><option>weekly</option>
      |<option>monthly</option></select>
      |<input id="sTime" placeholder="HH:MM" size="6">
      |<input id="sSource" placeholder="source path">
      |<button id="sCreate">create</button>
      |</div>
      |<table><thead><tr><th>name</th><th>type</th><th>at</th>
      |<th>enabled</th><th>next run</th><th>actions</th></tr></thead>
      |<tbody id="schedules"></tbody></table>
      |<h3>Streams</h3>
      |<table><thead><tr><th>name</th><th>id</th><th>active</th>
      |<th>batch</th><th>rows</th><th>rows/sec</th><th>watermark</th></tr></thead>
      |<tbody id="streams"></tbody></table>
      |<h3>Ingest funnel (per batch)</h3>
      |<table><thead><tr><th>batch</th><th>stage</th><th>docs</th></tr></thead>
      |<tbody id="ledger"></tbody></table>
      |<script>
      |let sel = null;
      |function row(values, onclick) {
      |  const tr = document.createElement('tr');
      |  for (const v of values) {
      |    const td = document.createElement('td');
      |    td.textContent = v == null ? '' : String(v);
      |    tr.appendChild(td);
      |  }
      |  if (onclick) tr.addEventListener('click', onclick);
      |  return tr;
      |}
      |async function refresh() {
      |  const ps = new URLSearchParams();
      |  const fp = document.getElementById('fPipeline').value.trim();
      |  const fs = document.getElementById('fStatus').value;
      |  if (fp) ps.set('pipelineName', fp);
      |  if (fs) ps.set('status', fs);
      |  const runs = await (await fetch('/runs' + (ps.toString() ? '?' + ps : ''))).json();
      |  document.getElementById('runs').replaceChildren(...runs.map(r => {
      |    const tr = row([r.run_id, r.pipeline_name, r.status, r.started_at, r.finished_at],
      |      () => pick(r.run_id));
      |    if (r.run_id === sel) tr.classList.add('sel');
      |    if (/^[A-Za-z-]+$/.test(r.status || '')) tr.children[2].classList.add(r.status);
      |    return tr;
      |  }));
      |  if (sel) {
      |    const d = await (await fetch('/runs/' + encodeURIComponent(sel))).json();
      |    const p = await (await fetch('/runs/' + encodeURIComponent(sel) + '/progress')).json();
      |    document.getElementById('detail').textContent =
      |      JSON.stringify({run: d.run, steps: d.steps, progress: p}, null, 2);
      |    const lq = new URLSearchParams({runId: sel});
      |    const lv = document.getElementById('fLevel').value;
      |    if (lv) lq.set('level', lv);
      |    const logs = await (await fetch('/logs?' + lq)).json();
      |    document.getElementById('logs').replaceChildren(...logs.map(l =>
      |      row([l.log_at, l.level, l.step_number, l.message, l.details])));
      |  }
      |}
      |function pick(id) { sel = id; refresh(); }
      |async function refreshSchedules() {
      |  const scs = await (await fetch('/schedules')).json();
      |  document.getElementById('schedules').replaceChildren(...scs.map(s => {
      |    const tr = row([s.name, s.scheduleType, s.runAtTime, s.enabled, s.nextRunAt]);
      |    const td = document.createElement('td');
      |    const acts = [[s.enabled ? 'disable' : 'enable',
      |                   s.enabled ? 'disable' : 'enable'], ['delete', 'delete']];
      |    for (const [label, action] of acts) {
      |      const b = document.createElement('button');
      |      b.textContent = label;
      |      b.addEventListener('click', async () => {
      |        await fetch('/schedules/' + encodeURIComponent(s.scheduleId) + '/' + action,
      |          {method: 'POST'});
      |        refreshSchedules();
      |      });
      |      td.appendChild(b);
      |    }
      |    tr.appendChild(td);
      |    return tr;
      |  }));
      |}
      |document.getElementById('sCreate').addEventListener('click', async () => {
      |  const ps = new URLSearchParams({
      |    name: document.getElementById('sName').value,
      |    scheduleType: document.getElementById('sType').value,
      |    runAtTime: document.getElementById('sTime').value,
      |    sourcePath: document.getElementById('sSource').value});
      |  await fetch('/schedules?' + ps, {method: 'POST'});
      |  refreshSchedules();
      |});
      |async function refreshStreams() {
      |  const ss = await (await fetch('/streams')).json();
      |  document.getElementById('streams').replaceChildren(...ss.map(s => {
      |    const p = s.lastProgress || {};
      |    return row([s.name, s.id, s.isActive, p.batchId, p.numInputRows,
      |      p.inputRowsPerSecond, (p.eventTime || {}).watermark]);
      |  }));
      |}
      |async function refreshLedger() {
      |  const ls = await (await fetch('/streams/ledger')).json();
      |  document.getElementById('ledger').replaceChildren(
      |    ...ls.map(l => row([l.batch_id, l.stage, l.n])));
      |}
      |for (const id of ['fPipeline', 'fStatus', 'fLevel'])
      |  document.getElementById(id).addEventListener('change', refresh);
      |refresh(); refreshSchedules(); refreshStreams(); refreshLedger();
      |setInterval(refresh, 2000); setInterval(refreshSchedules, 5000);
      |setInterval(refreshStreams, 2000); setInterval(refreshLedger, 5000);
      |</script></body></html>""".stripMargin
}
