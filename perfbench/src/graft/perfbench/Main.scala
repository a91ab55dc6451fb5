package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final case class Outcome(
    setupS: Double,                  // workload set-up, session start excluded
    opS: Double,                     // median seconds of one unit of work
    workPerS: Double,                // units of work per second
    attempted: Long,
    failures: Seq[String],
    detail: Seq[(String, Double)],   // named workload metrics, every run;
                                     // "info." ones are never per-layer
    layers: Seq[(String, Double)],   // per-layer metrics, traced runs only
    computed: Seq[(String, String)] = Nil) // check values, for pinning

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
                     work: String, pins: Pins, spans: Spans, meter: Option[JobMeter],
                     budgetEndNs: Long) {
  def cores: Int = spark.sparkContext.defaultParallelism
  /** True once the run has used the share of its deadline set aside for
    * set-up and the timed loop: loops then stop at their hard minimum,
    * so a slow host window still ends in a result. */
  def overBudget: Boolean = System.nanoTime() > budgetEndNs
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <dir> --pins <file>`.
  *
  * Prints a detail line (every named metric, the host meter, failures)
  * and then the result line: `{"correct", "attempted", "failed",
  * "metrics"}` with the end-to-end metrics, or with the per-layer metrics
  * when traced. Exits 1 when an output check failed.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "etl_monitored" -> EtlMonitored.run,
    "query_mix" -> QueryMix.run,
    "doc_stream" -> DocStream.run)

  /** Share of the deadline after which timed loops stop at their minimum;
    * the rest is left for the last unit of work, the checks and exit. */
  val BudgetShare = 0.6

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val startNs = System.nanoTime()
    val deadlineS = a("deadline").toDouble
    // a run that outlives its budget (a leaked non-daemon thread, a
    // wedged job) fails loudly instead of stalling whoever waits on it
    val watchdog = new Thread(() => {
      Thread.sleep((deadlineS * 1000).toLong)
      System.err.println(s"[perfbench] $workload exceeded its deadline; halting")
      Runtime.getRuntime.halt(3)
    }, "perfbench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    val meterBefore = Host.meterMs()
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val cores = Runtime.getRuntime.availableProcessors()
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a("work")}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val meter = if (traced) Some(JobMeter.install(spark.sparkContext)) else None
    val spans = new Spans(traced)
    val ctx = Ctx(spark, seed, seconds, traced, a("work"), Pins.load(a("pins")), spans, meter,
      budgetEndNs = startNs + (BudgetShare * deadlineS * 1e9).toLong)

    val o = try body(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(Double.NaN, Double.NaN, Double.NaN, 1, Seq(s"workload threw: $e"), Nil, Nil)
    }
    val meterAfter = Host.meterMs()
    val heapMb = Host.heapRetainedMb()
    val setupS = sessionS + o.setupS

    val e2e = Seq("setup_s" -> setupS, "op_s" -> o.opS, "work_per_s" -> o.workPerS,
      "heap_retained_mb" -> heapMb)
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "traced" -> traced.toString, "cores" -> Json.num(ctx.cores),
      "host_meter_ms" -> Json.obj(Seq("before" -> Json.num(meterBefore), "after" -> Json.num(meterAfter))),
      "session_s" -> Json.num(sessionS),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(o.detail.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(o.layers.map { case (k, v) => k -> Json.num(v) }),
      "computed" -> Json.obj(o.computed.map { case (k, v) => k -> Json.str(v) }),
      "failures" -> o.failures.map(Json.str).mkString("[", ",", "]")))
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    Files.writeString(out.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"), detail + "\n")
    if (traced) spans.writeTo(out.resolve(s"$workload-seed$seed.spans.jsonl"))
    println("PERFBENCH_DETAIL " + detail)
    val metrics = if (traced) o.layers.filterNot(_._1.startsWith("info.")) else e2e
    println(Json.obj(Seq(
      "correct" -> (o.failures.isEmpty).toString,
      "attempted" -> Json.num(o.attempted.toDouble),
      "failed" -> Json.num(o.failures.size.toDouble),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.obj(Seq("value" -> Json.num(v))) }))))
    System.out.flush()
    try spark.stop() catch { case _: Throwable => () }
    // exit explicitly: the API server's request pool is non-daemon and
    // outlives ApiServer.stop(), which would keep the JVM alive
    sys.exit(if (o.failures.isEmpty) 0 else 1)
  }
}
