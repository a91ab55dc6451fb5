package graft.runner

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.RunCatalog
import graft.merge.MergeWriter
import graft.model.Schemas
import graft.ops.{Extract, Transform, Validation}
import graft.sources.Ingest

/** Run lifecycle: the sequential 4-step DAG with fail-fast, rows-
  * affected capture, cancellation and per-run job groups
  * (SURVEY.md §2.10 C1-C5, §3).
  *
  * Each step is one DataFrame transformation + one write action (the
  * reference's stored-procedure shape, §3 closing note). Steps run on
  * the cluster; only catalog bookkeeping happens on the driver.
  */
class PipelineRunner(spark: SparkSession, catalog: RunCatalog, val workDir: String) {

  private val landingDir  = s"$workDir/landing_orders"
  private val stagingDir  = s"$workDir/staging_orders"
  private val transDir    = s"$workDir/staging_orders_transformed"
  private val rejectsDir  = s"$workDir/rejected_orders"
  val targetDir           = s"$workDir/target_orders"

  // process-wide (companion): a run triggered on a per-request
  // override runner must still see a cancel() issued on the primary
  private def cancelled = PipelineRunner.cancelled

  /** C4: cooperative cancellation — flag checked between steps, plus
    * `cancelJobGroup` to interrupt in-flight stages of that run.
    */
  def cancel(runId: String): Unit = {
    cancelled.add(runId)
    spark.sparkContext.cancelJobGroup(s"run-$runId")
  }

  /** A runner over a different work dir sharing this one's session,
    * catalog and cancellation set — the per-request override surface
    * (reference ApiServlet.java:617-623 per-request DB overrides).
    */
  def withWorkDir(dir: String): PipelineRunner = new PipelineRunner(spark, catalog, dir)

  case class RunResult(runId: String, status: String, rowsPerStep: Map[String, Long])

  /** Execute the 4 steps for one source file. Fail-fast: an exception
    * marks the Running step Failed + the run Failed; later steps stay
    * Pending (C1).
    */
  def run(sourcePath: String, pipelineName: String = "OrdersPipeline"): RunResult =
    runWithId(catalog.startRun(pipelineName), sourcePath)

  /** Background execution (C2): run header + pending steps are created
    * synchronously (visible to pollers immediately, reference
    * `api/server.js:178-195`), the steps execute on the passed
    * ExecutionContext.
    */
  def runAsync(sourcePath: String, pipelineName: String = "OrdersPipeline")
              (implicit ec: scala.concurrent.ExecutionContext)
      : (String, scala.concurrent.Future[RunResult]) = {
    val runId = catalog.startRun(pipelineName)
    (runId, scala.concurrent.Future(runWithId(runId, sourcePath)))
  }

  /** A validated step (Extract, Transform): the clean rows write in ONE
    * pass with the counts riding on an Observation; the rejects write
    * (a cheap filtered re-read, `validated` is evaluated again) runs
    * only when the observed reject count is non-zero, and logs a
    * Warning. Returns the clean row count.
    */
  private def validatedStep(runId: String, stepNumber: Int, stepName: String,
                            validated: => DataFrame, outDir: String,
                            warning: Long => String, details: Option[String]): Long = {
    val obs = new org.apache.spark.sql.Observation()
    Ingest.writeRunSlice(Validation.clean(validated.observe(obs,
        sum(when(col("reject_reason").isNotNull, 1L).otherwise(0L)).as("n_rej"),
        sum(when(col("reject_reason").isNull, 1L).otherwise(0L)).as("n_clean"))),
      outDir, runId)
    def observed(name: String): Long =
      Option(obs.get(name)).collect { case l: java.lang.Long => l.longValue }.getOrElse(0L)
    val nRej = observed("n_rej")
    if (nRej > 0) {
      Ingest.writeRunSlice(Validation.rejects(validated), rejectsDir, runId,
        subPartition = Some("rejected_in" -> stepName))
      catalog.log(runId, "Warning", stepNumber, warning(nRej), details)
    }
    observed("n_clean")
  }

  private def runWithId(runId: String, sourcePath: String): RunResult = {
    spark.sparkContext.setJobGroup(s"run-$runId", s"pipeline run $runId", interruptOnCancel = true)
    val rows = scala.collection.mutable.Map[String, Long]()
    var step = 0
    try {
      val steps: Seq[(String, () => Long)] = Seq(
        "Data Pull" -> (() => {
          val df =
            if (sourcePath.toLowerCase.endsWith(".json")) Ingest.readJson(spark, sourcePath, runId)
            else if (sourcePath.toLowerCase.endsWith(".xml")) Ingest.readXml(spark, sourcePath, runId)
            else Ingest.readCsv(spark, sourcePath, runId)
          Ingest.writeLanding(df, landingDir, runId)
        }),
        "Extract" -> (() => validatedStep(runId, 2, "Extract",
          Extract.extract(Ingest.readStage(spark, landingDir, runId, Schemas.landing)),
          stagingDir, n => s"$n rows rejected", Some("see rejected_orders"))),
        "Transform" -> (() => validatedStep(runId, 3, "Transform",
          Transform.transform(Ingest.readStage(spark, stagingDir, runId, Schemas.staging)),
          transDir, n => s"$n rows rejected (negative amount)", None)),
        "Migrate" -> (() => {
          val updates = Ingest.readStage(spark, transDir, runId, Schemas.transformed)
            .select(col("order_id"), col("customer_id"), col("amount"), col("order_date"),
              col("amount_category"), monotonically_increasing_id().as("_src_order"))
          val n = MergeWriter.merge(spark, targetDir, updates, "order_id", "_src_order")
          // routine target maintenance: periodically fold the bucket
          // references into a self-contained version, then reclaim
          // unreferenced snapshots; never fails the run, but failures
          // are surfaced to the run log so a corrupt manifest can't
          // silently stop maintenance forever
          scala.util.Try {
            val ver = MergeWriter.currentVersion(targetDir)
            if (ver > 0 && ver % 16 == 0) {
              MergeWriter.compact(spark, targetDir)
              // vacuum only on the compact cadence, with a deep tail:
              // a concurrent readTarget that resolved an older version
              // pointer keeps its files for ≥8 further merges
              MergeWriter.vacuum(targetDir, keep = 8)
            }
          }.failed.foreach(e => catalog.log(runId, "Warning", 4,
            "target maintenance (compact/vacuum) failed", Some(String.valueOf(e.getMessage))))
          n
        }))

      for (((name, body), i) <- steps.zipWithIndex) {
        step = i + 1
        if (cancelled.contains(runId)) {
          catalog.updateStep(runId, step, "Cancelled")
          catalog.finishRun(runId, "Cancelled")
          catalog.log(runId, "Warning", step, "run cancelled")
          return RunResult(runId, "Cancelled", rows.toMap)
        }
        catalog.updateStep(runId, step, "Running")
        catalog.log(runId, "Info", step, s"$name started")
        val n = body()
        rows(name) = n
        catalog.updateStep(runId, step, "Success", n)
        catalog.log(runId, "Info", step, s"$name finished", Some(s"rows=$n"))
      }
      catalog.finishRun(runId, "Success")
      RunResult(runId, "Success", rows.toMap)
    } catch {
      case e: Throwable =>
        // A cancel() mid-stage interrupts the Spark job and surfaces
        // here as an exception — record Cancelled, not Failed
        // (reference java_code PipelineRunner.java:205-210).
        val status = if (cancelled.contains(runId)) "Cancelled" else "Failed"
        catalog.updateStep(runId, step, status, 0L, Some(String.valueOf(e.getMessage)))
        catalog.finishRun(runId, status)
        val (lvl, msg) = if (status == "Cancelled") ("Warning", "run cancelled") else ("Error", "step failed")
        catalog.log(runId, lvl, step, msg, Some(String.valueOf(e.getMessage)))
        RunResult(runId, status, rows.toMap)
    } finally {
      spark.sparkContext.clearJobGroup()
      cancelled.remove(runId)
    }
  }
}

object PipelineRunner {
  private val cancelled = ConcurrentHashMap.newKeySet[String]()
}
