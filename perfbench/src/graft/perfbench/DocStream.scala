package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedupIngest

/** `doc_stream`: fixed-size micro-batches through
  * `StreamingDedupIngest.processBatch` (defaults, `simThreshold = 0.5`),
  * closed loop. The first [[WarmBatches]] batches warm the session and
  * the dedup state untimed; timed batches follow until the run's time is
  * up and compaction (`compactEvery = 16`) has run at least once.
  *
  * Input: the generated documents table (the sf0.1 shape) plus shifted
  * copies, `doc_id` and token suffixes shifted per copy as the 10x tier
  * of `graft.Bench` does; the seed decides which batch each document
  * lands in.
  *
  * Output checks: every offered document is accounted for exactly once
  * (admitted ids are distinct, offered ids); for the pinned seed the
  * count and hash of the ids admitted from batches 0..16 match.
  */
object DocStream {
  val BatchDocs = 200
  val BaseDocs = 5000L
  val Copies = 3
  val WarmBatches = 7
  val PinnedSeed = 1L

  /** The base documents and `Copies - 1` shifted copies of them. */
  def docs(spark: SparkSession): DataFrame = {
    val id = col("id")
    val base = spark.range(BaseDocs).select(id.as("doc_id"),
      Gen.text(id, 31, pmod(xxhash64(id, lit(32)), lit(90L)) + 10).as("text"))
    (0 until Copies).map(i => base
      .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      .withColumn("text", if (i == 0) col("text") else regexp_replace(col("text"), "(\\S+)", "$1_" + i)))
      .reduce(_ union _)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val failures = Seq.newBuilder[String]
    val maxBatches = BaseDocs * Copies / BatchDocs

    val (input, genS) = ctx.spans.time("setup.generate", "setup") {
      val d = docs(spark)
        .withColumn("batch", ((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(xxhash64(col("doc_id"), lit(ctx.seed)), col("doc_id"))) - 1)
          / BatchDocs).cast("long"))
        .repartition(ctx.cores, col("batch")).localCheckpoint()
      d.count()
      d
    }
    def batch(b: Long): DataFrame = input.filter(col("batch") === b).select(col("doc_id"), col("text"))
    val state = s"${ctx.work}/stream-state"
    val ingest = new StreamingDedupIngest(spark, state, simThreshold = 0.5)
    val (_, warmS) = ctx.spans.time("setup.warmup", "setup") {
      (0 until WarmBatches).foreach(b => ingest.processBatch(batch(b), b))
    }

    val times = Vector.newBuilder[(Long, Double)]
    val perBatch = Vector.newBuilder[(Long, Long, Double, Double)]
    val t0 = System.nanoTime()
    var b = WarmBatches.toLong
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (b < maxBatches && (b <= 16 || (!ctx.overBudget && elapsed < ctx.seconds))) {
      val before = ctx.meter.map(_.snapshot().map(_.id).toSet)
      val (r, dt) = ctx.spans.time(s"stream.batch-$b", "stream") {
        scala.util.Try(ingest.processBatch(batch(b), b))
      }
      r.failed.foreach(e => failures += s"batch $b threw: $e")
      times += b -> dt
      ctx.meter.foreach { m =>
        val js = m.snapshot().filterNot(j => before.get.contains(j.id))
        js.foreach(j => ctx.spans.add(s"job-${j.id}", j.submitMs.toDouble, j.endMs.toDouble, s"stream.batch-$b"))
        perBatch += JobMeter.totals(js)
      }
      b += 1
    }
    val wallS = elapsed
    val ts = times.result()
    val timedDocs = input.filter(col("batch") >= WarmBatches && col("batch") < b).count()

    // accounting over every processed batch: each offered document is
    // admitted at most once, and nothing is admitted that was not offered
    val offered = input.filter(col("batch") < b).select("doc_id")
    val nOffered = offered.count()
    val admittedRaw = spark.read.parquet(s"$state/admitted").select("doc_id")
    val nAdmittedRaw = admittedRaw.count()
    val adm = admittedRaw.distinct()
    val nAdmitted = adm.count()
    if (nAdmittedRaw != nAdmitted) failures += s"admitted ${nAdmittedRaw - nAdmitted} duplicate ids"
    val stray = adm.join(offered, Seq("doc_id"), "left_anti").count()
    if (stray > 0) failures += s"$stray admitted ids were never offered"
    // the pin covers batches 0..16, which every run processes: later
    // batches never change what an earlier one admitted
    val pinned = adm.join(input.filter(col("batch") <= 16).select("doc_id"), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)), coalesce(sum(pmod(xxhash64(col("doc_id")), lit(2147483647L))), lit(0L))).head()
    val admitted = s"17:${pinned.getLong(0)}:${pinned.getLong(1)}"
    val computed = Seq("admitted" -> admitted)
    if (ctx.seed == PinnedSeed)
      ctx.pins.check("doc_stream", s"seed$PinnedSeed.admitted", admitted).foreach(failures += _)

    val secs = ts.map(_._2)
    val medB = Stats.median(secs)
    val (tailB, _) = Stats.tail(secs)
    val docsPerS = timedDocs / wallS
    val detail = Seq("stream.docs_per_s" -> docsPerS, "stream.batch_s.p50" -> medB,
      "stream.batch_s.tail" -> tailB, "info.batches" -> b.toDouble,
      "info.setup_generate_s" -> genS, "info.setup_warmup_s" -> warmS)
    val layers =
      if (!ctx.traced) Nil
      else {
        val pb = perBatch.result()
        val compactBatches = ts.filter { case (id, _) => id > 0 && id % 16 == 0 }.map(_._2)
        val (_, bytesIdx) = Files2.du(s"$state/band_index")
        val (_, bytesAdm) = Files2.du(s"$state/admitted")
        detail ++ Seq(
          "stream.jobs_per_batch" -> Stats.median(pb.map(_._1.toDouble)),
          "stream.shuffle_rows_per_batch" -> Stats.median(pb.map(_._2.toDouble)),
          "stream.executor_cpu_s_per_batch" -> Stats.median(pb.map(_._3)),
          "stream.state_bytes" -> (bytesIdx + bytesAdm).toDouble,
          "stream.compact_s" -> (Stats.median(compactBatches) - medB),
          "stream.admit_ratio" -> nAdmitted.toDouble / nOffered,
          "spark.driver_gap_frac" -> (1.0 - pb.map(_._4).sum / (wallS * ctx.cores)))
      }
    Outcome(genS + warmS, medB, docsPerS, b + 1, failures.result(), detail, layers, computed)
  }
}
