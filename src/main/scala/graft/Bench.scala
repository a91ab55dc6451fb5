package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{CacheScope, Fs, Json, SparkMeter}

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * Timing materializes the full physical plan via
  * `queryExecution.toRdd.count()` — a plain `df.count()` would let
  * Catalyst prune away the expensive projections being measured.
  *
  * The headline, 10× and 100× tiers share one measurement path
  * ([[runTier]]); README "Bench tiers" says why each query family is in
  * its tier.
  */
object Bench {

  /** Headline set: one representative per operator family plus the
    * end-to-end composites. */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_topn", "q_window_rownum", "q_window_running",
    "q_events_sessionize", "q_dedup_exact", "q_minhash_lsh_pairs",
    "q_jaccard_pairs", "q_simhash", "q_cosine_topk", "q_nearest_centroid",
    "q_asof_join", "q_range_join", "q_winnow",
    "q_length_decile", "q_span_mask", "q_merge_sql", "q_ivf_topk_probe2",
    "q_frame_sample",
    "q_merge_delete", "q_merge_composite",
    "q_curation_pipeline", "q_decontaminate",
    "q_nb_classify", "q_span_rewrite",
    "q_sorted_neighborhood", "q_rrf_fusion",
    "q_image_neardup", "q_audio_neardup", "q_contamination_span",
    "q_multimodal_neardup", "q_pagerank", "q_retrieval_metrics",
    "q_span_coverage", "q_selective_risk",
    "q_hits", "q_hilbert_layout", "q_key_skew",
    "q_label_prop", "q_kcore", "q_copurchase", "q_bpe_encode",
    "q_cc_bigstar", "q_semantic_dedup",
    "q_interval_merge", "q_assoc_rules", "q_ohlc",
    "q_rfm", "q_interval_join",
    "q_pmi_terms", "q_seasonal_spikes", "q_hard_negatives",
    "q_cusum_shift", "q_label_noise",
    "q_peak_concurrency", "q_burstiness")

  /** The most expensive headline queries, re-timed on 10× data. */
  private val scaleNames = Seq("q1_agg", "q_join_agg", "q_minhash_lsh_pairs",
    "q_jaccard_pairs", "q_curation_pipeline", "q_merge_sql",
    "q_merge_composite", "q_span_mask", "q_span_rewrite",
    "q_sorted_neighborhood", "q_contamination_span",
    "q_pagerank", "q_hits", "q_label_prop", "q_copurchase",
    "q_interval_merge", "q_assoc_rules", "q_pmi_terms", "q_cc_bigstar",
    "q_retrieval_metrics", "q_nb_classify", "q_selective_risk",
    "q_label_noise", "q_kcore", "q_bpe_encode", "q_rfm", "q_merge_delete")

  /** The opt-in 100× spot check (`SPARK_GRAFT_SCALE100=1`, 25-35 min at
    * copies=100): the queries whose scale argument leans most on it. */
  private val scale100Names =
    Seq("q_pagerank", "q_retrieval_metrics", "q_assoc_rules")

  private[graft] type Lookup = String => (SparkSession, String) => DataFrame

  /** Wall seconds of one full materialization of `name` over `dir`, or
    * None when it throws. Each execution runs inside CacheScope.loan, so
    * the engine's internal pins do not leak into the next measurement. */
  private def timed(spark: SparkSession, lookup: Lookup, dir: String, name: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      CacheScope.loan { lookup(name)(spark, dir).queryExecution.toRdd.count(): Unit }
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name on $dir: ${e.getMessage}"); None
    }
  }

  /** Host-contention sentinel: `probe` (q1_agg) re-timed between every
    * `every`-th measurement (and once more at each window's close).
    * This VM's noisy neighbors swing identical plans 2-7×; three
    * rounds of cross-round adjudication were spent re-litigating
    * numbers that were pure window noise. The sentinel gives each
    * measurement a local meter reading: a query is SUSPECT when a
    * surrounding sentinel deviates >1.5× (either direction) from the
    * window's sentinel median — i.e. the host was provably not in
    * steady state around that measurement — and the emitted JSON
    * self-labels it instead of exporting it as a trustworthy minimum.
    * The sentinel is a meter, not a benchmark entry: it always runs
    * `q1_agg` regardless of SPARK_GRAFT_QUERIES, and its own timings
    * appear only under the "sentinel" key. `probe` returns a reading's
    * wall seconds, or None when it threw: a failed reading is `null` in
    * "times", stays out of the median and contaminates the whole tier
    * (a meter that cannot read says nothing about the window).
    */
  private[graft] final class Sentinel(probe: () => Option[Double], every: Int = 4,
                                      steadyDefault: Double = 1.0) {
    private val marks = scala.collection.mutable.ArrayBuffer[(Int, Option[Double])]()
    private var pos = 0
    probe(): Unit // untimed warm: the first reading would otherwise
                  // carry plan-compile cost and bias the window median
    /** Call immediately before each timed measurement; returns the
      * measurement's window position for later suspect lookup. */
    def mark(): Int = {
      if (pos % every == 0) marks += ((pos, probe()))
      val p = pos; pos += 1; p
    }
    /** Like [[mark]], but ALWAYS takes a sentinel reading — used for
      * the bounded suspect-retry pass, where each retried measurement
      * must carry its own local meter instead of riding a stale one. */
    def markForced(): Int = {
      marks += ((pos, probe()))
      val p = pos; pos += 1; p
    }
    /** One closing sentinel so the last measurements have an "after" meter. */
    def close(): Unit = marks += ((pos, probe()))
    def median: Double = {
      val s = marks.flatMap(_._2).sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    /** Recorded steady state of the q1_agg meter at the driver's sf0.1
      * setting: ~0.5–1.0 s in every clean window ever exported, BOTH
      * tiers. A window whose sentinel MEDIAN exceeds 2× this was
      * contended throughout, and per-query brackets cannot be trusted
      * to catch every victim — round 18 exported a scale tier at
      * median 4.31 where a 4.7× reading (q_span_rewrite) escaped the
      * brackets while nine neighbors were caught. Such a window
      * self-flags WHOLE-TIER. Overridable for non-default scales via
      * SPARK_GRAFT_SENTINEL_STEADY; at the small local-smoke SFs the
      * median sits far below the threshold, so the tier rule only
      * ever fires on genuinely contended windows. */
    private val steady = sys.env.get("SPARK_GRAFT_SENTINEL_STEADY")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(steadyDefault)
    def tierContaminated: Boolean = marks.exists(_._2.isEmpty) || median > 2 * steady
    /** True when the whole window is contaminated ([[tierContaminated]])
      * or a sentinel adjacent to window position `p` deviates >1.5×
      * from the window median (either direction). */
    def suspect(p: Int): Boolean = tierContaminated || {
      val m = median
      m > 0 && {
        val around = marks.filter(_._1 <= p).lastOption.toSeq ++
          marks.find(_._1 > p).toSeq
        around.flatMap(_._2).exists(s => s > 1.5 * m || s * 1.5 < m)
      }
    }
    def json: String = Json.obj(Seq("every" -> every,
      "times" -> Json.arr(marks.map(_._2.fold("null")(_.toString))),
      "median" -> median, "steady" -> steady, "tier_contaminated" -> tierContaminated))
  }

  /** One tier's measurements: each query's samples in pass order (None
    * where the pass threw), the tier's sentinel, the queries whose every
    * sample sat next to a deviant sentinel, and each query's shuffle
    * totals from the metered pass. */
  private[graft] final case class Tier(samples: Seq[(String, Seq[Option[Double]])], sentinel: Sentinel,
                                       suspect: Seq[String], shuffle: Seq[(String, SparkMeter.Shuffle)]) {
    /** Min over a query's samples, or -1 when any of them threw: a fast
      * failure's wall time would pass off a crash as a good number. */
    val times: Seq[(String, Double)] = samples.map { case (n, s) =>
      n -> (if (s.forall(_.isDefined)) s.flatten.min else -1.0)
    }
    /** Sum over the measured queries only. */
    def total: Double = times.map(_._2).filter(_ >= 0).sum
    /** The JSON fields every tier emits, in order; a pass that threw is `null`. */
    def fields: Seq[(String, Any)] = Seq(
      "passes" -> Json.obj(samples.map { case (n, s) => n -> Json.arr(s.map(_.fold("null")(_.toString))) }),
      "sentinel" -> sentinel.json,
      "suspect" -> Json.arr(suspect.map(Json.str)),
      "shuffle" -> Json.obj(shuffle.map { case (n, s) => n -> s.json }))
  }

  /** The measurement sequence every tier shares: two timed passes over
    * `names` on `dir` (the second also meters shuffle rows and bytes
    * through [[SparkMeter]]), each measurement bracketed by the
    * sentinel, then one bounded retry of the queries whose both passes
    * were suspect. `lookup` resolves query names (a test passes a
    * fake). */
  private[graft] def runTier(spark: SparkSession, dir: String, names: Seq[String],
                             steadyDefault: Double = 1.0, lookup: Lookup = SparkEntry.queries): Tier = {
    def time(n: String) = timed(spark, lookup, dir, n)
    val sen = new Sentinel(() => time("q1_agg"), steadyDefault = steadyDefault)
    // two passes, min per query: this host has noisy neighbors (load
    // swings 2-5x with identical plans), so the min is the steady-state
    // signal, and both passes are emitted so a cross-round regression
    // is adjudicable from the JSON alone: both slow → real, one → noise
    val pass1 = names.map { n => val p = sen.mark(); n -> ((p, time(n))) }.toMap
    // pass 2 also records shuffle rows/bytes: the meter's fence jobs
    // sit OUTSIDE the timed window, and shuffle volume is a plan
    // property — contention moves seconds, never rows — so one metered
    // pass is the whole signal
    val shuffle = Seq.newBuilder[(String, SparkMeter.Shuffle)]
    val pass2 = names.map { n =>
      val p = sen.mark()
      val (dt, w) = SparkMeter.measure(spark)(time(n))
      shuffle += n -> w.shuffle
      n -> ((p, dt))
    }.toMap
    sen.close()
    // a query is suspect only if BOTH its passes sat next to a deviant
    // sentinel — one clean pass means the min is a clean sample. Those
    // get ONE bounded retry (a third sample minutes later usually lands
    // in a calm moment), each with its own forced sentinel reading.
    val flagged = names.filter(n => sen.suspect(pass1(n)._1) && sen.suspect(pass2(n)._1))
    val retry = flagged.map { n => val p = sen.markForced(); n -> ((p, time(n))) }.toMap
    if (flagged.nonEmpty) sen.close()
    def samples(n: String) = Seq(pass1(n), pass2(n)) ++ retry.get(n)
    Tier(names.map(n => n -> samples(n).map(_._2)), sen,
      names.filter(n => samples(n).forall(s => sen.suspect(s._1))), shuffle.result())
  }

  /** The bench's JSON line: the headline tier's fields, then `sections`. */
  private[graft] def headlineJson(t: Tier, sections: Seq[(String, Any)]): String =
    Json.obj(Seq("metric" -> Json.str("total"), "value" -> t.total, "unit" -> Json.str("sec"),
      "queries" -> Json.obj(t.times)) ++ t.fields ++ sections)

  private[graft] def scaleJson(copies: Int, t: Tier): String =
    Json.obj((("copies" -> copies) +: t.times) ++ t.fields)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Local-iteration filter: SPARK_GRAFT_QUERIES=q_a,q_b limits the
    // headline AND scale tiers to those queries (e.g. to bisect one
    // regression without paying for the whole suite). Unset = all.
    val onlyQ: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    def selected(tier: Seq[String]) = tier.filter(n => onlyQ.forall(_.contains(n)))
    val queries = SparkEntry.queries
    val names = selected(headline.filter(queries.contains))
    // JVM/codegen warm-up on the smallest fixture beside the bench's
    // (sf0.001), so the timed passes measure steady-state throughput,
    // not JIT compilation
    val warmDir = Paths.get(sfDir).resolveSibling("sf0.001").toString
    names.foreach(n => timed(spark, queries, warmDir, n): Unit)
    val head = runTier(spark, sfDir, names, lookup = queries)

    // Engine-level end-to-end numbers (SURVEY §8): the 4-step pipeline
    // over the reference's two large fixtures — the 100k-row CSV
    // (generate-large-csv.mjs cycle) and the 1M-row generator file
    // (gen_1m_csv.py shape, made deterministic so runs are comparable).
    // Generation is outside the timed window; the run is source →
    // extract/clean → transform → merge-load, catalog writes included.
    def pipelineSecs(n: Int): Double = {
      val dir = Files.createTempDirectory(s"graft_bench_pipe_$n")
      val csv = dir.resolve(s"orders_$n.csv")
      val amounts = Seq("15.99", "25.00", "33.50", "45.99", "59.00", "75.25", "99.50",
        "120.00", "150.00", "185.00", "210.00", "275.00", "350.00", "499.99")
      val start = java.time.LocalDate.of(2024, 1, 1)
      val w = Files.newBufferedWriter(csv)
      try {
        w.write("OrderId,CustomerId,Amount,OrderDate\n")
        var i = 1
        while (i <= n) {
          w.write(s"ORD-$i,C${(i % 2000) + 1},${amounts(i % amounts.length)},${start.plusDays(i % 400)}\n")
          i += 1
        }
      } finally w.close()
      val runner = new graft.runner.PipelineRunner(spark,
        new graft.catalog.RunCatalog(spark, s"$dir/catalog"), dir.toString)
      val t0 = System.nanoTime()
      val res = CacheScope.loan { runner.run(csv.toString) }
      val dt = (System.nanoTime() - t0) / 1e9
      if (res.status != "Success") System.err.println(s"[bench] pipeline($n): ${res.status}")
      // repeated bench runs must not fill /tmp with generated CSVs,
      // pipeline stages, and catalogs
      Fs.deleteRecursively(dir)
      dt
    }
    // min-of-two, like the headline set: a single pass on this noisy
    // host has shown 35% swings with identical code — the min is the
    // steady-state signal. Each pass generates its own fixture (cheap,
    // outside the timed window inside pipelineSecs).
    // SPARK_GRAFT_PIPE=0 skips the pipeline tier (local iteration)
    val pipeline = if (sys.env.get("SPARK_GRAFT_PIPE").contains("0")) "null" else {
      val p100k = Seq(pipelineSecs(100000), pipelineSecs(100000))
      val p1m = Seq(pipelineSecs(1000000), pipelineSecs(1000000))
      Json.obj(Seq("fixture_100k_sec" -> p100k.min, "file_1m_sec" -> p1m.min,
        "passes" -> Json.obj(Seq("fixture_100k_sec" -> Json.arr(p100k), "file_1m_sec" -> Json.arr(p1m)))))
    }

    val scale = scaleSmoke(spark, sfDir, !sys.env.get("SPARK_GRAFT_SCALE").contains("0"),
      "SPARK_GRAFT_SCALE_COPIES", 10, selected(scaleNames))
    val scale100 = scaleSmoke(spark, sfDir, sys.env.get("SPARK_GRAFT_SCALE100").contains("1"),
      "SPARK_GRAFT_SCALE100_COPIES", 100, selected(scale100Names))
    val streaming = streamingSmoke(spark, sfDir)

    val json = headlineJson(head, Seq("pipeline" -> pipeline, "scale" -> scale,
      "scale100" -> scale100, "streaming" -> streaming, "sf" -> Json.str(sfDir)))
    println(json)
    // Also persist to a file the driver can read whole: the per-pass
    // records overflowed the driver's captured stdout tail in round 12,
    // truncating BENCH_r12.json mid-record.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json")
    Files.write(Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    spark.stop()
  }

  /** Streaming-ingest throughput: the documents corpus driven through
    * [[graft.streaming.StreamingDedupIngest]] (quality gate off,
    * near-dup LSH index on) as 5 micro-batches — the state-heavy
    * streaming path, where per-batch cost is signatures + a band
    * equi-join against the persistent index. Reports docs/sec over the
    * whole run. Min-of-two like every other tier — each pass gets a
    * FRESH work dir, so the second run rebuilds its LSH state from
    * zero instead of deduping against the first pass's index (which
    * would measure a different, trivially cheap workload).
    * `SPARK_GRAFT_STREAM=0` skips. Nothing thrown in here may escape —
    * the earlier sections' timings are already measured.
    */
  private def streamingSmoke(spark: SparkSession, sfDir: String): String = {
    if (sys.env.get("SPARK_GRAFT_STREAM").contains("0")) return "null"
    // (docs, admitted, seconds) for one from-scratch ingest run
    def onePass(): Option[(Long, Long, Double)] = {
      val work = Files.createTempDirectory("graft_bench_stream")
      try {
        import org.apache.spark.sql.functions.col
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val n = docs.count()
        val ingest = new graft.streaming.StreamingDedupIngest(
          spark, work.toString, simThreshold = 0.5)
        val t0 = System.nanoTime()
        (0 until 5).foreach { b =>
          ingest.processBatch(docs.filter(col("doc_id") % 5 === b), b.toLong)
        }
        val admitted = ingest.admitted().map(_.count()).getOrElse(0L)
        Some((n, admitted, (System.nanoTime() - t0) / 1e9))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] streaming pass skipped: ${e.getMessage}")
          None
      } finally Fs.deleteRecursively(work)
    }
    val runs = Seq(onePass(), onePass()).flatten
    if (runs.isEmpty) "null"
    else {
      val (n, admitted, _) = runs.head
      val dt = runs.map(_._3).min
      Json.obj(Seq("docs" -> n, "batches" -> 5, "admitted" -> admitted, "total_sec" -> dt,
        "docs_per_sec" -> n / dt, "passes" -> Json.arr(runs.map(_._3))))
    }
  }

  /** One scaled tier: `names` at `copies`× the bench scale factor
    * (`copiesVar`, else `copiesDefault`), on data generated outside the
    * timed windows and deleted afterwards. `null` when the tier is off
    * (`enabled` false, non-positive copies, or every query filtered
    * out); `{"error":...}` when it throws — nothing thrown in here may
    * escape, the earlier tiers are already measured.
    */
  private def scaleSmoke(spark: SparkSession, sfDir: String, enabled: Boolean,
                         copiesVar: String, copiesDefault: Int, names: Seq[String]): String = {
    // a malformed copies value falls back to the default
    val copies = sys.env.get(copiesVar)
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(copiesDefault)
    if (!enabled || copies < 1 || names.isEmpty) return "null"
    val dir = Files.createTempDirectory("graft_bench_scale")
    try scaleJson(copies, scaleTier(spark, sfDir, dir.toString, copies, names))
    catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[bench] scale tier at ${copies}x failed: $msg")
        Json.obj(Seq("error" -> Json.str(msg)))
    } finally Fs.deleteRecursively(dir)
  }

  /** Generate the `copies`× dataset under `dir`, warm it, and run the
    * tier over it. */
  private[graft] def scaleTier(spark: SparkSession, sfDir: String, dir: String, copies: Int,
                               names: Seq[String], lookup: Lookup = SparkEntry.queries): Tier = {
    writeScaled(spark, sfDir, dir, copies)
    // untimed warm pass first: the scaled parquet was JUST written, so
    // the first execution pays cold page-cache first-touch and
    // scale-specific codegen — measured at 2-3x the warm time (49.8s vs
    // 14.0s on identical code), which would waste one of two samples
    names.foreach(n => timed(spark, lookup, dir, n): Unit)
    // the sentinel's steady default scales with the copy factor past
    // 10×: q1_agg over 100× lineitem takes ~5s on a CALM host, and a
    // steady calibrated for sf0.1 would flag the whole tier on data
    // size alone. copies ≤ 10 keeps the historical 1.0.
    runTier(spark, dir, names, steadyDefault = math.max(1.0, copies / 20.0), lookup)
  }

  /** The scaled dataset: facts copied `copies` times with per-copy key
    * shifts and — for documents — per-copy token suffixes, so near-dup
    * pair structure replicates per copy instead of exploding
    * quadratically across copies (10 independent shards of the original
    * pair graph ≈ a faithful 10× corpus, where verbatim duplication of
    * every doc would be an adversarial worst case no real corpus has).
    * Dimensions (customer/nation) stay unscaled — dims grow slower than
    * facts. A table is written only when the fixture has it, so a
    * missing table fails just the queries that read it.
    */
  private def writeScaled(spark: SparkSession, sfDir: String, dir: String, copies: Int): Unit = {
    import org.apache.spark.sql.functions.{col, expr, lit, regexp_replace}
    def has(t: String) = Files.exists(Paths.get(sfDir, s"$t.parquet"))
    // read through Tables.t, which normalizes the events fixture's
    // timestamp physical type
    def write(t: String, df: DataFrame): Unit = df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    def copied(t: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      if (has(t)) write(t, (0 until copies).map(i => shift(Tables.t(spark, sfDir, t), i)).reduce(_ union _))
    for (t <- Seq("customer", "nation") if has(t)) write(t, Tables.t(spark, sfDir, t))
    val keyShift = 1000000000L // far above any orderkey at these SFs
    // l_partkey is ALSO shifted per copy (1e6 apart — far above any
    // partkey at these SFs, far below the graph queries' +1e7 side
    // offset): the customer↔part graph family builds DISTINCT edge
    // sets, and unshifted part keys would dedup the 10 copies back
    // to the 1× graph — the iterations would measure nothing new.
    // Shifted parts give every customer 10× distinct neighbors: the
    // graph itself grows 10× denser, the adversarial direction for
    // per-node aggregates. No non-graph scale query reads l_partkey.
    copied("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * keyShift))
      .withColumn("l_partkey", col("l_partkey") + lit(i * 1000000L)))
    // events for q_pagerank: per-copy user-id shifts in multiples of
    // 7 (preserving the query's user_id % 7 sampling per copy) and
    // +1000-year time shifts so hours NEVER collide across copies —
    // a shared hour would co-pair users across copies and grow the
    // co-occurrence edge set quadratically in `copies`.
    copied("events")((df, i) => df
      .withColumn("user_id", col("user_id") + lit(i * 700000000L))
      .withColumn("ts", expr(s"timestampadd(YEAR, ${i * 1000}, ts)")))
    copied("orders")((df, i) => df.withColumn("o_orderkey", col("o_orderkey") + lit(i * keyShift)))
    val docShift = 10000000L // leaves room for the +100k/+200k planted ids
    copied("documents")((df, i) => df
      .withColumn("doc_id", col("doc_id") + lit(i * docShift))
      .withColumn("text",
        if (i == 0) col("text") else regexp_replace(col("text"), "(\\S+)", "$1_" + i)))
    // embeddings follow the documents' per-copy id shift so the
    // retrieval eval's vec_id == doc_id alignment holds per copy;
    // vectors repeat per copy (the index grows 10×, every IVF cell
    // 10× fatter — the adversarial direction for the probe). Max
    // shifted id stays below the query's +1e9 probe offset at any
    // copies ≤ 100.
    copied("embeddings")((df, i) => df.withColumn("vec_id", col("vec_id") + lit(i * docShift)))
  }
}
