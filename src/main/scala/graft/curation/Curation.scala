package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFns

/** End-to-end corpus curation as a reusable, parameterized API —
  * quality gate → exact dedup → MinHash-LSH near-dup drop → eval-set
  * decontamination — the composition `q_curation_pipeline` pins
  * against its DuckDB oracle.
  *
  * Each stage is also exposed on its own so pipelines can compose a
  * subset. Input contract: a corpus frame with (`doc_id` BIGINT,
  * `text` STRING); stages preserve `doc_id`.
  *
  * Scale: every stage is map-only or a natural-key/band equi-join —
  * one corpus pass plus the dedup family's candidate-bounded joins
  * (never n²). [[curate]] `cache()`s the two frames that feed multiple
  * plan branches. Use [[withCurated]] (loan pattern) to release every
  * internal cache — this funnel's and [[graft.dedup.Dedup]]'s — when
  * the block exits; bare [[curate]] keeps the historical caller-side
  * release contract for pipelines that materialize later.
  */
object Curation {

  /** Stage parameters; defaults match the oracle-pinned flagship.
    * `bloomDecontaminate` routes the funnel's decontamination stage
    * through the sketch-prefiltered path (identical results; choose it
    * when the eval set is too large to broadcast exactly).
    */
  case class Config(
      minTokens: Int = 20,
      minStopwords: Int = 1,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 12.0,
      minhashK: Int = 16,
      rowsPerBand: Int = 2,
      simThreshold: Double = 0.5,
      decontaminateNgram: Int = 8,
      bloomDecontaminate: Boolean = false,
      bloomNumBits: Long = 1L << 23)

  /** The quality predicate over `text`: enough tokens, enough
    * stopwords, and a bounded mean token length. */
  def quality(cfg: Config = Config()): Column = {
    val nTokens = TextFns.tokenCount(col("text"))
    val meanLen = length(col("text")).cast("double") / nTokens
    nTokens >= cfg.minTokens && TextFns.stopwordCount(col("text")) >= cfg.minStopwords &&
      meanLen >= cfg.minMeanLen && meanLen <= cfg.maxMeanLen
  }

  /** Map-only quality gate: the rows [[quality]] keeps. */
  def qualityGate(corpus: DataFrame, cfg: Config = Config()): DataFrame =
    corpus.filter(quality(cfg))
      .select(col("doc_id"), col("text"), TextFns.tokenCount(col("text")).as("n_tokens"))

  /** Exact dedup, min-id-wins: ONE shuffle on the content hash —
    * `min_by` carries the whole surviving row through the aggregation,
    * where the groupBy-then-semi-join formulation shuffled the corpus
    * twice (once for the keeper set, once more through the join).
    */
  def exactDedup(df: DataFrame): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col("doc_id")).as("r"))
      .select(cols.map(c => col(s"r.$c")).toIndexedSeq: _*)
  }

  /** MinHash-LSH near-dup drop (min-id-wins over candidate pairs).
    * `tokens` lets a pipeline that already carries the token array
    * (the funnel) skip re-tokenizing; values are identical. */
  def nearDupDrop(df: DataFrame, cfg: Config = Config(),
                  tokens: Column = TextFns.tokens(col("text"))): DataFrame = {
    val sig = Dedup.minhashSignatures(df, "doc_id", tokens, cfg.minhashK)
    val drops = graft.util.CacheScope.pin(
      Dedup.lshCandidatePairs(sig, "doc_id", cfg.minhashK, cfg.rowsPerBand)
        .filter(col("est_sim") >= cfg.simThreshold)
        .select(col("id_b").as("doc_id")).distinct())
    // broadcast the drop-id set: it is near-dup ids only (the same
    // smallness assumption decontaminate already makes for its
    // contaminated-id set), where the default plan SORT-MERGE-joined —
    // i.e. shuffled the whole corpus payload on doc_id just to drop a
    // few ids. With the broadcast the entire post-dedup funnel is
    // map-side reads of the pinned corpus cache.
    df.join(broadcast(drops), Seq("doc_id"), "left_anti")
  }

  /** Distinct shingle hashes of the eval docs' `n`-grams. */
  private def evalGrams(evalDocs: DataFrame, n: Int): DataFrame =
    evalDocs
      .select(explode(array_distinct(
        TextFns.shingleHashes48(TextFns.tokens(col("text")), n))).as("hv"))
      .distinct()

  /** Ids of the `df` docs sharing any n-gram with the eval set. The
    * eval gram set is tiny next to the corpus, so it broadcasts and
    * the corpus scan stays map-side. */
  def contaminatedIds(df: DataFrame, evalDocs: DataFrame, cfg: Config = Config(),
                      tokens: Column = TextFns.tokens(col("text"))): DataFrame = {
    val n = cfg.decontaminateNgram
    df.select(col("doc_id"), explode(array_distinct(
        TextFns.shingleHashes48(tokens, n))).as("hv"))
      .join(broadcast(evalGrams(evalDocs, n)), "hv")
      .select(col("doc_id")).distinct()
  }

  /** `df` without the eval docs themselves (matched by `doc_id`) and
    * without the `contaminated` ids. */
  private def dropContaminated(df: DataFrame, evalDocs: DataFrame,
                               contaminated: DataFrame): DataFrame =
    df.join(broadcast(evalDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")

  /** Drop docs sharing any n-gram with the eval set (and the eval docs
    * themselves, matched by `doc_id`). `tokens` is the corpus side's
    * token array (the eval side is tiny and tokenizes inline).
    */
  def decontaminate(df: DataFrame, evalDocs: DataFrame, cfg: Config = Config(),
                    tokens: Column = TextFns.tokens(col("text"))): DataFrame =
    dropContaminated(df, evalDocs, contaminatedIds(df, evalDocs, cfg, tokens))

  /** [[decontaminate]] with a bloom-sketch prefilter on the corpus
    * side: every scan task probes a `cfg.bloomNumBits/8`-byte sketch of
    * the eval hashes (~10× smaller than the exact hash relation at ~1%
    * FP), and only sketch-positive grams — true contaminations plus
    * the small FP stream — reach the exact confirm join. The result
    * is EXACTLY [[decontaminate]]'s: the sketch shrinks the candidate
    * stream, the exact join decides.
    */
  def decontaminateBloom(df: DataFrame, evalDocs: DataFrame, cfg: Config = Config(),
                         tokens: Column = TextFns.tokens(col("text"))): DataFrame = {
    val n = cfg.decontaminateNgram
    val evalH = evalGrams(evalDocs, n)
    val items = math.max(1L, evalH.count())
    val bf = graft.sketch.Bloom.sketch(evalH, col("hv"), items, cfg.bloomNumBits)
    val contaminated = df
      .select(col("doc_id"), explode(array_distinct(TextFns.shingleHashes48(tokens, n))).as("hv"))
      .filter(graft.sketch.Bloom.mightContain(bf, col("hv")))
      .join(broadcast(evalH), "hv") // exact confirm: FPs die here
      .select(col("doc_id")).distinct()
    dropContaminated(df, evalDocs, contaminated)
  }

  /** Longest contaminated span per eval doc — the metric
    * decontamination reports actually gate on: a benchmark whose
    * answer appears as one long verbatim run is compromised in a way
    * scattered single n-gram hits are not. For each eval doc, its
    * POSITIONAL n-gram hashes are matched against the training
    * corpus's gram set; a span is a maximal run of consecutive
    * matched positions (the pos − row_number segment trick), and its
    * token length is run + n − 1. Eval docs shorter than n tokens
    * emit no row (no grams to audit — same contract as the gram
    * decontaminators).
    *
    * Output: (doc_id, n_grams, n_matched_grams, longest_run,
    * longest_span_tokens), one row per gram-bearing eval doc.
    *
    * Scale shape: the training corpus stays map-only — the eval gram
    * set broadcasts IN (to filter train grams) and the surviving
    * hit-hv set broadcasts back OUT onto the eval positions; the only
    * window partitions per eval doc over its matched positions.
    */
  def contaminationSpans(train: DataFrame, evalDocs: DataFrame,
                         n: Int = 8): DataFrame = {
    def posGrams(d: DataFrame) = d
      .select(col("doc_id"), posexplode(
        TextFns.shingleHashes48(TextFns.tokens(col("text")), n)))
      .select(col("doc_id"), col("pos"), col("col").as("hv"))
    val evalPos = posGrams(evalDocs)
    val evalHvs = evalPos.select(col("hv")).distinct()
    val hitHvs = posGrams(train).select(col("hv"))
      .join(broadcast(evalHvs), "hv").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val agg = evalPos.join(broadcast(hitHvs), "hv")
      .withColumn("seg", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("seg")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("longest_run"),
        sum(col("run")).as("n_matched"))
    evalPos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched_grams"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        (coalesce(col("longest_run"), lit(1L - n)) + lit(n - 1L)).as("longest_span_tokens"))
  }

  /** Interval-UNION coverage of contaminated spans per eval doc — the
    * third span metric next to [[contaminationSpans]]'s longest run and
    * matched-gram count: how much of the document is covered by the
    * union of all matched n-gram spans, and in how many contiguous
    * regions. Forty scattered 8-grams and one 47-gram verbatim block
    * have the same `n_matched_grams`; their union coverage differs by
    * 8× — this is the "what fraction of the benchmark leaked" number
    * a contamination report actually quotes.
    *
    * Semantics: each matched positional n-gram at 0-based position p
    * covers tokens [p, p+n-1]; coverage is the exact cardinality of
    * the union of those intervals, computed by the classic
    * sorted-starts island scan (fixed-length spans ⇒ the running max
    * end is just the previous start + n-1, so one `lag` suffices). An
    * island is a maximal CONTIGUOUS covered region — two spans that
    * merely touch (pos == prev_end + 1) merge. `coverage_ppm` =
    * covered · 10⁶ div n_tokens (integer floor — exact on any engine).
    *
    * Output: (doc_id, n_tokens, n_grams, n_matched_grams,
    * covered_tokens, n_islands, coverage_ppm), one row per
    * gram-bearing eval doc (docs under n tokens have nothing to audit).
    *
    * Scale shape: identical to [[contaminationSpans]] — the training
    * corpus stays map-only (eval gram set broadcasts in, surviving
    * hit-hv set broadcasts back out); both windows (lag + running
    * island id) share ONE per-eval-doc sort over matched positions
    * only, ∝ contamination, not corpus size.
    */
  def spanUnionCoverage(train: DataFrame, evalDocs: DataFrame,
                        n: Int = 8): DataFrame = {
    def posGrams(d: DataFrame) = d
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).as("n_tokens"),
        posexplode(TextFns.shingleHashes48(TextFns.tokens(col("text")), n)))
      .select(col("doc_id"), col("n_tokens"), col("pos"), col("col").as("hv"))
    val evalPos = posGrams(evalDocs)
    val evalHvs = evalPos.select(col("hv")).distinct()
    val hitHvs = posGrams(train).select(col("hv"))
      .join(broadcast(evalHvs), "hv").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = evalPos.join(broadcast(hitHvs), "hv")
      .withColumn("ppos", lag(col("pos"), 1).over(w))
      .withColumn("st",
        (col("ppos").isNull || col("pos") > col("ppos") + lit(n.toLong)).cast("long"))
      .withColumn("iid", sum(col("st")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val agg = islands
      .groupBy(col("doc_id"), col("iid"))
      .agg((max(col("pos")) - min(col("pos")) + lit(n.toLong)).as("cov"),
        count(lit(1)).as("nm"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cov")).as("covered"), count(lit(1)).as("n_islands"),
        sum(col("nm")).as("n_matched"))
    evalPos.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched_grams"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"))
      .withColumn("coverage_ppm",
        expr("CAST((covered_tokens * 1000000) div n_tokens AS BIGINT)"))
  }

  /** Corpus-side span audit — [[contaminationSpans]] with the roles
    * flipped to the shape a DECONTAMINATION pass needs: for every
    * CORPUS doc, the longest run of consecutive positional n-grams
    * present in the (small) eval set. `decontaminate` drops on ANY
    * shared gram; gating on `longest_span_tokens` instead implements
    * the graded policy real pipelines use — one incidental 8-gram
    * (a common idiom, a date line) is tolerable, a verbatim answer
    * string is not.
    *
    * Output: (doc_id, n_grams, n_matched_grams, longest_run,
    * longest_span_tokens), one row per gram-bearing corpus doc.
    *
    * Scale shape: the eval gram set is the broadcast side (eval sets
    * are small by construction — the opposite of
    * [[contaminationSpans]], whose positional side is the small one),
    * so the corpus scan stays map-only; the window partitions per
    * corpus doc over its MATCHED positions only (∝ contamination,
    * not corpus size).
    */
  def spanContamination(corpus: DataFrame, evalDocs: DataFrame,
                        n: Int = 8): DataFrame = {
    val evalH = evalDocs.select(explode(array_distinct(
        TextFns.shingleHashes48(TextFns.tokens(col("text")), n))).as("hv"))
      .distinct()
    val pos = corpus.select(col("doc_id"), posexplode(
        TextFns.shingleHashes48(TextFns.tokens(col("text")), n)))
      .select(col("doc_id"), col("pos"), col("col").as("hv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val agg = pos.join(broadcast(evalH), "hv")
      .withColumn("seg", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("seg")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("longest_run"),
        sum(col("run")).as("n_matched"))
    pos.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched_grams"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        (coalesce(col("longest_run"), lit(1L - n)) + lit(n - 1L)).as("longest_span_tokens"))
  }

  /** Classifier gate — the batch twin of the streaming ingest's
    * `classGate`: keep documents whose Naive-Bayes prediction under an
    * offline-fitted model is in `allowed` (in-corpus language/quality
    * admission). A document with no in-vocabulary token carries no
    * evidence and is dropped. Map-side broadcast scoring plus one
    * doc-grain semi-join.
    */
  def classGate(corpus: DataFrame,
                model: graft.classify.TextClassify.NBModel,
                allowed: Set[String]): DataFrame = {
    val keep = graft.classify.TextClassify.naiveBayesApply(corpus, model)
      .filter(col("pred_label").isInCollection(allowed))
      .select(col("doc_id"))
    corpus.join(keep, Seq("doc_id"), "left_semi")
  }

  /** The full funnel. Quality-gated + exact-deduped frame is cached
    * (it feeds the signature, anti-join and decontamination branches —
    * Spark has no common-subtree elimination). `classifier` inserts
    * the [[classGate]] between the quality gate and exact dedup —
    * cheap map-side drops first, signature work last, mirroring the
    * streaming funnel's stage order.
    */
  def curate(corpus: DataFrame, evalDocs: Option[DataFrame],
             cfg: Config = Config(),
             classifier: Option[(graft.classify.TextClassify.NBModel, Set[String])] = None): DataFrame = {
    val gated = qualityGate(corpus, cfg)
    val classed = classifier.fold(gated) { case (m, allowed) => classGate(gated, m, allowed) }
    // tokenize ONCE: the token array rides the pinned post-dedup cache
    // (computed map-side AFTER the dedup exchange, so the md5 shuffle
    // never carries it), and both downstream tokenizers — the minhash
    // signatures and the decontamination grams — consume the array
    // instead of re-splitting the corpus. One corpus tokenization
    // instead of three.
    val afterExact = graft.util.CacheScope.pin(
      exactDedup(classed).withColumn("_tk", TextFns.tokens(col("text"))))
    val tk = col("_tk")
    val afterNd = nearDupDrop(afterExact, cfg, tk)
    evalDocs.fold(afterNd)(ev =>
      if (cfg.bloomDecontaminate) decontaminateBloom(afterNd, ev, cfg, tk)
      else decontaminate(afterNd, ev, cfg, tk))
      .drop("_tk")
  }

  /** Loan-pattern [[curate]]: build the funnel, hand the curated frame
    * to `f` (materialize it there), and release every cache the funnel
    * pinned — this object's and [[graft.dedup.Dedup]]'s internal ones —
    * when the block exits, success or failure. The returned value must
    * not be the lazy frame itself (recomputing it later would run the
    * funnel uncached).
    */
  def withCurated[A](corpus: DataFrame, evalDocs: Option[DataFrame],
                     cfg: Config = Config(),
                     classifier: Option[(graft.classify.TextClassify.NBModel, Set[String])] = None)
                    (f: DataFrame => A): A =
    graft.util.CacheScope.loan(f(curate(corpus, evalDocs, cfg, classifier)))
}
