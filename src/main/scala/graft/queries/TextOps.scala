package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.curation.Curation
import graft.dedup.Dedup
import graft.functions.TextFns
import graft.operators.Graphs

/** Text-analysis + deduplication operator surface over the `documents`
  * table (the beyond-parity training-data ops), each with a DuckDB
  * oracle that re-derives the exact same values (portable md5-based
  * hashing — no engine-specific hash functions anywhere).
  */
object TextOps {

  /** documents ∪ planted near-duplicates (first token dropped) —
    * gives the fuzzy-dedup queries guaranteed positives.
    */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents").select($"doc_id", $"text")
    val mutated = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"),
        expr("substring(text, locate(' ', text) + 1)").as("text"))
    docs.union(mutated)
  }

  private val nearDupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** documents ∪ planted exact copies — positives for exact dedup. */
  private def exactDupCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = t(s, d, "documents").select($"doc_id", $"text")
    docs.union(docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 200000L).as("doc_id"), $"text"))
  }

  /** The curation funnel's corpus: documents ∪ planted exact copies
    * (+200000) ∪ planted near-dup mutants (+100000, first token
    * dropped), so every funnel stage provably drops something. */
  private def funnelCorpus(base: DataFrame): DataFrame = {
    val planted = base.filter(col("doc_id") % 10 === 0)
    base
      .union(planted.select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      .union(planted.select((col("doc_id") + 100000L).as("doc_id"),
        expr("substring(text, locate(' ', text) + 1)").as("text")))
  }

  /** The funnel's eval set: every 50th document. */
  private def funnelEval(base: DataFrame): DataFrame = base.filter(col("doc_id") % 50 === 0)

  /** DuckDB twin of [[funnelCorpus]]: CTEs `base` and `corpus`. */
  private val funnelCorpusSql =
    """base AS (SELECT doc_id, text FROM documents),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 200000, text FROM base WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1)
      |  FROM base WHERE doc_id % 10 = 0)""".stripMargin

  /** DuckDB twin of `Curation.quality()` as CTE `flagged`: the corpus
    * with its `q_ok` flag. */
  private val flaggedSql =
    """flagged AS (SELECT doc_id, text,
      |  (len(string_split_regex(trim(text), '\s+')) >= 20
      |   AND len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |        x -> x IN ('the','a','of','and','to','in'))) >= 1
      |   AND CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) >= 3.0
      |   AND CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')) <= 12.0) AS q_ok
      |  FROM corpus)""".stripMargin

  /** DuckDB twin of [[Curation.contaminatedIds]] over [[funnelEval]]:
    * CTE `eval_h` (the eval docs' distinct 8-gram hashes) and CTE
    * `name` (the ids of the `src` docs sharing one); `v` names the
    * gram column. */
  private def contamSql(name: String, src: String, v: String = "s"): String =
    s"""eval_h AS (SELECT DISTINCT CAST(concat('0x', substr(md5($v), 1, 12)) AS BIGINT) AS hv
       |  FROM (SELECT unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk) - 7),
       |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
       |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS $v
       |    FROM (SELECT string_split_regex(trim(text), '\\s+') AS tk
       |          FROM base WHERE doc_id % 50 = 0) WHERE len(tk) >= 8)),
       |$name AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id, CAST(concat('0x', substr(md5($v), 1, 12)) AS BIGINT) AS hv
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk) - 7),
       |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
       |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS $v
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |          FROM $src) WHERE len(tk) >= 8))
       |  WHERE hv IN (SELECT hv FROM eval_h))""".stripMargin

  // DuckDB twins of TextFns.shingles / TextFns.hash32 over a corpus
  // CTE; `sfx` disambiguates CTE names when two corpora are shingled
  // in one query.
  private def shingleSql(src: String, sfx: String = "") =
    s"""toks$sfx AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM $src),
       |sh$sfx AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  generate_series(1, len(tk) - 2),
       |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
       |  FROM toks$sfx WHERE len(tk) >= 3),
       |h$sfx AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS hv FROM sh$sfx)""".stripMargin

  private val K = 16
  private def minhashAggSql: String = (0 until K).map { i =>
    val (a, b) = Dedup.perm(i)
    f"MIN((hv * $a + $b) %% ${Dedup.MinhashP}) AS mh$i%02d"
  }.mkString(", ")

  private def bandsSqlFrom(sigCte: String): String = (0 until K / 2).map { b =>
    val (m1, m2) = (f"mh${2 * b}%02d", f"mh${2 * b + 1}%02d")
    s"SELECT doc_id, $b AS band_id, md5(concat_ws('_', $m1, $m2)) AS band_hash FROM $sigCte"
  }.mkString(" UNION ALL ")

  private def bandsSql: String = bandsSqlFrom("sig")

  /** Band CTE body for an arbitrary rows-per-band layout of the K-row
    * signature (mirrors [[Dedup.bandKeys]]'s concat_ws('_') key). */
  private def bandsSqlR(r: Int): String = (0 until K / r).map { b =>
    val cols = (0 until r).map(j => f"mh${b * r + j}%02d").mkString(", ")
    s"SELECT doc_id, $b AS band_id, md5(concat_ws('_', $cols)) AS band_hash FROM sig"
  }.mkString(" UNION ALL ")

  private def agreeSql: String = (0 until K)
    .map(i => f"(CASE WHEN sa.mh$i%02d = sb.mh$i%02d THEN 1 ELSE 0 END)")
    .mkString(" + ")

  val all: Seq[Query] = Seq(

    // Exact dedup: hash-groupBy, one shuffle on the content hash.
    q("q_dedup_exact")(
      (s, d) => {
        import s.implicits._
        Dedup.exactGroups(exactDupCorpus(s, d), "doc_id", "text")
          .orderBy($"text_hash")
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM corpus GROUP BY 1 ORDER BY text_hash""".stripMargin),

    // Token counting (whitespace/BPE-ish regex).
    q("q_token_count")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", TextFns.tokenCount($"text").as("n_tokens"), $"n_chars")
          .orderBy($"doc_id")
      },
      """SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality scoring: length / punctuation / stopword signals.
    q("q_text_quality")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select(
            $"doc_id",
            length($"text").as("len"),
            TextFns.tokenCount($"text").as("n_tokens"),
            TextFns.punctCount($"text").as("n_punct"),
            TextFns.stopwordCount($"text").as("n_stop"))
          .withColumn("stop_ratio", round($"n_stop".cast("double") / $"n_tokens", 6))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, length(text) AS len,
        |len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        |len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in'))) AS n_stop,
        |round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |  / len(string_split_regex(trim(text), '\s+')), 6) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Quality-threshold token curve — the data-mix planning table
    // BEFORE committing to a gate setting: for each candidate minimum
    // stopword share (the naturalness signal), the docs AND training
    // tokens that would survive. Tokens are the budget currency, so
    // the doc-count curve alone misleads (long docs fail gates
    // disproportionately). Threshold compare is the integer
    // cross-multiplication stop·10⁶ ≥ t_ppm·tokens — no division —
    // and the 5-threshold sweep is one map-side explode + ONE
    // aggregation pass over the corpus.
    q("q_quality_curve")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select(
          TextFns.tokenCount($"text").cast("long").as("n_tokens"),
          (TextFns.stopwordCount($"text").cast("long") * 1000000L).as("stop_scaled"))
        docs.select(explode(array((0 to 4).map(i => lit(i * 50000L)): _*))
            .as("threshold_ppm"), $"n_tokens", $"stop_scaled")
          .groupBy($"threshold_ppm")
          .agg(
            sum(when($"stop_scaled" >= $"threshold_ppm" * $"n_tokens", 1L)
              .otherwise(0L)).as("n_docs"),
            sum(when($"stop_scaled" >= $"threshold_ppm" * $"n_tokens", $"n_tokens")
              .otherwise(0L)).as("n_tokens"))
          .orderBy($"threshold_ppm")
      },
      """WITH d AS (SELECT
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) * 1000000
        |    AS stop_scaled
        |  FROM documents),
        |th AS (SELECT CAST(unnest([0, 50000, 100000, 150000, 200000]) AS BIGINT)
        |  AS threshold_ppm)
        |SELECT th.threshold_ppm,
        |  CAST(SUM(CASE WHEN d.stop_scaled >= th.threshold_ppm * d.n_tokens
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN d.stop_scaled >= th.threshold_ppm * d.n_tokens
        |    THEN d.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens
        |FROM d CROSS JOIN th GROUP BY 1 ORDER BY 1""".stripMargin),

    // TOKEN-weighted length quantiles — "the median training TOKEN
    // lives in a doc of length X": doc-weighted quantiles describe
    // the file listing, token-weighted ones describe what the model
    // actually trains on (a handful of giant docs can carry half the
    // mass). Exact integers end-to-end: docs ranked by (n_tokens,
    // doc_id) through the range-partitioned running sum (no
    // single-task window), quantile q = the FIRST doc where
    // cum·100 ≥ q·total (integer cross-multiplication, no float
    // percentile interpolation); per-quantile argmin is one
    // min(struct) over the crossing rows.
    q("q_token_quantiles")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
          .select($"doc_id", TextFns.tokenCount($"text").cast("long").as("n_tokens"))
        val cum = graft.operators.Ranking.globalRunningSum(
          docs, $"n_tokens", Seq($"n_tokens", $"doc_id"), out = "cum")
        val total = cum.agg(max($"cum").as("total"))
        cum.crossJoin(broadcast(total))
          .select($"n_tokens", $"cum", $"total",
            explode(array(Seq(25, 50, 75, 90).map(q => lit(q.toLong)): _*)).as("q"))
          .filter($"cum" * 100 >= $"q" * $"total")
          .groupBy($"q")
          .agg(min(struct($"cum", $"n_tokens")).as("m"), max($"total").as("total_tokens"))
          .select($"q", $"m.n_tokens".as("len_at_q"), $"m.cum".as("cum_tokens"),
            $"total_tokens")
          .orderBy($"q")
      },
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT n_tokens,
        |  SUM(n_tokens) OVER (ORDER BY n_tokens, doc_id ROWS UNBOUNDED PRECEDING)
        |    AS cum FROM d),
        |tt AS (SELECT CAST(MAX(cum) AS BIGINT) AS total FROM c),
        |qs AS (SELECT CAST(unnest([25, 50, 75, 90]) AS BIGINT) AS q)
        |SELECT qs.q,
        |  CAST(MIN({'cum': c.cum, 'n_tokens': c.n_tokens}).n_tokens AS BIGINT)
        |    AS len_at_q,
        |  CAST(MIN({'cum': c.cum, 'n_tokens': c.n_tokens}).cum AS BIGINT)
        |    AS cum_tokens,
        |  CAST(MAX(tt.total) AS BIGINT) AS total_tokens
        |FROM c CROSS JOIN tt CROSS JOIN qs
        |WHERE c.cum * 100 >= qs.q * tt.total
        |GROUP BY qs.q ORDER BY qs.q""".stripMargin),

    // Language-ID heuristic (stopword-hit argmax) vs the labeled lang.
    q("q_lang_id")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select(
            $"doc_id", $"lang",
            TextFns.englishHits($"text").as("en_hits"),
            TextFns.spanishHits($"text").as("es_hits"),
            TextFns.langPredict($"text").as("lang_pred"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, lang,
        |len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b')) AS en_hits,
        |len(regexp_extract_all(lower(text), '\b(el|la|de|los|y|en|que)\b')) AS es_hits,
        |CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |       >= len(regexp_extract_all(lower(text), '\b(el|la|de|los|y|en|que)\b'))
        |     THEN 'en' ELSE 'es' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Classifier-eval rollup for the lang-ID heuristic: labeled lang ×
    // predicted lang counts (the confusion matrix a curation team
    // watches for language-ID drift). One partial-aggregated shuffle
    // over (lang, pred) — the result is |langs|² rows regardless of
    // corpus size.
    q("q_lang_confusion")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"lang", TextFns.langPredict($"text").as("lang_pred"))
          .groupBy($"lang", $"lang_pred")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"lang_pred")
      },
      """SELECT lang,
        |CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |       >= len(regexp_extract_all(lower(text), '\b(el|la|de|los|y|en|que)\b'))
        |     THEN 'en' ELSE 'es' END AS lang_pred,
        |COUNT(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin),

    // Bag-of-words fingerprint (order-insensitive dedup key).
    q("q_fingerprint")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |md5(array_to_string(list_sort(list_distinct(
        |  string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Shingle stats (the substrate of the fuzzy-dedup family).
    q("q_shingles")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id",
            (TextFns.tokenCount($"text") - 2).as("n_shingle_positions"),
            size(TextFns.shingles($"text", 3)).as("n_distinct_shingles"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |len(string_split_regex(trim(text), '\s+')) - 2 AS n_shingle_positions,
        |len(list_distinct(list_transform(
        |  generate_series(1, len(string_split_regex(trim(text), '\s+')) - 2),
        |  i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
        |       string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
        |       string_split_regex(trim(text), '\s+')[i+2]))) AS n_distinct_shingles
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MinHash signatures (16 portable permutations).
    q("q_minhash_sig")(
      (s, d) => {
        import s.implicits._
        Dedup.minhashSignatures(t(s, d, "documents"), "doc_id", k = K)
          .orderBy($"doc_id")
      },
      s"""WITH ${shingleSql("documents")}
         |SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // MinHash + LSH banding: near-dup candidate pairs over the planted
    // corpus; est_sim = agreeing minhash fraction.
    q("q_minhash_lsh_pairs")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
          .orderBy($"id_a", $"id_b")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
         |SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |WHERE est_sim >= 0.5 ORDER BY id_a, id_b""".stripMargin),

    // Exact n-gram Jaccard via inverted-index join (top-200 pairs).
    q("q_jaccard_pairs")(
      (s, d) => {
        import s.implicits._
        Dedup.jaccardPairs(nearDupCorpus(s, d), "doc_id", "text")
          .orderBy($"jaccard".desc, $"id_a", $"id_b")
          .limit(200)
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sized AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sized GROUP BY id),
         |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
         |  FROM sized x JOIN sized y ON x.hv = y.hv AND x.id < y.id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
         |FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 200""".stripMargin),

    // The SAME pair set as exact Jaccard >= 0.8 (the realistic
    // near-dup threshold — where the prefix filter actually bites:
    // each doc indexes ~|d|/5 tokens), through the prefix-filtered
    // scale path (rarest-first prefixes indexed, candidates verified
    // by per-pair array intersection — recall provably 1 by the
    // pigeonhole bound; see Dedup.jaccardPairsPrefix). The oracle is
    // the full inverted-index computation: equality IS the test.
    q("q_jaccard_prefix")(
      (s, d) => {
        import s.implicits._
        Dedup.jaccardPairsPrefix(nearDupCorpus(s, d), "doc_id", "text", threshold = 0.8)
          .orderBy($"id_a", $"id_b")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sized AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sized GROUP BY id),
         |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
         |  FROM sized x JOIN sized y ON x.hv = y.hv AND x.id < y.id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
         |FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    // Asymmetric containment (excerpt detection): mutants are the
    // original minus its first token, so containment into the source
    // is (n-1)/n ≈ 1 while Jaccard alone would not say which side is
    // the excerpt. Emits both directions; 0.9 threshold.
    q("q_containment")(
      (s, d) => {
        import s.implicits._
        Dedup.containmentPairs(nearDupCorpus(s, d), "doc_id", "text", minContainment = 0.9)
          .orderBy($"id_a", $"id_b")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sized AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sized GROUP BY id),
         |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
         |  FROM sized x JOIN sized y ON x.hv = y.hv AND x.id <> y.id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(common AS DOUBLE) / sa.sz AS containment
         |FROM common JOIN sizes sa ON sa.id = id_a
         |WHERE CAST(common AS DOUBLE) / sa.sz >= 0.9
         |ORDER BY id_a, id_b""".stripMargin),

    // LSH self-evaluation — the recall/precision audit every banded
    // dedup deployment needs before trusting its drop list: ground
    // truth = exact shingle-Jaccard ≥ 0.5 pairs (inverted index),
    // found = the band-collision candidate set. One row of exact
    // confusion counts; recall = n_true_found/n_true, precision =
    // n_true_found/n_candidates, computed client-side from the exact
    // integers. Scale shape: both pair sets are collision-bounded
    // (never n²); the three 1-row aggregates cross-join broadcast.
    q("q_lsh_recall")(
      (s, d) => {
        import s.implicits._
        val corpus = nearDupCorpus(s, d)
        val truePairs = Dedup.jaccardPairs(corpus, "doc_id", "text")
          .filter($"jaccard" >= 0.5).select($"id_a", $"id_b")
        val sig = Dedup.minhashSignatures(corpus, "doc_id", k = K)
        val cand = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .select($"id_a", $"id_b")
        truePairs.agg(count(lit(1)).as("n_true"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(truePairs.join(cand, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_true_found")))
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sized AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sized GROUP BY id),
         |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
         |  FROM sized x JOIN sized y ON x.hv = y.hv AND x.id < y.id GROUP BY 1, 2),
         |tp AS (SELECT id_a, id_b FROM common
         |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5),
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |hit AS (SELECT tp.id_a FROM tp
         |  JOIN cand ON cand.id_a = tp.id_a AND cand.id_b = tp.id_b)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_true,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_true_found""".stripMargin),

    // LSH tuning frontier — the table a 100-TB dedup run is actually
    // configured from: the same corpus, signatures, and exact ground
    // truth as q_lsh_recall, swept over every (n_bands, rows_per_band)
    // layout of the 16-row signature (r ∈ {1,2,4,8}). One row of exact
    // confusion counts per layout; recall (n_true_found) and cost
    // (n_candidates — the quantity that multiplies into the verify
    // join at scale) both fall monotonically as r grows, because the
    // banded candidate sets are NESTED: a collision on an r=2k band
    // implies collisions on both r=k halves. DedupSimSpec pins that
    // monotonicity. Scale shape: signatures and truth computed once
    // (pinned); each layout adds only its band self-join, work ∝ its
    // own collisions.
    q("q_lsh_tuning")(
      (s, d) => {
        import s.implicits._
        val corpus = nearDupCorpus(s, d)
        val truePairs = graft.util.CacheScope.pin(
          Dedup.jaccardPairs(corpus, "doc_id", "text")
            .filter($"jaccard" >= 0.5).select($"id_a", $"id_b"))
        val sig = graft.util.CacheScope.pin(
          Dedup.minhashSignatures(corpus, "doc_id", k = K))
        Seq(1, 2, 4, 8).map { r =>
          val cand = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = r)
            .select($"id_a", $"id_b")
          truePairs.agg(count(lit(1)).as("n_true"))
            .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
            .crossJoin(truePairs.join(cand, Seq("id_a", "id_b"), "left_semi")
              .agg(count(lit(1)).as("n_true_found")))
            .select(lit(r.toLong).as("rows_per_band"),
              lit((K / r).toLong).as("n_bands"),
              $"n_true", $"n_candidates", $"n_true_found")
        }.reduce(_ unionByName _).orderBy($"rows_per_band")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sized AS (SELECT doc_id AS id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
         |sizes AS (SELECT id, COUNT(*) AS sz FROM sized GROUP BY id),
         |common AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS common
         |  FROM sized x JOIN sized y ON x.hv = y.hv AND x.id < y.id GROUP BY 1, 2),
         |tp AS MATERIALIZED (SELECT id_a, id_b FROM common
         |  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5),
         |sig AS MATERIALIZED (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |${Seq(1, 2, 4, 8).map(r =>
             s"""bands_r$r AS (${bandsSqlR(r)}),
                |cand_r$r AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                |  FROM bands_r$r a JOIN bands_r$r b
                |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
                |hit_r$r AS (SELECT tp.id_a FROM tp
                |  JOIN cand_r$r c ON c.id_a = tp.id_a AND c.id_b = tp.id_b)""".stripMargin)
           .mkString(",\n")}
         |SELECT * FROM (
         |${Seq(1, 2, 4, 8).map(r =>
             s"""  SELECT CAST($r AS BIGINT) AS rows_per_band, CAST(${K / r} AS BIGINT) AS n_bands,
                |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_true,
                |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_r$r) AS n_candidates,
                |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hit_r$r) AS n_true_found""".stripMargin)
           .mkString(" UNION ALL\n")}
         |) ORDER BY rows_per_band""".stripMargin),

    // Candidate-similarity histogram — the "where do I set the
    // threshold" companion to q_lsh_tuning: the est_sim distribution
    // over band-collision pairs, bucketed by exact agreeing-minhash
    // count (est_sim = k/16 is dyadic, so ·16 recovers k exactly).
    // A bimodal histogram (noise floor vs planted twins) is what a
    // defensible threshold looks like; one partial-agg over the
    // collision-bounded pair set.
    q("q_sim_histogram")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .select(($"est_sim" * 16).cast("long").as("n_agree"), $"est_sim")
          .groupBy($"n_agree", $"est_sim").agg(count(lit(1)).as("n_pairs"))
          .orderBy($"n_agree")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
         |SELECT CAST(($agreeSql) AS BIGINT) AS n_agree,
         |  ($agreeSql) / 16.0 AS est_sim,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
         |GROUP BY 1, 2 ORDER BY n_agree""".stripMargin),

    // Duplicate-cluster size distribution — the dedup yield audit:
    // how much of the drop list comes from pairs vs. big families
    // (a heavy tail means templates/boilerplate, not true twins).
    // Component sizes from the same connected components as
    // q_dedup_clusters, collapsed to a |sizes|-row histogram.
    q("q_cluster_sizes")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        Graphs.connectedComponents(pairs)
          .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy($"sz".as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
          .orderBy($"cluster_size")
      },
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |szs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY 1)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY 1 ORDER BY 1""".stripMargin),

    // End-to-end dedup decision: near-dup clusters from LSH (est_sim ≥
    // 0.5) resolved min-id-wins — the drop list a training pipeline
    // actually consumes.
    q("q_dedup_decision")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        pairs.select($"id_b".as("drop_id"), $"id_a".as("keep_candidate"))
          .groupBy($"drop_id")
          .agg(min($"keep_candidate").as("kept_for"), count(lit(1)).as("n_links"))
          .orderBy($"drop_id")
      },
      s"""WITH $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5)
         |SELECT id_b AS drop_id, MIN(id_a) AS kept_for, COUNT(*) AS n_links
         |FROM pairs GROUP BY id_b ORDER BY drop_id""".stripMargin),

    // 48-bit SimHash (portable md5-derived bit votes).
    // The full curation funnel as ONE Catalyst DAG — quality gate →
    // exact dedup (min-id-wins) → MinHash-LSH near-dup drop →
    // eval-set decontamination — over a corpus with planted exact
    // copies AND near-dup mutants, so every stage provably drops
    // something. One oracle checks the composition end-to-end, not
    // just each stage in isolation.
    q("q_curation_pipeline")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        // the whole funnel is the library API (quality gate → exact
        // dedup → LSH near-dup drop → decontamination); this query
        // pins the API's default-config composition to the oracle
        Curation.curate(funnelCorpus(base), Some(funnelEval(base)))
          .select($"doc_id", $"n_tokens")
          .orderBy($"doc_id")
      },
      s"""WITH $funnelCorpusSql,
         |quality AS (
         |  SELECT doc_id, text,
         |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens
         |  FROM corpus
         |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 20
         |    AND len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |          x -> x IN ('the','a','of','and','to','in'))) >= 1
         |    AND CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) >= 3.0
         |    AND CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')) <= 12.0),
         |after_exact AS (
         |  SELECT doc_id, text, n_tokens FROM (
         |    SELECT doc_id, text, n_tokens,
         |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
         |    FROM quality) WHERE doc_id = keep_id),
         |${shingleSql("after_exact")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |after_nd AS (SELECT * FROM after_exact
         |  WHERE doc_id NOT IN (SELECT id_b FROM pairs)),
         |${contamSql("contaminated", "after_nd")}
         |SELECT doc_id, n_tokens FROM after_nd
         |WHERE NOT (doc_id % 50 = 0 AND doc_id <= 100000)
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY doc_id""".stripMargin),

    // Near-dup audit-pointer resolution — the companion that upgrades
    // q_funnel_ledger's killed_by contract: for every dropped doc,
    // BOTH the direct minimum colliding candidate (which can itself be
    // dropped in a chain A<B<C) and the transitive cluster keeper (the
    // component minimum — the doc that actually survives the stage),
    // with direct_is_keeper flagging where they coincide. Built from
    // the same connected components as q_dedup_clusters.
    q("q_neardup_resolution")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        Dedup.resolveDropTargets(pairs).orderBy($"doc_id")
      },
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |direct AS (SELECT id_b AS doc_id, CAST(MIN(id_a) AS BIGINT) AS killed_by_direct
         |  FROM pairs GROUP BY 1),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT d.doc_id, d.killed_by_direct, c.cluster_id AS killed_by_resolved,
         |  (d.killed_by_direct = c.cluster_id) AS direct_is_keeper
         |FROM direct d JOIN comp c ON c.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Per-document disposition LEDGER for the same funnel — the row-level
    // twin of q_funnel_report's stage counts: every corpus doc gets the
    // stage that killed it (or 'kept') plus the doc that killed it —
    // the "which doc killed mine" audit trail reviewers ask for first.
    // killed_by contract: for exact dups it is the group's kept doc;
    // for near-dups it is the MINIMUM COLLIDING CANDIDATE (min id_a
    // over the doc's est_sim ≥ 0.5 band collisions) — a direct link
    // into the duplicate neighborhood, NOT the transitive cluster
    // keeper: in a chain A<B<C with pairs (A,B),(B,C) only, C's
    // killed_by is B even though B itself dropped (q_neardup_resolution
    // emits BOTH pointers — direct and transitively resolved keeper).
    // Cross-engine exact either way. Same one-pass monotone flag
    // machinery; the only additions are the min aggregates, both at
    // the pair/dup grain, never the corpus square.
    q("q_funnel_ledger")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val flagged = funnelCorpus(base).withColumn("q_ok", Curation.quality())
        val wh = org.apache.spark.sql.expressions.Window.partitionBy(md5($"text"))
        val exact = flagged
          .withColumn("e_min", min(when($"q_ok", $"doc_id")).over(wh))
          .withColumn("e_ok", $"q_ok" && $"doc_id" === $"e_min")
        val survivors = exact.filter($"e_ok").select($"doc_id", $"text")
        val sig = Dedup.minhashSignatures(survivors, "doc_id", k = K)
        val ndBy = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
          .groupBy($"id_b".as("doc_id")).agg(min($"id_a").as("nd_by"))
        val contaminated = Curation.contaminatedIds(survivors, funnelEval(base))
          .withColumn("contam", lit(true))
        exact
          .join(ndBy, Seq("doc_id"), "left")
          .join(contaminated, Seq("doc_id"), "left")
          .select($"doc_id",
            when(!$"q_ok", lit("quality"))
              .when($"doc_id" =!= $"e_min", lit("exact_dup"))
              .when($"nd_by".isNotNull, lit("near_dup"))
              .when($"doc_id" % 50 === 0 && $"doc_id" <= 100000L, lit("eval_doc"))
              .when($"contam".isNotNull, lit("contaminated"))
              .otherwise(lit("kept")).as("disposition"),
            when($"q_ok" && $"doc_id" =!= $"e_min", $"e_min")
              .when($"q_ok" && $"doc_id" === $"e_min" && $"nd_by".isNotNull, $"nd_by")
              .otherwise(lit(null).cast("long")).as("killed_by"))
          .orderBy($"doc_id")
      },
      s"""WITH $funnelCorpusSql,
         |$flaggedSql,
         |exact AS (SELECT doc_id, text, q_ok,
         |  MIN(CASE WHEN q_ok THEN doc_id END) OVER (PARTITION BY md5(text)) AS e_min
         |  FROM flagged),
         |after_exact AS (SELECT doc_id, text FROM exact WHERE q_ok AND doc_id = e_min),
         |${shingleSql("after_exact")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |ndby AS (SELECT id_b AS doc_id, CAST(MIN(id_a) AS BIGINT) AS nd_by FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5 GROUP BY 1),
         |${contamSql("contaminated", "after_exact")}
         |SELECT e.doc_id,
         |  CASE WHEN NOT e.q_ok THEN 'quality'
         |       WHEN e.doc_id <> e.e_min THEN 'exact_dup'
         |       WHEN n.nd_by IS NOT NULL THEN 'near_dup'
         |       WHEN e.doc_id % 50 = 0 AND e.doc_id <= 100000 THEN 'eval_doc'
         |       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
         |       ELSE 'kept' END AS disposition,
         |  CASE WHEN e.q_ok AND e.doc_id <> e.e_min THEN e.e_min
         |       WHEN e.q_ok AND e.doc_id = e.e_min THEN n.nd_by
         |       ELSE NULL END AS killed_by
         |FROM exact e
         |LEFT JOIN ndby n ON n.doc_id = e.doc_id
         |LEFT JOIN contaminated c ON c.doc_id = e.doc_id
         |ORDER BY e.doc_id""".stripMargin),

    // Funnel config sweep — the "what does tightening the gate cost
    // me" table a run is configured from: the SAME corpus pass carries
    // one quality flag per candidate minTokens setting, and the SAME
    // content-hash window resolves exact-dedup survivorship under each
    // (the stages interact: the kept copy is the min QUALITY doc, so a
    // tighter gate can shift which duplicate survives, not just how
    // many). One pass, one window — a naive sweep re-runs the funnel
    // per config. The near-dup stage is deliberately out of scope:
    // its work is ∝ each config's survivor set (three LSH runs is
    // three LSH runs at any scale — that's q_curation_pipeline's job).
    q("q_funnel_sweep")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val configs = Seq(10, 20, 40)
        val flagged = configs.foldLeft(funnelCorpus(base)) { (df, mt) =>
          df.withColumn(s"q_ok_$mt", Curation.quality(Curation.Config(minTokens = mt)))
        }
        val wh = org.apache.spark.sql.expressions.Window.partitionBy(md5($"text"))
        val exact = configs.foldLeft(flagged) { (df, mt) =>
          df.withColumn(s"e_ok_$mt", col(s"q_ok_$mt") &&
            $"doc_id" === min(when(col(s"q_ok_$mt"), $"doc_id")).over(wh))
        }
        val aggCols = count(lit(1)).as("n_corpus") +: configs.flatMap(mt => Seq(
          sum(col(s"q_ok_$mt").cast("long")).as(s"nq_$mt"),
          sum(col(s"e_ok_$mt").cast("long")).as(s"ne_$mt")))
        exact.agg(aggCols.head, aggCols.tail: _*)
          .select(expr(s"stack(${configs.size}, " +
            configs.map(mt => s"CAST($mt AS BIGINT), n_corpus, nq_$mt, ne_$mt")
              .mkString(", ") +
            ") AS (min_tokens, n_corpus, n_quality, n_exact)"))
          .orderBy($"min_tokens")
      },
      s"""WITH $funnelCorpusSql,
         |m AS (SELECT doc_id, text,
         |  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |  len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> x IN ('the','a','of','and','to','in'))) AS n_stop,
         |  CAST(length(text) AS DOUBLE)
         |    / len(string_split_regex(trim(text), '\\s+')) AS mean_len
         |  FROM corpus),
         |f AS (SELECT doc_id, text,
         |  ${Seq(10, 20, 40).map(mt =>
             s"""(n_tokens >= $mt AND n_stop >= 1 AND mean_len >= 3.0
                |   AND mean_len <= 12.0) AS q_ok_$mt""".stripMargin)
           .mkString(",\n")}
         |  FROM m),
         |e AS (SELECT *,
         |  ${Seq(10, 20, 40).map(mt =>
             s"""(q_ok_$mt AND doc_id = MIN(CASE WHEN q_ok_$mt THEN doc_id END)
                |   OVER (PARTITION BY md5(text))) AS e_ok_$mt""".stripMargin)
           .mkString(",\n")}
         |  FROM f)
         |SELECT * FROM (
         |${Seq(10, 20, 40).map(mt =>
             s"""  SELECT CAST($mt AS BIGINT) AS min_tokens,
                |    CAST(COUNT(*) AS BIGINT) AS n_corpus,
                |    CAST(SUM(CASE WHEN q_ok_$mt THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                |    CAST(SUM(CASE WHEN e_ok_$mt THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
                |  FROM e""".stripMargin)
           .mkString(" UNION ALL\n")}
         |) ORDER BY min_tokens""".stripMargin),

    // Funnel observability: per-stage survival counts for the curation
    // pipeline, computed in ONE corpus pass — each doc gets monotone
    // survival flags (quality → exact → near-dup → final) and a single
    // tiny aggregate row is unpivoted to the report. Re-running each
    // stage to count it would scan the corpus five times.
    q("q_funnel_report")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val flagged = funnelCorpus(base).withColumn("q_ok", Curation.quality())
        // exact-dedup flag: min id among quality docs of the same content
        val wh = org.apache.spark.sql.expressions.Window.partitionBy(md5($"text"))
        val exact = flagged
          .withColumn("e_min", min(when($"q_ok", $"doc_id")).over(wh))
          .withColumn("e_ok", $"q_ok" && $"doc_id" === $"e_min")
        // near-dup drops among exact survivors (same LSH as the funnel)
        val survivors = exact.filter($"e_ok").select($"doc_id", $"text")
        val sig = Dedup.minhashSignatures(survivors, "doc_id", k = K)
        val drops = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5).select($"id_b".as("doc_id"), lit(true).as("dropped"))
          .distinct()
        val contaminated = Curation.contaminatedIds(survivors, funnelEval(base))
          .withColumn("contam", lit(true))
        exact
          .join(drops, Seq("doc_id"), "left")
          .join(contaminated, Seq("doc_id"), "left")
          .withColumn("nd_ok", $"e_ok" && $"dropped".isNull)
          .withColumn("f_ok", $"nd_ok" &&
            !($"doc_id" % 50 === 0 && $"doc_id" <= 100000L) && $"contam".isNull)
          .agg(count(lit(1)).as("n0"),
            sum($"q_ok".cast("long")).as("n1"),
            sum($"e_ok".cast("long")).as("n2"),
            sum($"nd_ok".cast("long")).as("n3"),
            sum($"f_ok".cast("long")).as("n4"))
          .select(expr(
            """stack(5, 0, 'corpus', n0, 1, 'quality', n1, 2, 'exact_dedup', n2,
              |3, 'near_dedup', n3, 4, 'final', n4) AS (stage_id, stage, n_docs)""".stripMargin))
          .orderBy($"stage_id")
      },
      s"""WITH $funnelCorpusSql,
         |$flaggedSql,
         |exact AS (SELECT doc_id, text, q_ok,
         |  (q_ok AND doc_id = MIN(CASE WHEN q_ok THEN doc_id END)
         |     OVER (PARTITION BY md5(text))) AS e_ok
         |  FROM flagged),
         |after_exact AS (SELECT doc_id, text FROM exact WHERE e_ok),
         |${shingleSql("after_exact")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |${contamSql("contam", "after_exact", "s8")},
         |full_flags AS (SELECT e.doc_id, e.q_ok, e.e_ok,
         |  (e.e_ok AND e.doc_id NOT IN (SELECT id_b FROM pairs)) AS nd_ok,
         |  (e.e_ok AND e.doc_id NOT IN (SELECT id_b FROM pairs)
         |   AND NOT (e.doc_id % 50 = 0 AND e.doc_id <= 100000)
         |   AND e.doc_id NOT IN (SELECT doc_id FROM contam)) AS f_ok
         |  FROM exact e),
         |agg AS (SELECT COUNT(*) AS n0,
         |  COUNT(*) FILTER (WHERE q_ok) AS n1, COUNT(*) FILTER (WHERE e_ok) AS n2,
         |  COUNT(*) FILTER (WHERE nd_ok) AS n3, COUNT(*) FILTER (WHERE f_ok) AS n4
         |  FROM full_flags)
         |SELECT 0 AS stage_id, 'corpus' AS stage, n0 AS n_docs FROM agg
         |UNION ALL SELECT 1, 'quality', n1 FROM agg
         |UNION ALL SELECT 2, 'exact_dedup', n2 FROM agg
         |UNION ALL SELECT 3, 'near_dedup', n3 FROM agg
         |UNION ALL SELECT 4, 'final', n4 FROM agg
         |ORDER BY stage_id""".stripMargin),

    // Incremental dedup: a new batch (docs > 400 plus planted
    // mutations of corpus docs) band-matched against the existing
    // corpus index (docs ≤ 400). The corpus bands are the materialized
    // LSH index; per-batch cost is O(|batch| + collisions).
    q("q_incremental_dedup")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base.filter($"doc_id" <= 400)
        val batch = base.filter($"doc_id" > 400)
          .union(corpus.filter($"doc_id" % 10 === 0)
            .select(($"doc_id" + 100000L).as("doc_id"),
              expr("substring(text, locate(' ', text) + 1)").as("text")))
        val cs = Dedup.minhashSignatures(corpus, "doc_id", k = K)
        val bs = Dedup.minhashSignatures(batch, "doc_id", k = K)
        Dedup.incrementalBandMatches(cs, bs, "doc_id", K)
          .orderBy($"batch_id")
      },
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id <= 400),
         |batch AS (SELECT doc_id, text FROM documents WHERE doc_id > 400
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
         |  FROM corpus WHERE doc_id % 10 = 0),
         |${shingleSql("corpus", "_c")},
         |sig_c AS (SELECT doc_id, $minhashAggSql FROM h_c GROUP BY doc_id),
         |${shingleSql("batch", "_b")},
         |sig_b AS (SELECT doc_id, $minhashAggSql FROM h_b GROUP BY doc_id),
         |bands_c AS (${bandsSqlFrom("sig_c")}),
         |bands_b AS (${bandsSqlFrom("sig_b")})
         |SELECT b.doc_id AS batch_id, MIN(c.doc_id) AS matched_min,
         |  COUNT(DISTINCT c.doc_id) AS n_matched
         |FROM bands_b b JOIN bands_c c
         |  ON b.band_id = c.band_id AND b.band_hash = c.band_hash
         |GROUP BY b.doc_id ORDER BY batch_id""".stripMargin),

    // SimHash hamming near-dup: 4×12-bit band blocking with guaranteed
    // recall 1 at hamming ≤ 3 (pigeonhole) — so the blocked Spark plan
    // must hash-match the all-pairs DuckDB scan exactly.
    q("q_simhash_neardup")(
      (s, d) => {
        import s.implicits._
        Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text")
          .orderBy($"id_a", $"id_b")
      },
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 12)) AS BIGINT) AS hv FROM tok),
        |b AS (SELECT unnest(generate_series(0, 47)) AS b),
        |bits AS (SELECT doc_id, b.b,
        |  SUM(CASE WHEN (hv // CAST(pow(2, b.b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS score
        |  FROM h, b GROUP BY doc_id, b.b),
        |sh AS (SELECT doc_id,
        |  CAST(SUM(CASE WHEN score > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash48
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash48, b.simhash48)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash48, b.simhash48)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // Transitive dedup clusters: connected components over the LSH
    // candidate pairs (est_sim ≥ 0.5). Spark side runs the big-star
    // rounds of [[Graphs.connectedComponents]] to a fixpoint; the
    // oracle closes the graph with a recursive CTE — both must land on
    // identical cluster ids.
    q("q_dedup_clusters")(
      (s, d) => {
        import s.implicits._
        val sig = Dedup.minhashSignatures(nearDupCorpus(s, d), "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        val comp = Graphs.connectedComponents(pairs)
        comp.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
          .join(comp, "cluster_id")
          .select($"id".as("doc_id"), $"cluster_id", $"n_members")
          .orderBy($"doc_id")
      },
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT c.id AS doc_id, c.cluster_id, n.n_members
         |FROM comp c JOIN (SELECT cluster_id, COUNT(*) AS n_members
         |  FROM comp GROUP BY cluster_id) n USING (cluster_id)
         |ORDER BY doc_id""".stripMargin),

    // Cluster representative selection — what production dedup keeps:
    // per near-dup cluster, the LONGEST member (ties → lowest id),
    // not the lowest id. A near-dup mutant is usually a truncated or
    // mangled copy; length-priority keeps the fullest text. One
    // `min_by` over (-len, id) per cluster on top of the clustering —
    // no group ever materializes.
    q("q_cluster_rep")(
      (s, d) => {
        import s.implicits._
        val corpus = nearDupCorpus(s, d)
        val sig = Dedup.minhashSignatures(corpus, "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        val comp = Graphs.connectedComponents(pairs)
        comp.join(corpus.select($"doc_id".as("id"), length($"text").as("n_len")), "id")
          .groupBy($"cluster_id")
          .agg(min_by(struct($"id", $"n_len"), struct((-$"n_len").as("o1"), $"id")).as("r"),
            count(lit(1)).as("n_members"))
          .select($"cluster_id", $"r.id".as("keep_id"), $"r.n_len".as("keep_len"),
            $"n_members")
          .orderBy($"cluster_id")
      },
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |withlen AS (SELECT comp.id, comp.cluster_id, len(c.text) AS n_len
         |  FROM comp JOIN corpus c ON c.doc_id = comp.id)
         |SELECT cluster_id, id AS keep_id, n_len AS keep_len, n_members FROM (
         |  SELECT id, cluster_id, n_len,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY n_len DESC, id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM withlen) WHERE rn = 1 ORDER BY cluster_id""".stripMargin),

    // Source-priority exact dedup — keep-from-preferred-source: the
    // same content duplicated across corpora keeps its copy from the
    // lexicographically smallest source (then lowest id), NOT the
    // lowest id — the planted 'mirror' copies (higher ids) win over
    // their 'srcN' originals, pinning that the priority really routes.
    q("q_dedup_priority")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select($"doc_id", $"source", $"text")
        val corpus = docs.union(docs.filter($"doc_id" % 10 === 0)
          .select(($"doc_id" + 200000L).as("doc_id"), lit("mirror").as("source"), $"text"))
        Dedup.exactGroupsPriority(corpus, "doc_id", "text", Seq("source"))
          .orderBy($"text_hash")
      },
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, 'mirror', text FROM documents WHERE doc_id % 10 = 0)
        |SELECT text_hash, doc_id AS keep_id, source AS keep_source, n_dups FROM (
        |  SELECT md5(text) AS text_hash, doc_id, source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY source, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY md5(text)) AS n_dups
        |  FROM corpus) WHERE rn = 1 ORDER BY text_hash""".stripMargin),

    // Leakage-free train/val split: near-dup CLUSTERS (not docs) are
    // the split unit — members of one cluster always land on the same
    // side, so no near-duplicate pair straddles the boundary (the
    // eval-leakage failure mode of naive per-doc random splits).
    // Composition: LSH pairs → connected components → singleton docs
    // keep their own id as cluster → deterministic md5-bucket of the
    // cluster id picks train (<80) or val. Map-only on top of the
    // clustering; reproducible on any engine/partitioning/rerun.
    q("q_leakage_split")(
      (s, d) => {
        import s.implicits._
        val corpus = nearDupCorpus(s, d)
        val sig = Dedup.minhashSignatures(corpus, "doc_id", k = K)
        val pairs = Dedup.lshCandidatePairs(sig, "doc_id", K, rowsPerBand = 2)
          .filter($"est_sim" >= 0.5)
        val comp = Graphs.connectedComponents(pairs)
        corpus.select($"doc_id")
          .join(comp.select($"id".as("doc_id"), $"cluster_id"), Seq("doc_id"), "left")
          .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
          .withColumn("split",
            when(TextFns.hash48($"cluster_id".cast("string")) % 100 < 80, "train")
              .otherwise("val"))
          .orderBy($"doc_id")
      },
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleSql("corpus")},
         |sig AS (SELECT doc_id, $minhashAggSql FROM h GROUP BY doc_id),
         |bands AS ($bandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |pairs AS (SELECT * FROM (
         |  SELECT id_a, id_b, ($agreeSql) / 16.0 AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
         |  WHERE est_sim >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
         |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |cl AS (SELECT c.doc_id, coalesce(p.cluster_id, c.doc_id) AS cluster_id
         |  FROM corpus c LEFT JOIN comp p ON p.id = c.doc_id)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 12)) AS BIGINT) % 100 < 80
         |       THEN 'train' ELSE 'val' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin),

    q("q_simhash")(
      (s, d) => {
        import s.implicits._
        Dedup.simhash48(t(s, d, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      },
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 12)) AS BIGINT) AS hv FROM tok),
        |b AS (SELECT unnest(generate_series(0, 47)) AS b),
        |bits AS (SELECT doc_id, b.b,
        |  SUM(CASE WHEN (hv // CAST(pow(2, b.b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS score
        |  FROM h, b GROUP BY doc_id, b.b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN score > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash48
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Multimodal plumbing: opaque binary payload + typed metadata.
    q("q_binary_meta")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id",
            octet_length($"text").as("n_bytes"),
            sha2($"text", 256).as("digest"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
