package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.classify.TextClassify
import graft.curation.Curation

/** Eighth text batch: audit-metric closers — interval-union span
  * coverage (the "what fraction of the benchmark leaked" number next
  * to q_contamination_span's longest run), inter-gate agreement
  * (Cohen-kappa confusion cells between two quality gates), and the
  * selective-prediction risk–coverage table for the NB classifier
  * (the accept/abstain tuning curve).
  *
  * Reproducibility contracts: coverage and agreement stay integer
  * end-to-end; the risk–coverage ranking orders by a DECIMAL-exact
  * log-likelihood margin with an id tie-break and assigns bands by
  * integer cross-multiplication — no NTILE implementation dependence,
  * no floating comparison anywhere.
  */
object TextOps8 {

  /** The q_contamination_span planted fixture, shared: every 7th
    * non-eval doc gets one eval doc's 8-token prefix appended, so eval
    * docs carry real matched spans to measure. */
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val F = graft.functions.TextFns
    val base = t(s, d, "documents").select($"doc_id", $"text")
    val evalPrefix = base.filter($"doc_id" % 50 === 0)
      .select(($"doc_id" / 50).cast("long").as("k"),
        concat_ws(" ", slice(F.tokens($"text"), 1, 8)).as("prefix"))
    base
      .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
      .select($"doc_id",
        when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
          concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
  }

  /** Shared oracle CTEs: the planted fixture down to `m` — per eval
    * doc, the positions of its 8-grams present in the training side
    * (verbatim from the q_contamination_span oracle). */
  private val plantedSpanSql =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |evalp AS (SELECT doc_id // 50 AS k,
      |  array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ') AS prefix
      |  FROM base WHERE doc_id % 50 = 0),
      |corpus AS (SELECT b.doc_id,
      |  CASE WHEN b.doc_id % 7 = 0 AND b.doc_id % 50 <> 0
      |       THEN b.text || ' ' || e.prefix ELSE b.text END AS text
      |  FROM base b LEFT JOIN evalp e ON e.k = (b.doc_id % 10) + 1),
      |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
      |pg AS MATERIALIZED (SELECT doc_id,
      |  unnest(generate_series(1, len(tk) - 7)) AS pos,
      |  unnest(list_transform(generate_series(1, len(tk) - 7),
      |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
      |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7])) AS s
      |  FROM toks WHERE len(tk) >= 8),
      |h AS (SELECT doc_id, pos,
      |  CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM pg),
      |ev AS MATERIALIZED (SELECT doc_id, pos, hv FROM h WHERE doc_id % 50 = 0),
      |tr AS (SELECT DISTINCT hv FROM h WHERE doc_id % 50 <> 0),
      |m AS MATERIALIZED (SELECT doc_id, pos FROM ev
      |  WHERE hv IN (SELECT hv FROM tr))""".stripMargin

  val all: Seq[Query] = Seq(

    // Interval-union coverage of contaminated spans per eval doc —
    // [[Curation.spanUnionCoverage]]: union cardinality of all matched
    // 8-gram spans plus the count of contiguous covered regions.
    // Same planted fixture as q_contamination_span; the oracle runs
    // the same sorted-starts island scan (fixed-length spans ⇒ one
    // lag) in SQL windows. Positions are 0-based in Spark and 1-based
    // in the oracle — both the island test (a difference of positions)
    // and the island length (max − min + n) are shift-invariant.
    q("q_span_coverage")(
      (s, d) => {
        import s.implicits._
        val corpus = plantedCorpus(s, d)
        Curation.spanUnionCoverage(
            corpus.filter($"doc_id" % 50 =!= 0),
            corpus.filter($"doc_id" % 50 === 0), n = 8)
          .orderBy($"doc_id")
      },
      s"""$plantedSpanSql,
        |lagged AS (SELECT doc_id, pos,
        |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos FROM m),
        |isl AS (SELECT doc_id, pos,
        |  SUM(CASE WHEN ppos IS NULL OR pos > ppos + 8 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS iid FROM lagged),
        |per AS (SELECT doc_id, iid,
        |  MAX(pos) - MIN(pos) + 8 AS cov, COUNT(*) AS nm FROM isl GROUP BY 1, 2),
        |cagg AS (SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS covered,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(nm) AS BIGINT) AS n_matched FROM per GROUP BY 1),
        |grams AS (SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(MAX(len(toks.tk)) AS BIGINT) AS n_tokens
        |  FROM ev JOIN toks ON toks.doc_id = ev.doc_id GROUP BY 1)
        |SELECT grams.doc_id, grams.n_tokens, grams.n_grams,
        |  coalesce(cagg.n_matched, 0) AS n_matched_grams,
        |  coalesce(cagg.covered, 0) AS covered_tokens,
        |  coalesce(cagg.n_islands, 0) AS n_islands,
        |  CAST((coalesce(cagg.covered, 0) * 1000000) // grams.n_tokens AS BIGINT)
        |    AS coverage_ppm
        |FROM grams LEFT JOIN cagg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Inter-gate agreement: Cohen-kappa confusion cells between two
    // quality gates (a length gate on tokens vs a length gate on
    // chars), per source — "are my two gates measuring the same
    // thing" before dropping one. The exact sufficient statistics
    // (n, n11, n10, n01, n00 — each ≤ n, int64-safe to 9·10¹⁸ docs)
    // ship instead of a formed kappa: κ = (n·(n11+n00) − Σ_marginals)
    // / (n² − Σ_marginals) can be NEGATIVE, and signed integer
    // division semantics (floor vs truncate) diverge across engines —
    // the cells are exact on any engine and kappa is one reader-side
    // division. `po_ppm` (raw agreement, always ≥ 0) IS formed:
    // (n11+n00)·10⁶ div n, exact floor on both engines. One partial
    // aggregation, map-side combined — scale-free.
    q("q_kappa_gates")(
      (s, d) => {
        import s.implicits._
        val g = t(s, d, "documents").select($"source",
          (graft.functions.TextFns.tokenCount($"text") >= 56).as("a"),
          ($"n_chars" >= 306).as("b"))
        g.groupBy($"source").agg(
            count(lit(1)).as("n"),
            sum(($"a" && $"b").cast("long")).as("n11"),
            sum(($"a" && !$"b").cast("long")).as("n10"),
            sum((!$"a" && $"b").cast("long")).as("n01"),
            sum((!$"a" && !$"b").cast("long")).as("n00"))
          .withColumn("po_ppm",
            expr("CAST(((n11 + n00) * 1000000) div n AS BIGINT)"))
          .orderBy($"source")
      },
      """WITH g AS (SELECT source,
        |  len(string_split_regex(trim(text), '\s+')) >= 56 AS a,
        |  n_chars >= 306 AS b FROM documents),
        |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |  CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |  CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |  CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM g GROUP BY 1)
        |SELECT source, n, n11, n10, n01, n00,
        |  CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS po_ppm
        |FROM c ORDER BY source""".stripMargin),

    // RM3-style pseudo-relevance feedback search —
    // [[graft.retrieval.Retrieval.prfSearch]]: BM25 pass, top-3 docs
    // per query taken as relevant, the 2 heaviest non-query terms
    // harvested (summed tf over the feedback set, ties on term),
    // appended at weight 1, re-scored; final top-5. The known-item
    // fixture of q_retrieval_eval (every 40th doc queried by its own
    // tokens 2-4). Both passes ride the SAME postings frame and the
    // same decimal-pinned BM25 as q_bm25/q_retrieval_metrics.
    q("q_prf_search")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val queries = base.filter($"doc_id" % 40 === 0)
          .select($"doc_id".as("query_id"), slice(F.tokens($"text"), 2, 3).as("terms"))
          .filter(size($"terms") === 3)
        graft.retrieval.Retrieval.prfSearch(base, queries,
            fbDocs = 3, fbTerms = 2, k = 5)
          .orderBy($"query_id", $"rn")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |qs AS (SELECT doc_id AS query_id,
        |  (string_split_regex(trim(text), '\s+'))[2:4] AS terms
        |  FROM base WHERE doc_id % 40 = 0
        |  AND len(string_split_regex(trim(text), '\s+')) >= 4),
        |qt AS (SELECT query_id, lower(t) AS term, CAST(COUNT(*) AS DOUBLE) AS qtf
        |  FROM (SELECT query_id, unnest(terms) AS t FROM qs) GROUP BY 1, 2),
        |tok AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS term,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS len_d
        |  FROM base),
        |post AS MATERIALIZED (SELECT doc_id, term, len_d,
        |  CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        |c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |  SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE)) AS sum_len
        |  FROM base),
        |contrib AS (SELECT qt.query_id, p.doc_id,
        |  round(qt.qtf * ((c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        |    * (p.tf * (1.2 + 1.0))
        |    / (p.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (p.len_d / (c.sum_len / c.n_docs)))), 9) AS ct
        |  FROM post p JOIN qt ON qt.term = p.term
        |  JOIN dfs ON dfs.term = p.term CROSS JOIN c),
        |sc AS (SELECT query_id, doc_id,
        |  CAST(SUM(CAST(ct AS DECIMAL(28,9))) AS DOUBLE) AS score
        |  FROM contrib GROUP BY 1, 2),
        |fbdocs AS MATERIALIZED (SELECT query_id, doc_id FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 3),
        |mass AS (SELECT f.query_id, p.term, SUM(p.tf) AS mass
        |  FROM fbdocs f JOIN post p ON p.doc_id = f.doc_id
        |  LEFT JOIN qt ON qt.query_id = f.query_id AND qt.term = p.term
        |  WHERE qt.term IS NULL GROUP BY 1, 2),
        |fbt AS (SELECT query_id, term FROM (
        |  SELECT query_id, term,
        |    row_number() OVER (PARTITION BY query_id ORDER BY mass DESC, term) AS trank
        |  FROM mass) WHERE trank <= 2),
        |qt2 AS MATERIALIZED (SELECT query_id, term, qtf FROM qt
        |  UNION ALL SELECT query_id, term, CAST(1 AS DOUBLE) FROM fbt),
        |contrib2 AS (SELECT q2.query_id, p.doc_id,
        |  round(q2.qtf * ((c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
        |    * (p.tf * (1.2 + 1.0))
        |    / (p.tf + 1.2 * ((1.0 - 0.75) + 0.75 * (p.len_d / (c.sum_len / c.n_docs)))), 9) AS ct
        |  FROM post p JOIN qt2 q2 ON q2.term = p.term
        |  JOIN dfs ON dfs.term = p.term CROSS JOIN c),
        |sc2 AS (SELECT query_id, doc_id,
        |  CAST(SUM(CAST(ct AS DECIMAL(28,9))) AS DOUBLE) AS score
        |  FROM contrib2 GROUP BY 1, 2)
        |SELECT query_id, rn, doc_id, score FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        |  FROM sc2) WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin),

    // Holdout confusion matrix for the NB classifier — the fit/apply
    // SPLIT under oracle (q_nb_classify is the resubstitution form:
    // train == score; real gates train on a curated seed and score
    // unseen docs). Train = doc_id % 5 ≠ 0, test = the held-out fifth;
    // the vocabulary-model contract applies: test tokens outside the
    // TRAINING vocabulary carry no evidence (inner grid join), and a
    // test doc with zero in-vocab tokens is absent. Output is the
    // (lang × pred_label) confusion matrix — the generalization-gap
    // reading next to q_nb_classify's training-set fit.
    q("q_nb_holdout")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val train = docs.filter($"doc_id" % 5 =!= 0)
        val test = docs.filter($"doc_id" % 5 === 0)
        val model = TextClassify.naiveBayesFit(train, labelCol = "lang")
        TextClassify.naiveBayesApply(test, model)
          .join(test.select($"doc_id", $"lang"), "doc_id")
          .groupBy($"lang", $"pred_label")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"pred_label")
      },
      """WITH occ AS (SELECT doc_id, lang,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |tro AS (SELECT * FROM occ WHERE doc_id % 5 <> 0),
        |teo AS (SELECT * FROM occ WHERE doc_id % 5 = 0),
        |vsz AS (SELECT COUNT(DISTINCT tok) AS v FROM tro),
        |ct AS (SELECT lang AS c, tok, COUNT(*) AS n_tc FROM tro GROUP BY 1, 2),
        |tot AS (SELECT lang AS c, COUNT(*) AS t_c FROM tro GROUP BY 1),
        |pri AS (SELECT lang AS c, COUNT(*) AS d_c FROM documents
        |  WHERE doc_id % 5 <> 0 GROUP BY 1),
        |dall AS (SELECT COUNT(*) AS d_all FROM documents WHERE doc_id % 5 <> 0),
        |prior AS (SELECT c, CAST(round(ln(CAST(d_c AS DOUBLE) / d_all), 9)
        |  AS DECIMAL(18,9)) AS prior FROM pri CROSS JOIN dall),
        |vocab AS (SELECT DISTINCT tok FROM tro),
        |grid AS (SELECT tot.c, vocab.tok,
        |  CAST(round(ln(CAST(coalesce(ct.n_tc, 0) + 1 AS DOUBLE)
        |    / (tot.t_c + vsz.v)), 9) AS DECIMAL(18,9)) AS term
        |  FROM tot CROSS JOIN vocab CROSS JOIN vsz
        |  LEFT JOIN ct ON ct.c = tot.c AND ct.tok = vocab.tok),
        |sc AS (SELECT teo.doc_id, grid.c, SUM(grid.term) AS tsum
        |  FROM teo JOIN grid ON grid.tok = teo.tok GROUP BY 1, 2),
        |ll AS (SELECT sc.doc_id, sc.c, prior.prior + sc.tsum AS ll
        |  FROM sc JOIN prior ON prior.c = sc.c),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY ll DESC, c ASC) AS rn FROM ll),
        |top AS (SELECT doc_id, c AS pred_label FROM rk WHERE rn = 1),
        |lab AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0)
        |SELECT lab.lang, top.pred_label, CAST(COUNT(*) AS BIGINT) AS n
        |FROM top JOIN lab USING (doc_id)
        |GROUP BY 1, 2 ORDER BY lang, pred_label""".stripMargin),

    // Selective-prediction risk–coverage table for the NB language
    // classifier — [[TextClassify.selectiveRiskCoverage]]: rank docs
    // by log-likelihood margin (best − runner-up, DECIMAL-exact),
    // split into 10 equal coverage bands, report per-band and
    // cumulative correctness. The oracle rebuilds the q_nb_classify
    // grid and runs the same margin ranking in SQL windows.
    q("q_selective_risk")(
      (s, d) => TextClassify.selectiveRiskCoverage(
          t(s, d, "documents"), labelCol = "lang")
        .orderBy(col("band")),
      """WITH occ AS (SELECT doc_id, lang,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |vsz AS (SELECT COUNT(DISTINCT tok) AS v FROM occ),
        |ct AS (SELECT lang AS c, tok, COUNT(*) AS n_tc FROM occ GROUP BY 1, 2),
        |tot AS (SELECT lang AS c, COUNT(*) AS t_c FROM occ GROUP BY 1),
        |pri AS (SELECT lang AS c, COUNT(*) AS d_c FROM documents GROUP BY 1),
        |dall AS (SELECT COUNT(*) AS d_all FROM documents),
        |prior AS (SELECT c, CAST(round(ln(CAST(d_c AS DOUBLE) / d_all), 9)
        |  AS DECIMAL(18,9)) AS prior FROM pri CROSS JOIN dall),
        |vocab AS (SELECT DISTINCT tok FROM occ),
        |grid AS (SELECT tot.c, vocab.tok,
        |  CAST(round(ln(CAST(coalesce(ct.n_tc, 0) + 1 AS DOUBLE)
        |    / (tot.t_c + vsz.v)), 9) AS DECIMAL(18,9)) AS term
        |  FROM tot CROSS JOIN vocab CROSS JOIN vsz
        |  LEFT JOIN ct ON ct.c = tot.c AND ct.tok = vocab.tok),
        |sc AS (SELECT occ.doc_id, occ.lang, grid.c, SUM(grid.term) AS tsum
        |  FROM occ JOIN grid ON grid.tok = occ.tok GROUP BY 1, 2, 3),
        |ll AS (SELECT sc.doc_id, sc.lang, sc.c, prior.prior + sc.tsum AS ll
        |  FROM sc JOIN prior ON prior.c = sc.c),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY ll DESC, c ASC) AS rn FROM ll),
        |pd AS (SELECT r1.doc_id,
        |  CASE WHEN r1.c = r1.lang THEN 1 ELSE 0 END AS correct,
        |  r1.ll - r2.ll AS margin
        |  FROM (SELECT * FROM rk WHERE rn = 1) r1
        |  JOIN (SELECT * FROM rk WHERE rn = 2) r2 USING (doc_id)),
        |nn AS (SELECT COUNT(*) AS n FROM pd),
        |bd AS (SELECT correct,
        |  ((row_number() OVER (ORDER BY margin DESC, doc_id) - 1) * 10) // nn.n + 1
        |    AS band FROM pd CROSS JOIN nn),
        |pb AS (SELECT CAST(band AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(correct) AS BIGINT) AS n_correct FROM bd GROUP BY 1)
        |SELECT band, n_docs, n_correct,
        |  CAST(SUM(n_docs) OVER (ORDER BY band
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |  CAST(SUM(n_correct) OVER (ORDER BY band
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_correct
        |FROM pb ORDER BY band""".stripMargin),

    // Label-noise candidates — docs whose GIVEN label disagrees with
    // the NB prediction, most-confident disagreements first (the
    // relabel/review queue; confident-learning-lite). Shares the
    // per-doc margin construction with q_selective_risk; the margin
    // ships as exact integer nanos (DECIMAL(·,9) · 1e9), and the
    // global rank routes through the partition-offset machinery.
    q("q_label_noise")(
      (s, d) => TextClassify.labelNoise(
          t(s, d, "documents"), labelCol = "lang", topK = 100)
        .orderBy(col("rank")),
      """WITH occ AS (SELECT doc_id, lang,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |vsz AS (SELECT COUNT(DISTINCT tok) AS v FROM occ),
        |ct AS (SELECT lang AS c, tok, COUNT(*) AS n_tc FROM occ GROUP BY 1, 2),
        |tot AS (SELECT lang AS c, COUNT(*) AS t_c FROM occ GROUP BY 1),
        |pri AS (SELECT lang AS c, COUNT(*) AS d_c FROM documents GROUP BY 1),
        |dall AS (SELECT COUNT(*) AS d_all FROM documents),
        |prior AS (SELECT c, CAST(round(ln(CAST(d_c AS DOUBLE) / d_all), 9)
        |  AS DECIMAL(18,9)) AS prior FROM pri CROSS JOIN dall),
        |vocab AS (SELECT DISTINCT tok FROM occ),
        |grid AS (SELECT tot.c, vocab.tok,
        |  CAST(round(ln(CAST(coalesce(ct.n_tc, 0) + 1 AS DOUBLE)
        |    / (tot.t_c + vsz.v)), 9) AS DECIMAL(18,9)) AS term
        |  FROM tot CROSS JOIN vocab CROSS JOIN vsz
        |  LEFT JOIN ct ON ct.c = tot.c AND ct.tok = vocab.tok),
        |sc AS (SELECT occ.doc_id, occ.lang, grid.c, SUM(grid.term) AS tsum
        |  FROM occ JOIN grid ON grid.tok = occ.tok GROUP BY 1, 2, 3),
        |ll AS (SELECT sc.doc_id, sc.lang, sc.c, prior.prior + sc.tsum AS ll
        |  FROM sc JOIN prior ON prior.c = sc.c),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY ll DESC, c ASC) AS rn FROM ll),
        |pd AS (SELECT r1.doc_id, r1.lang AS given_label, r1.c AS pred,
        |  CAST((r1.ll - r2.ll) * 1000000000 AS BIGINT) AS margin_nanos
        |  FROM (SELECT * FROM rk WHERE rn = 1) r1
        |  JOIN (SELECT * FROM rk WHERE rn = 2) r2 USING (doc_id)
        |  WHERE r1.c <> r1.lang)
        |SELECT CAST(row_number() OVER (ORDER BY margin_nanos DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, given_label, pred, margin_nanos
        |FROM pd
        |ORDER BY rank LIMIT 100""".stripMargin),

    // Type-token ratio per source — the lexical-diversity fingerprint
    // (a template-spam source repeats a tiny vocabulary; natural prose
    // doesn't), as exact integer ppm. One token explode + one
    // partial-aggregated (source, distinct) pass.
    q("q_ttr")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents").filter(trim($"text") =!= "")
          .select($"source",
            explode(graft.functions.TextFns.tokens($"text")).as("tok"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_tokens"), countDistinct($"tok").as("n_types"))
          .select($"source", $"n_tokens", $"n_types",
            expr("1000000 * n_types div n_tokens").as("ttr_ppm"))
          .orderBy($"source")
      },
      """WITH occ AS (SELECT source,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> '')
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
        |  1000000 * COUNT(DISTINCT tok) // COUNT(*) AS ttr_ppm
        |FROM occ GROUP BY source ORDER BY source""".stripMargin),

    // Token-length histogram per source (log2 buckets) — the length-
    // distribution fingerprint next to q_length_decile's global cut:
    // a source whose mass sits in the 2-3-bucket tail is boilerplate/
    // fragment-heavy. The bucket is ONE integer CASE chain shared
    // verbatim by engine and oracle (the q_degree_hist convention —
    // no floating log2 whose last bit could disagree at powers).
    q("q_length_hist")(
      (s, d) => {
        import s.implicits._
        val chain = (1 to 11).map(i =>
          s"WHEN n_tokens < ${1L << i} THEN CAST(${i - 1} AS BIGINT)")
          .mkString("CASE ", " ", " ELSE CAST(11 AS BIGINT) END")
        t(s, d, "documents")
          .select($"source",
            graft.functions.TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          .groupBy($"source", expr(chain).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min($"n_tokens").as("min_tokens"), max($"n_tokens").as("max_tokens"))
          .orderBy($"source", $"bucket")
      }, {
        val chain = (1 to 11).map(i =>
          s"WHEN n_tokens < ${1L << i} THEN CAST(${i - 1} AS BIGINT)")
          .mkString("CASE ", " ", " ELSE CAST(11 AS BIGINT) END")
        s"""WITH d AS (SELECT source,
           |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM documents)
           |SELECT source, $chain AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
           |FROM d GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin
      }),

    // Vocabulary-growth curve (the Heaps-law audit) over 3-GRAM types:
    // new distinct trigram types contributed by each corpus DECILE in
    // doc_id order, plus the cumulative type count — a corpus whose
    // curve flattens early is template/duplicate-heavy; one that
    // keeps climbing is still adding real content. (Unigram types are
    // the degenerate version — the whole token vocabulary shows up in
    // the first slice of any real corpus; combinatorial n-gram types
    // are what actually grow.) Exact and order-free: the decile comes
    // from `Ranking.globalNtile` over doc_id (deciles are monotone in
    // the order, so a type's FIRST decile is the decile of its
    // min-doc), new types = one min-aggregation per type, and the
    // cumulative sum rides a 10-row window. No sequential scan, no
    // approximate sketches.
    q("q_vocab_growth")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val docs = graft.operators.Ranking.globalNtile(
          t(s, d, "documents").select($"doc_id", $"text"),
          k = 10, sortCols = Seq($"doc_id"), out = "decile")
        val firstSeen = docs
          .select($"decile",
            explode(F.shingles($"text", 3)).as("g"))
          .groupBy($"g").agg(min($"decile").as("first_decile"))
        val perDecile = firstSeen.groupBy($"first_decile".as("decile"))
          .agg(count(lit(1)).as("new_types"))
        val w = org.apache.spark.sql.expressions.Window.orderBy($"decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        // 10-row frame: the unpartitioned window is bounded by design
        perDecile.withColumn("cum_types", sum($"new_types").over(w))
          .orderBy($"decile")
      },
      """WITH docs AS (SELECT doc_id, text,
        |  ntile(10) OVER (ORDER BY doc_id) AS decile FROM documents),
        |toks AS (SELECT decile, string_split_regex(trim(text), '\s+') AS tk
        |  FROM docs),
        |occ AS (SELECT decile, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tk) - 2),
        |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS g
        |  FROM toks WHERE len(tk) >= 3),
        |fs AS (SELECT g, MIN(decile) AS first_decile FROM occ GROUP BY 1),
        |pd AS (SELECT CAST(first_decile AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS new_types FROM fs GROUP BY 1)
        |SELECT decile, new_types,
        |  CAST(SUM(new_types) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM pd ORDER BY decile""".stripMargin),

    // PMI collocations — the corpus's most-associated adjacent word
    // pairs (multi-word-expression mining: "new york", "machine
    // learning"): rank by pointwise mutual information. ln is monotone
    // (the q_logodds_terms argument), so the ranking runs on the EXACT
    // rational N·c_ab/(c1_a·c2_b) as integer ppm via the DECIMAL(38,0)
    // product-div idiom — 1e6·1e9·1e12 ≈ 1e27 at 100 TB, inside
    // DECIMAL(38,0); no libm in the contract. Position-specific
    // unigram counts (w as LEFT vs RIGHT element) are the exact
    // bigram-independence denominator. Scale shape: one corpus-token
    // pass fans into three partial-aggregated counts (map-side
    // combine); min-support 5 bounds the ranked frame; global top-50
    // is a TakeOrdered, never a single-task window.
    q("q_pmi_terms")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val tk = F.tokens($"text")
        val bg = graft.util.CacheScope.pin(t(s, d, "documents")
          .filter(trim($"text") =!= "")
          .select(tk.as("_tk"))
          .filter(size($"_tk") >= 2)
          .select(explode(arrays_zip(
            slice($"_tk", lit(1), size($"_tk") - 1).as("w1"),
            slice($"_tk", lit(2), size($"_tk") - 1).as("w2"))).as("bg"))
          .select($"bg.w1".as("w1"), $"bg.w2".as("w2")))
        val nTot = bg.agg(count(lit(1)).as("n_bigrams"))
        val c1 = bg.groupBy($"w1").agg(count(lit(1)).as("n_w1"))
        val c2 = bg.groupBy($"w2").agg(count(lit(1)).as("n_w2"))
        val cab = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 5)
        cab.join(c1, "w1").join(c2, "w2")
          .crossJoin(broadcast(nTot))
          .select($"w1", $"w2", $"n_ab", $"n_w1", $"n_w2", $"n_bigrams",
            expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_bigrams
                   | div (CAST(n_w1 AS DECIMAL(38,0)) * n_w2) AS BIGINT)"""
              .stripMargin).as("pmi_ppm"))
          .orderBy($"pmi_ppm".desc, $"w1", $"w2")
          .limit(50)
      },
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |bi AS (SELECT
        |  unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1,
        |  unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i+1])) AS w2
        |  FROM toks WHERE len(tk) >= 2),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams FROM bi),
        |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_w1 FROM bi GROUP BY 1),
        |c2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_w2 FROM bi GROUP BY 1),
        |cab AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bi
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT cab.w1, cab.w2, n_ab, n_w1, n_w2, n.n_bigrams,
        |  CAST(CAST(1000000 AS HUGEINT) * n_ab * n.n_bigrams
        |    // (CAST(n_w1 AS HUGEINT) * n_w2) AS BIGINT) AS pmi_ppm
        |FROM cab JOIN c1 ON c1.w1 = cab.w1 JOIN c2 ON c2.w2 = cab.w2
        |CROSS JOIN n
        |ORDER BY pmi_ppm DESC, cab.w1, cab.w2 LIMIT 50""".stripMargin))
}
