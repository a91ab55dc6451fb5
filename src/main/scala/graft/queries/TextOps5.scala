package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.classify.TextClassify
import graft.curation.Curation
import graft.functions.TextFns

/** Fifth text batch: corpus statistics and model-free classification
  * — Naive-Bayes language scoring, coverage-cut vocabulary induction,
  * per-document OOV rates, per-source token-distribution drift, and
  * the bloom-prefiltered decontamination scale path.
  *
  * Reproducibility contracts: counts and drift stay in the integer
  * domain end-to-end; the NB log-likelihood is a DECIMAL sum of
  * per-(token,class) terms rounded to 9 decimals, so both engines add
  * the identical decimals in any order (see
  * [[graft.classify.TextClassify]]).
  */
object TextOps5 {

  /** Shared oracle CTE: one row per token occurrence. */
  private val occSql =
    """occ AS (SELECT doc_id, lang, source,
      |  unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents WHERE trim(text) <> '')""".stripMargin

  val all: Seq[Query] = Seq(

    // Multinomial NB language classifier (Laplace +1), trained and
    // scored on the corpus — the closed-form stand-in for the
    // fasttext-style lang/quality classifiers of CCNet-descended
    // pipelines. Model = (classes × vocab) broadcast grid; scoring is
    // map-side with ONE (doc, class) aggregation shuffle.
    q("q_nb_classify")(
      (s, d) => TextClassify.naiveBayesScore(
          t(s, d, "documents"), labelCol = "lang")
        .orderBy(col("doc_id")),
      s"""WITH $occSql,
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
        |  ORDER BY ll DESC, c ASC) AS rn FROM ll)
        |SELECT doc_id, lang, c AS pred_label, CAST(ll AS DOUBLE) AS score
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // Coverage-cut vocabulary induction: rank tokens by corpus
    // frequency, keep the smallest prefix reaching 90% of token mass.
    // The cut is cross-multiplied in integers — exact on any engine.
    q("q_vocab_coverage")(
      (s, d) => TextClassify.vocabInduce(
          t(s, d, "documents"), coveragePct = 90)
        .orderBy(col("rank")),
      s"""WITH $occSql,
        |cnts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
        |r AS (SELECT tok, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rank,
        |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt FROM cnts)
        |SELECT tok, cnt, rank, cum_cnt,
        |  ((cum_cnt - cnt) * 100 < 90 * total) AS in_vocab
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin),

    // Per-document OOV counts against that induced 90% vocabulary —
    // the "will my tokenizer cover this doc" gate. Vocab broadcasts;
    // integers only.
    q("q_oov_rate")(
      (s, d) => TextClassify.oovRate(
          t(s, d, "documents"), coveragePct = 90)
        .orderBy(col("doc_id")),
      s"""WITH $occSql,
        |cnts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM occ GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
        |r AS (SELECT tok, cnt,
        |  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt FROM cnts),
        |vocab AS (SELECT tok FROM r CROSS JOIN tot
        |  WHERE (cum_cnt - cnt) * 100 < 90 * total)
        |SELECT occ.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM occ LEFT JOIN vocab ON vocab.tok = occ.tok
        |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin),

    // Per-source token-distribution drift from the corpus as an EXACT
    // scaled total-variation distance: tvd_num = Σ_t |n_tg·T − n_t·T_g|
    // with TVD = tvd_num / (2·T_g·T) — integer arithmetic end-to-end.
    q("q_source_drift")(
      (s, d) => TextClassify.tokenDrift(
          t(s, d, "documents"), groupCol = "source")
        .orderBy(col("source")),
      s"""WITH $occSql,
        |gt AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n_tg
        |  FROM occ GROUP BY 1, 2),
        |bt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_t FROM occ GROUP BY 1),
        |bg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS t_g FROM occ GROUP BY 1),
        |ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_all FROM occ),
        |obs AS (SELECT gt.source,
        |  CAST(SUM(abs(CAST(gt.n_tg AS DECIMAL(18,0)) * CAST(ct.t_all AS DECIMAL(19,0))
        |    - CAST(bt.n_t AS DECIMAL(18,0)) * CAST(bg.t_g AS DECIMAL(19,0)))) AS DECIMAL(38,0)) AS s_obs,
        |  CAST(SUM(bt.n_t) AS BIGINT) AS s_nt
        |  FROM gt JOIN bt USING (tok) JOIN bg ON bg.source = gt.source CROSS JOIN ct
        |  GROUP BY 1)
        |SELECT bg.source, bg.t_g AS n_tokens, ct.t_all AS corpus_tokens,
        |  CAST(obs.s_obs + CAST(bg.t_g AS DECIMAL(18,0))
        |    * CAST(ct.t_all - obs.s_nt AS DECIMAL(19,0)) AS BIGINT) AS tvd_num
        |FROM bg JOIN obs ON obs.source = bg.source CROSS JOIN ct
        |ORDER BY 1""".stripMargin),

    // Bigram-LM quality scoring (perplexity proxy): add-one-smoothed
    // bigram stats trained on the English reference slice, every doc
    // scored by total bigram log-likelihood. Model broadcasts (curated
    // reference corpus); terms are DECIMAL-rounded logs, engine-exact.
    q("q_bigram_ppl")(
      (s, d) => {
        val docs = t(s, d, "documents")
        TextClassify.bigramScore(docs, docs.filter(col("lang") === "en"))
          .orderBy(col("doc_id"))
      },
      """WITH toks AS (SELECT doc_id, lang,
        |  string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE trim(text) <> ''),
        |bi AS (SELECT doc_id, lang,
        |  unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i])) AS w1,
        |  unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i+1])) AS w2
        |  FROM toks WHERE len(tk) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi WHERE lang = 'en' GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi WHERE lang = 'en' GROUP BY 1),
        |vsz AS (SELECT COUNT(DISTINCT tok) AS v FROM (
        |  SELECT unnest(tk) AS tok FROM toks WHERE lang = 'en')),
        |terms AS (SELECT bi.doc_id,
        |  CAST(round(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
        |    / (coalesce(c1.c1, 0) + vsz.v)), 9) AS DECIMAL(18,9)) AS term
        |  FROM bi CROSS JOIN vsz
        |  LEFT JOIN c12 ON c12.w1 = bi.w1 AND c12.w2 = bi.w2
        |  LEFT JOIN c1 ON c1.w1 = bi.w1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(term) AS DOUBLE) AS ll
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Character-distribution entropy per document — the gibberish
    // detector of the quality-signal quartet (length/stopword,
    // repetition, compression ratio, entropy). Engine-exact: DECIMAL
    // term sums + two final IEEE-correctly-rounded float ops.
    q("q_char_entropy")(
      (s, d) => TextClassify.charEntropy(t(s, d, "documents"))
        .orderBy(col("doc_id")),
      """WITH ch AS (SELECT doc_id,
        |  unnest(string_split_regex(text, '')) AS c FROM documents),
        |pc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n_c
        |  FROM ch WHERE c <> '' GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(n_c) AS BIGINT) AS len,
        |  CAST(SUM(CAST(n_c AS DECIMAL(10,0)) *
        |    CAST(round(ln(n_c), 9) AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS ent_num
        |  FROM pc GROUP BY 1)
        |SELECT doc_id, len,
        |  CAST(CAST(round(ln(len), 9) AS DECIMAL(18,9)) * CAST(len AS DECIMAL(10,0))
        |    - ent_num AS DOUBLE) / len AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin),

    // Temperature-flattened source mixing (the GPT-3/PaLM data-mix
    // step with T=0.5): per-source sampling rate ∝ sqrt(source share),
    // so big sources are down-weighted and small ones surface. Exact
    // cross-engine reproducibility without trusting float sums: sqrt
    // is IEEE-correctly-rounded (bit-identical on both engines), each
    // sqrt rounds to DECIMAL(13,9), the denominator is their exact
    // DECIMAL sum, and admission is the cross-multiplied integer/
    // decimal compare bucket·n_s·denom < 1e6·T·s_s — no division, no
    // float accumulation anywhere. Budget T = half the corpus.
    // (Decimal widths sized for corpus sizes up to ~1e12 rows/source;
    // the products stay under DECIMAL(38).)
    q("q_temp_mix")(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        // skew the fixture (sources src0-src4 keep all docs, the rest
        // ~a third) so the sqrt-flattening is visible: small sources'
        // admitted share must exceed their input share
        val srcNum = substring($"source", 4, 10).cast("int")
        val docs = t(s, d, "documents")
          .filter(srcNum < 5 || $"doc_id" % 3 === 0)
        val stats = docs.groupBy($"source").agg(count(lit(1)).as("n_s"))
          .select($"source", $"n_s",
            round(sqrt($"n_s".cast("double")), 9).cast(DecimalType(13, 9)).as("s_s"))
        val denom = stats.agg(sum($"s_s").cast(DecimalType(16, 9)).as("denom"))
        val tot = docs.agg(floor(count(lit(1)) / 2).cast("long").as("t"))
        docs.select($"doc_id", $"source",
            (TextFns.hash48($"doc_id".cast("string")) % 1000000).as("bucket_ppm"))
          .join(broadcast(stats), Seq("source"))
          .crossJoin(broadcast(denom)).crossJoin(broadcast(tot))
          .filter(($"bucket_ppm" * $"n_s").cast(DecimalType(20, 0)) * $"denom" <
            (lit(1000000L) * $"t").cast(DecimalType(20, 0)) * $"s_s")
          .select($"doc_id", $"source", $"bucket_ppm")
          .orderBy($"doc_id")
      },
      """WITH corpus AS (SELECT doc_id, source FROM documents
        |  WHERE CAST(substr(source, 4) AS INTEGER) < 5 OR doc_id % 3 = 0),
        |bys AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
        |  FROM corpus GROUP BY 1),
        |st AS (SELECT source, n_s,
        |  CAST(round(sqrt(n_s), 9) AS DECIMAL(13,9)) AS s_s FROM bys),
        |dn AS (SELECT CAST(SUM(s_s) AS DECIMAL(16,9)) AS denom FROM st),
        |tt AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS t FROM corpus),
        |b AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |    % 1000000 AS bucket_ppm FROM corpus)
        |SELECT b.doc_id, b.source, b.bucket_ppm
        |FROM b JOIN st USING (source) CROSS JOIN dn CROSS JOIN tt
        |WHERE CAST(b.bucket_ppm * st.n_s AS DECIMAL(20,0)) * dn.denom
        |    < CAST(1000000 * tt.t AS DECIMAL(20,0)) * st.s_s
        |ORDER BY b.doc_id""".stripMargin),

    // Repeated-span REWRITE (the removal half of exact-substring
    // dedup; q_span_mask is the detection half): drop every token
    // covered by a cross-doc repeated 8-gram and emit the cleaned
    // text. Same planted fixture as q_span_mask so real spans drop.
    q("q_span_rewrite")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val span = base.filter($"doc_id" === 100)
          .select(concat_ws(" ", slice(TextFns.tokens($"text"), 1, 12)).as("span"))
        val corpus = base.crossJoin(broadcast(span))
          .select($"doc_id",
            when($"doc_id" % 9 === 0, concat($"text", lit(" "), $"span"))
              .otherwise($"text").as("text"))
        graft.dedup.Dedup.dropRepeatedSpans(corpus, n = 8, minDf = 2)
          .orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |sp AS (SELECT array_to_string((string_split_regex(trim(text), '\s+'))[1:12], ' ') AS span
        |  FROM base WHERE doc_id = 100),
        |corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' ' || span ELSE text END AS text
        |  FROM base, sp),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
        |g AS (SELECT doc_id,
        |  unnest(generate_series(1, len(t) - 7)) AS i,
        |  unnest(list_transform(generate_series(1, len(t) - 7),
        |    i -> CAST(concat('0x', substr(md5(
        |      t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||
        |      t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]), 1, 12)) AS BIGINT))) AS hv
        |  FROM tk WHERE len(t) >= 8),
        |rep AS (SELECT hv FROM (SELECT hv, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY hv)
        |  WHERE df >= 2),
        |cov AS (SELECT DISTINCT doc_id, j FROM
        |  (SELECT doc_id, unnest(generate_series(i, i + 7)) AS j
        |   FROM g JOIN rep USING (hv))),
        |toks AS (SELECT doc_id,
        |  unnest(generate_series(1, len(t))) AS j,
        |  unnest(t) AS tok FROM tk),
        |kept AS (SELECT toks.doc_id, toks.j, toks.tok
        |  FROM toks LEFT JOIN cov ON cov.doc_id = toks.doc_id AND cov.j = toks.j
        |  WHERE cov.j IS NULL)
        |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.clean_text, '') AS clean_text
        |FROM tk LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept,
        |    array_to_string(list(tok ORDER BY j), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin),

    // Column-level profiling of the documents table: one aggregation
    // job, exact distinct counts, native-typed min/max rendered as
    // strings. The ingest-side "should I trust this source" report.
    q("q_profile")(
      (s, d) => graft.ops.Profile.profile(
          t(s, d, "documents"), Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column")),
      """WITH d AS (SELECT * FROM documents)
        |SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls,
        |  COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_value,
        |  CAST(MAX(doc_id) AS VARCHAR) AS max_value FROM d
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
        |  COUNT(DISTINCT lang), CAST(MIN(lang) AS VARCHAR),
        |  CAST(MAX(lang) AS VARCHAR) FROM d
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
        |  COUNT(DISTINCT source), CAST(MIN(source) AS VARCHAR),
        |  CAST(MAX(source) AS VARCHAR) FROM d
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
        |  COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR),
        |  CAST(MAX(n_chars) AS VARCHAR) FROM d
        |ORDER BY "column"""".stripMargin),

    // Bloom-prefiltered eval-set decontamination: the q_decontaminate
    // fixture (planted eval-prefix contamination) pushed through
    // Curation.decontaminateBloom — corpus grams probe a driver-held
    // sketch of the eval hashes, sketch positives confirm against the
    // exact set, so the surviving-doc list is EXACTLY the exact path's.
    // The oracle is the closed form: survivors = non-eval docs sharing
    // no 8-gram with any eval doc.
    q("q_bloom_decontaminate")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val evalPrefix = base.filter($"doc_id" % 50 === 0)
          .select(($"doc_id" / 50).cast("long").as("k"),
            concat_ws(" ", slice(TextFns.tokens($"text"), 1, 8)).as("prefix"))
        val corpus = base
          .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
          .select($"doc_id",
            when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
              concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
        val evalDocs = corpus.filter($"doc_id" % 50 === 0)
        Curation.decontaminateBloom(corpus, evalDocs)
          .select($"doc_id").orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |evalp AS (SELECT doc_id // 50 AS k,
        |  array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ') AS prefix
        |  FROM base WHERE doc_id % 50 = 0),
        |corpus AS (SELECT b.doc_id,
        |  CASE WHEN b.doc_id % 7 = 0 AND b.doc_id % 50 <> 0
        |       THEN b.text || ' ' || e.prefix ELSE b.text END AS text
        |  FROM base b LEFT JOIN evalp e ON e.k = (b.doc_id % 10) + 1),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tk) - 7),
        |  i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |       tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7]))) AS s
        |  FROM toks WHERE len(tk) >= 8),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM sh),
        |eval_h AS (SELECT DISTINCT hv FROM h WHERE doc_id % 50 = 0),
        |cont AS (SELECT DISTINCT h.doc_id FROM h JOIN eval_h USING (hv)
        |  WHERE h.doc_id % 50 <> 0)
        |SELECT c.doc_id FROM corpus c
        |WHERE c.doc_id % 50 <> 0
        |  AND c.doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY c.doc_id""".stripMargin))
}
