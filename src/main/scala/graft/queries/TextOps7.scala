package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.classify.TextClassify
import graft.curation.Sampling

/** Seventh batch: decision-closing operators — the multi-signal
  * quality gate with per-signal attribution (scoring → selection with
  * a "why was this doc dropped" reasons bitmap) and embedding-cluster
  * balanced sampling (topic balance, the embedding-space twin of
  * source mixing).
  *
  * Reproducibility contracts: every threshold comparison runs over
  * engine-exact values (decimal-pinned log terms cast to double,
  * integer cross-multiplication, rounded cosines), so the keep/drop
  * bits — the actual product of these operators — are deterministic
  * across engines.
  */
object TextOps7 {

  val all: Seq[Query] = Seq(

    // Multi-signal quality gate: entropy + repetition + language +
    // reference-LM bigram likelihood combine into one weighted keep
    // decision with a per-signal reasons bitmap — the funnel's final
    // verdict WITH attribution. Thresholds sit inside the sf corpus's
    // signal distributions so every branch fires. See
    // [[graft.classify.TextClassify.qualityGateMulti]] for the
    // weights/bitmap contract.
    q("q_quality_gate_multi")(
      (s, d) => {
        val docs = t(s, d, "documents")
        TextClassify.qualityGateMulti(docs, docs.filter(col("lang") === "en"),
            minEntropy = 2.75, maxRepPct = 66, minAvgLl = -3.5)
          .orderBy(col("doc_id"))
      },
      """WITH ch AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
        |  FROM documents),
        |pc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n_c
        |  FROM ch WHERE c <> '' GROUP BY 1, 2),
        |eagg AS (SELECT doc_id, CAST(SUM(n_c) AS BIGINT) AS len,
        |  CAST(SUM(CAST(n_c AS DECIMAL(10,0)) *
        |    CAST(round(ln(n_c), 9) AS DECIMAL(18,9))) AS DECIMAL(28,9)) AS ent_num
        |  FROM pc GROUP BY 1),
        |ent AS (SELECT doc_id,
        |  CAST(CAST(round(ln(len), 9) AS DECIMAL(18,9)) * CAST(len AS DECIMAL(10,0))
        |    - ent_num AS DOUBLE) / len AS entropy
        |  FROM eagg),
        |rep AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |    >= len(regexp_extract_all(lower(text), '\b(el|la|de|los|y|en|que)\b'))
        |  THEN 'en' ELSE 'es' END AS lang_pred
        |  FROM documents),
        |toks AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tk
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
        |  LEFT JOIN c1 ON c1.w1 = bi.w1),
        |ppl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(term) AS DOUBLE) AS ll FROM terms GROUP BY 1),
        |f AS (SELECT rep.doc_id, ent.entropy, rep.n_tokens, rep.n_distinct,
        |  rep.lang_pred, ppl.n_bigrams, ppl.ll,
        |  coalesce(ent.entropy < CAST(2.75 AS DOUBLE), TRUE) AS f_ent,
        |  ((rep.n_tokens - rep.n_distinct) * 100 > 66 * rep.n_tokens) AS f_rep,
        |  (rep.lang_pred <> 'en') AS f_lang,
        |  coalesce(ppl.ll < CAST(-3.5 AS DOUBLE) * ppl.n_bigrams, FALSE) AS f_ppl
        |  FROM rep LEFT JOIN ent USING (doc_id) LEFT JOIN ppl USING (doc_id)),
        |sc AS (SELECT *,
        |  CAST(CASE WHEN f_ent THEN 1 ELSE 0 END + CASE WHEN f_rep THEN 2 ELSE 0 END
        |    + CASE WHEN f_lang THEN 4 ELSE 0 END
        |    + CASE WHEN f_ppl THEN 8 ELSE 0 END AS BIGINT) AS reasons,
        |  CAST(CASE WHEN f_ent THEN 4 ELSE 0 END + CASE WHEN f_rep THEN 2 ELSE 0 END
        |    + CASE WHEN f_lang THEN 1 ELSE 0 END
        |    + CASE WHEN f_ppl THEN 3 ELSE 0 END AS BIGINT) AS fail_score
        |  FROM f)
        |SELECT doc_id, entropy, n_tokens, n_distinct, lang_pred, n_bigrams, ll,
        |  reasons, fail_score, (fail_score < 4) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin),

    // Embedding-cluster balanced sampling: nearest-centroid assignment
    // (8 fixed probe centroids, broadcast), exact water-fill of a 75%
    // budget across the cluster-count frame, lowest-id-first admission
    // within each cluster. See
    // [[graft.curation.Sampling.clusterBalance]].
    q("q_cluster_balance")(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "embeddings")
        Sampling.clusterBalance(e, e.filter($"vec_id" < 8),
            "vec_id", "embedding", num = 3, den = 4)
          .select($"id".as("vec_id"), $"centroid_id", $"sim", $"rank",
            $"alloc", $"keep")
          .orderBy($"vec_id")
      },
      s"""WITH z AS (SELECT vec_id AS centroid_id, embedding AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (SELECT e.vec_id AS id, z.centroid_id,
        |  ${cosineSql("e.embedding", "z.cv")} AS sim FROM embeddings e, z),
        |assigned AS (SELECT id, centroid_id, sim FROM (
        |  SELECT id, centroid_id, sim,
        |    row_number() OVER (PARTITION BY id ORDER BY sim DESC, centroid_id) AS rn
        |  FROM scored) WHERE rn = 1),
        |c AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM assigned GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS s,
        |  CAST(SUM(n) * 3 // 4 AS BIGINT) AS b FROM c),
        |r AS (SELECT centroid_id, n,
        |  CAST(row_number() OVER (ORDER BY n, centroid_id) AS BIGINT) AS k,
        |  CAST(SUM(n) OVER (ORDER BY n, centroid_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |pv AS (SELECT MIN(k) AS kstar, MIN(cum - n) AS prefix, MIN(cnt) AS cnt FROM (
        |  SELECT r.k, r.cum, r.n, tot.s - r.k + 1 AS cnt FROM r, tot
        |  WHERE r.cum + (tot.s - r.k) * r.n >= tot.b ORDER BY r.k LIMIT 1)),
        |j AS (SELECT r.centroid_id, r.n, r.k, pv.kstar, pv.cnt,
        |  tot.b - pv.prefix AS d FROM r, tot, pv),
        |unc AS (SELECT centroid_id, (d - (d % cnt)) // cnt + CASE WHEN
        |    row_number() OVER (ORDER BY centroid_id) <= d % cnt THEN 1 ELSE 0 END AS alloc
        |  FROM j WHERE k >= kstar),
        |cap AS (SELECT centroid_id, n AS alloc FROM j WHERE kstar IS NULL OR k < kstar),
        |al AS (SELECT centroid_id, CAST(alloc AS BIGINT) AS alloc FROM
        |  (SELECT * FROM cap UNION ALL SELECT * FROM unc)),
        |rk AS (SELECT id, centroid_id, sim,
        |  CAST(row_number() OVER (PARTITION BY centroid_id ORDER BY id) AS BIGINT) AS rank
        |  FROM assigned)
        |SELECT rk.id AS vec_id, rk.centroid_id, rk.sim, rk.rank, al.alloc,
        |  (rk.rank <= al.alloc) AS keep
        |FROM rk JOIN al USING (centroid_id)
        |ORDER BY vec_id""".stripMargin),

    // Intra-document line dedup — the boilerplate-removal step CCNet
    // runs INSIDE each document (repeated nav bars / footers that
    // whole-doc dedup never sees). Lines = consecutive 8-token chunks;
    // every 7th doc PREPENDS its first 8-token line twice (prepending
    // keeps the plant on the line grid for any document length, so
    // the duplicate is guaranteed — an appended copy only aligns when
    // the doc length is a multiple of 8). Keep each line's FIRST
    // occurrence, rebuild the text in original order. Map-only until
    // the per-(doc, line) aggregate — grain is lines (tokens/8),
    // below the token grain the span operators already pay.
    q("q_paragraph_dedup")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val l1 = concat_ws(" ", slice(graft.functions.TextFns.tokens($"text"), 1, 8))
        val corpus = base.select($"doc_id",
          when($"doc_id" % 7 === 0,
            concat(l1, lit(" "), l1, lit(" "), $"text"))
            .otherwise($"text").as("text"))
        graft.dedup.Dedup.dedupLines(corpus, "doc_id", "text", lineTokens = 8)
          .orderBy($"doc_id")
      },
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN
        |    array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ') || ' ' ||
        |    array_to_string((string_split_regex(trim(text), '\s+'))[1:8], ' ') || ' ' || text
        |  ELSE text END AS text FROM documents),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM corpus),
        |lns AS (SELECT doc_id,
        |  list_transform(generate_series(0, (len(tk) + 7) // 8 - 1),
        |    i -> array_to_string(tk[i*8+1 : i*8+8], ' ')) AS ls FROM tk),
        |ex AS (SELECT doc_id, unnest(ls) AS line,
        |  unnest(generate_series(1, len(ls))) AS pos FROM lns),
        |firsts AS (SELECT doc_id, line, MIN(pos) AS fp FROM ex GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique_lines,
        |  array_to_string(list(line ORDER BY fp), ' ') AS clean_text
        |  FROM firsts GROUP BY 1)
        |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
        |  a.n_unique_lines, a.clean_text
        |FROM lns l JOIN agg a ON a.doc_id = l.doc_id ORDER BY l.doc_id""".stripMargin),

    // Per-source n-gram diversity (distinct-bigram share) — the
    // template/spam smell at the SOURCE grain: a scraper stuck in a
    // boilerplate loop shows total bigrams growing while distinct
    // bigrams plateau. Exact integer pair + the IEEE ratio of two
    // < 2^53 integers (bit-identical on any engine). One
    // partial-aggregated shuffle at the (source, bigram) grain.
    q("q_distinct_ngrams")(
      (s, d) => {
        import s.implicits._
        val bi = t(s, d, "documents")
          .select($"source", graft.functions.TextFns.tokens($"text").as("tk"))
          .filter(size($"tk") >= 2)
          .select($"source", explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> concat(tk[i-1], ' ', tk[i]))")).as("bg"))
        bi.groupBy($"source").agg(
            count(lit(1)).as("n_bigrams"),
            countDistinct($"bg").as("n_distinct_bigrams"))
          .withColumn("distinct_ratio",
            $"n_distinct_bigrams".cast("double") / $"n_bigrams")
          .orderBy($"source")
      },
      """WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |bi AS (SELECT source, unnest(list_transform(generate_series(1, len(tk) - 1),
        |  i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM tk WHERE len(tk) >= 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(DISTINCT bg) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(COUNT(DISTINCT bg) AS DOUBLE) / COUNT(*) AS distinct_ratio
        |FROM bi GROUP BY 1 ORDER BY 1""".stripMargin),

    // Tokenizer fertility per source: BPE-ish regex tokens per
    // whitespace token — the "how many subwords does this domain cost
    // me" budget planner (code/URL-heavy sources fertilize far above
    // prose). Exact integer sums; fertility is the IEEE quotient.
    // Map-side partial aggregation, |sources| output rows.
    q("q_tokenizer_fertility")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .groupBy($"source")
          .agg(
            sum(size(regexp_extract_all($"text", lit("\\w+|[^\\w\\s]"), lit(0)))
              .cast("long")).as("n_bpe_tokens"),
            sum(graft.functions.TextFns.tokenCount($"text").cast("long"))
              .as("n_ws_tokens"))
          .withColumn("fertility",
            $"n_bpe_tokens".cast("double") / $"n_ws_tokens")
          .orderBy($"source")
      },
      """WITH pd AS (SELECT source,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS nb,
        |  len(string_split_regex(trim(text), '\s+')) AS nw FROM documents)
        |SELECT source, CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(nw) AS BIGINT) AS n_ws_tokens,
        |  CAST(CAST(SUM(nb) AS BIGINT) AS DOUBLE) / CAST(SUM(nw) AS BIGINT) AS fertility
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin),

    // Eval-side contamination report — the flip side of
    // q_decontaminate's corpus view: per EVAL doc, how many of its
    // 8-grams appear anywhere in the training corpus and how many
    // distinct training docs carry them — the "is my benchmark
    // compromised, and how badly" audit. Same planted-contamination
    // fixture as q_decontaminate. Work ∝ gram matches; the eval gram
    // set broadcasts.
    q("q_contamination_report")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val evalPrefix = base.filter($"doc_id" % 50 === 0)
          .select(($"doc_id" / 50).cast("long").as("k"),
            concat_ws(" ", slice(F.tokens($"text"), 1, 8)).as("prefix"))
        val corpus = base
          .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
          .select($"doc_id",
            when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
              concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
        val hashes = corpus.select($"doc_id",
          explode(array_distinct(F.shingleHashes48(F.tokens($"text"), 8))).as("hv"))
        val evalH = hashes.filter($"doc_id" % 50 === 0)
        val trainH = hashes.filter($"doc_id" % 50 =!= 0)
        val grams = evalH.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
        val hits = evalH
          .join(trainH.select($"hv", $"doc_id".as("train_id")), "hv")
          .groupBy($"doc_id").agg(
            countDistinct($"hv").as("n_hit_grams"),
            countDistinct($"train_id").as("n_contaminating_docs"))
        grams.join(hits, Seq("doc_id"), "left")
          .select($"doc_id", $"n_grams",
            coalesce($"n_hit_grams", lit(0L)).as("n_hit_grams"),
            coalesce($"n_contaminating_docs", lit(0L)).as("n_contaminating_docs"))
          .orderBy($"doc_id")
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
        |ev AS (SELECT doc_id, hv FROM h WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id AS train_id, hv FROM h WHERE doc_id % 50 <> 0),
        |grams AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY 1),
        |hits AS (SELECT ev.doc_id,
        |  CAST(COUNT(DISTINCT ev.hv) AS BIGINT) AS n_hit_grams,
        |  CAST(COUNT(DISTINCT tr.train_id) AS BIGINT) AS n_contaminating_docs
        |  FROM ev JOIN tr USING (hv) GROUP BY 1)
        |SELECT grams.doc_id, grams.n_grams,
        |  coalesce(hits.n_hit_grams, 0) AS n_hit_grams,
        |  coalesce(hits.n_contaminating_docs, 0) AS n_contaminating_docs
        |FROM grams LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Longest contaminated span per eval doc — the metric
    // decontamination papers actually gate on (a benchmark whose
    // answer string appears verbatim is compromised; 40 scattered
    // single 8-grams are not). Same planted fixture as
    // q_contamination_report, but over POSITIONAL 8-grams: a span is
    // a maximal run of consecutive gram positions all present in the
    // training corpus, found by the classic pos − row_number segment
    // trick; its token length is run + 7. Scale shape: the corpus
    // side stays map-only (eval gram set broadcasts in, the surviving
    // hit-hv set broadcasts back out); the per-eval-doc window
    // partitions on doc_id over match positions only.
    q("q_contamination_span")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val evalPrefix = base.filter($"doc_id" % 50 === 0)
          .select(($"doc_id" / 50).cast("long").as("k"),
            concat_ws(" ", slice(F.tokens($"text"), 1, 8)).as("prefix"))
        val corpus = base
          .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
          .select($"doc_id",
            when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
              concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
        graft.curation.Curation.contaminationSpans(
            corpus.filter($"doc_id" % 50 =!= 0),
            corpus.filter($"doc_id" % 50 === 0), n = 8)
          .orderBy($"doc_id")
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
        |  WHERE hv IN (SELECT hv FROM tr)),
        |seg AS (SELECT doc_id,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seg FROM m),
        |runs AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS run
        |  FROM seg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, MAX(run) AS longest_run,
        |  CAST(SUM(run) AS BIGINT) AS n_matched FROM runs GROUP BY 1),
        |grams AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY 1)
        |SELECT grams.doc_id, grams.n_grams,
        |  coalesce(agg.n_matched, 0) AS n_matched_grams,
        |  coalesce(agg.longest_run, 0) AS longest_run,
        |  coalesce(agg.longest_run + 7, 0) AS longest_span_tokens
        |FROM grams LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Graded span-based decontamination — the corpus-side twin of
    // q_contamination_span: every TRAIN doc audited for its longest
    // eval-verbatim run, keep = longest_span_tokens < 8 (any full
    // 8-gram verbatim drops; shorter incidental overlaps survive —
    // the graded policy q_decontaminate's any-shared-gram rule cannot
    // express). Eval gram set broadcasts; corpus stays map-only.
    q("q_span_decontaminate")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val evalPrefix = base.filter($"doc_id" % 50 === 0)
          .select(($"doc_id" / 50).cast("long").as("k"),
            concat_ws(" ", slice(F.tokens($"text"), 1, 8)).as("prefix"))
        val corpus = base
          .join(broadcast(evalPrefix), ($"doc_id" % 10) + 1 === $"k", "left")
          .select($"doc_id",
            when($"doc_id" % 7 === 0 && $"doc_id" % 50 =!= 0,
              concat($"text", lit(" "), $"prefix")).otherwise($"text").as("text"))
        graft.curation.Curation.spanContamination(
            corpus.filter($"doc_id" % 50 =!= 0),
            corpus.filter($"doc_id" % 50 === 0), n = 8)
          .withColumn("keep", $"longest_span_tokens" < 8)
          .orderBy($"doc_id")
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
        |pg AS MATERIALIZED (SELECT doc_id,
        |  unnest(generate_series(1, len(tk) - 7)) AS pos,
        |  unnest(list_transform(generate_series(1, len(tk) - 7),
        |    i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |         tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7])) AS s
        |  FROM toks WHERE len(tk) >= 8),
        |h AS (SELECT doc_id, pos,
        |  CAST(concat('0x', substr(md5(s), 1, 12)) AS BIGINT) AS hv FROM pg),
        |evh AS (SELECT DISTINCT hv FROM h WHERE doc_id % 50 = 0),
        |tr AS MATERIALIZED (SELECT doc_id, pos, hv FROM h WHERE doc_id % 50 <> 0),
        |m AS MATERIALIZED (SELECT doc_id, pos FROM tr
        |  WHERE hv IN (SELECT hv FROM evh)),
        |seg AS (SELECT doc_id,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seg FROM m),
        |runs AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS run
        |  FROM seg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, MAX(run) AS longest_run,
        |  CAST(SUM(run) AS BIGINT) AS n_matched FROM runs GROUP BY 1),
        |grams AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM tr GROUP BY 1)
        |SELECT grams.doc_id, grams.n_grams,
        |  coalesce(agg.n_matched, 0) AS n_matched_grams,
        |  coalesce(agg.longest_run, 0) AS longest_run,
        |  coalesce(agg.longest_run + 7, 0) AS longest_span_tokens,
        |  (coalesce(agg.longest_run + 7, 0) < 8) AS keep
        |FROM grams LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Per-source PII exposure report — the audit twin of
    // q_scrub_pii's rewrite: BEFORE scrubbing anything, which sources
    // leak how much (emails / URLs / phone numbers), occurrence counts
    // plus affected-doc counts. Same planted-dirty fixture plus a
    // phone plant on every 13th doc; patterns mirror the scrubber's
    // (proven cross-engine). Map-only regex counts + one per-source
    // partial aggregation.
    // Exact Spearman rank agreement between two per-doc quality
    // signals (token count vs char count here) — "do my signals rank
    // documents the same way", the check before dropping one of two
    // correlated gates. DETERMINISTIC tie-broken ranks (row_number
    // over (value, doc_id) — not fractional average ranks; the oracle
    // mirrors the same variant), so sum_d2 = Σ(rank_a − rank_b)² is
    // an exact integer both engines agree on bit-for-bit; readers form
    // ρ = 1 − 6·sum_d2/(n(n²−1)). Ranks via the range-partitioned
    // global row number (no single-task corpus window). Σd² runs in
    // DECIMAL(38,0) (HUGEINT on the oracle side) — Σd² < n³ overflows
    // int64 already at ~2·10⁶ docs — and lands as the driver-safe
    // hi/lo BIGINT split (hi = Σd² div 10¹⁸, lo = Σd² mod 10¹⁸; the
    // graft.operators.Graphs damping-product idiom, NOT a new decimal
    // output shape — ContractSpec's precedent rule): exact to
    // n ≤ 4·10¹² docs, guarded loudly there (n³ ≤ 6.4e37 <
    // DECIMAL(38,0)/HUGEINT range).
    q("q_spearman_signals")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents")
          .select($"doc_id",
            graft.functions.TextFns.tokenCount($"text").cast("long").as("a"),
            $"n_chars".cast("long").as("b"))
        val ra = graft.operators.Ranking.globalRowNumber(
          base.select($"doc_id", $"a"), Seq($"a", $"doc_id"), out = "rank_a")
        val rb = graft.operators.Ranking.globalRowNumber(
          base.select($"doc_id", $"b"), Seq($"b", $"doc_id"), out = "rank_b")
        ra.join(rb, "doc_id")
          // d fits BIGINT (|d| < n ≤ 4e12); d² up to 1.6e25 does NOT —
          // promote ONE factor to DECIMAL(19,0) so the square and the
          // sum run entirely in DECIMAL(38,0) integer math
          .agg(count(lit(1)).as("n_docs"),
            sum(($"rank_a" - $"rank_b").cast("decimal(19,0)") *
              ($"rank_a" - $"rank_b")).as("_d2"))
          .filter(assert_true($"n_docs" <= lit(4000000000000L),
            lit("q_spearman_signals: n^3 exceeds DECIMAL(38,0) beyond " +
              "4e12 docs")).isNull)
          .select($"n_docs",
            expr("cast(_d2 div 1000000000000000000 as long)").as("sum_d2_hi"),
            expr("cast(_d2 % 1000000000000000000 as long)").as("sum_d2_lo"))
      },
      """WITH base AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS a,
        |  CAST(n_chars AS BIGINT) AS b FROM documents),
        |r AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY a, doc_id) AS BIGINT) AS rank_a,
        |  CAST(row_number() OVER (ORDER BY b, doc_id) AS BIGINT) AS rank_b
        |  FROM base),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  SUM(CAST(rank_a - rank_b AS HUGEINT) * (rank_a - rank_b)) AS d2
        |FROM r)
        |SELECT n_docs,
        |  CAST(d2 // 1000000000000000000 AS BIGINT) AS sum_d2_hi,
        |  CAST(d2 % 1000000000000000000 AS BIGINT) AS sum_d2_lo
        |FROM s""".stripMargin),

    // Exact pairwise VOCABULARY Jaccard between sources — corpus
    // forensics: two sources with near-identical vocabularies are
    // mirrors/syndication feeds and double-count in any mixture.
    // Exact, not minhash-estimated: the source grain is tiny (S
    // sources ⇒ S(S−1)/2 pairs), so the inverted-index join on the
    // token is cheap — per token the join fans out to at most
    // (sources sharing it)² ≤ S², and the (source, token) frame is
    // vocab-sized, not corpus-sized (one distinct aggregation
    // collapses the corpus first). Integer counts + one exact IEEE
    // division.
    q("q_vocab_overlap")(
      (s, d) => {
        import s.implicits._
        val st = t(s, d, "documents")
          .select($"source", explode(graft.functions.TextFns.tokens(lower($"text"))).as("tok"))
          .distinct()
        val stp = graft.util.CacheScope.pin(st)
        val sizes = stp.groupBy($"source").agg(count(lit(1)).as("sz"))
        val common = stp.as("x").join(stp.as("y"),
            $"x.tok" === $"y.tok" && $"x.source" < $"y.source")
          .groupBy($"x.source".as("src_a"), $"y.source".as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(sizes.select($"source".as("src_a"), $"sz".as("sz_a")), "src_a")
          .join(sizes.select($"source".as("src_b"), $"sz".as("sz_b")), "src_b")
          .select($"src_a", $"src_b", $"n_common", $"sz_a", $"sz_b",
            ($"n_common".cast("double") / ($"sz_a" + $"sz_b" - $"n_common")).as("vocab_jaccard"))
          .orderBy($"src_a", $"src_b")
      },
      """WITH st AS (SELECT DISTINCT source,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM st GROUP BY 1),
        |common AS (SELECT x.source AS src_a, y.source AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM st x JOIN st y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS vocab_jaccard
        |FROM common JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin),

    // Exact two-sample KS drift: each source's token-LENGTH
    // distribution vs the rest of the corpus, as an integer numerator
    // on the n_g·n_rest denominator (pure integer cumsums/products —
    // bit-identical cross-engine; see graft.ops.Profile.ksDriftByGroup
    // for the grid-frame scale shape). The shape alarm next to
    // q_source_drift's token-mix TVD.
    q("q_ks_drift")(
      (s, d) => {
        import s.implicits._
        val lens = t(s, d, "documents")
          .select($"source", graft.functions.TextFns.tokenCount($"text").as("len"))
        graft.ops.Profile.ksDriftByGroup(lens, "source", "len")
          .orderBy($"source")
      },
      """WITH lens AS (SELECT source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS val
        |  FROM documents),
        |counts AS (SELECT source AS grp, val, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lens GROUP BY 1, 2),
        |dl AS (SELECT DISTINCT val FROM counts),
        |grps AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_g FROM counts GROUP BY 1),
        |nall AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM counts),
        |grid AS (SELECT g.grp, g.n_g, d.val, COALESCE(c.cnt, 0) AS cnt
        |  FROM grps g CROSS JOIN dl d
        |  LEFT JOIN counts c ON c.grp = g.grp AND c.val = d.val),
        |cumg AS (SELECT grp, n_g, val,
        |  CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY val
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g FROM grid),
        |ca AS (SELECT val, CAST(SUM(c2) OVER (ORDER BY val
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
        |  FROM (SELECT val, SUM(cnt) AS c2 FROM counts GROUP BY 1)),
        |scored AS (SELECT cumg.grp, cumg.n_g, nall.n_all, cumg.val,
        |  abs(cum_g * (n_all - n_g) - (cum_all - cum_g) * n_g) AS diff
        |  FROM cumg JOIN ca ON ca.val = cumg.val CROSS JOIN nall)
        |SELECT grp AS source, n_g AS n_group,
        |  CAST(n_all - n_g AS BIGINT) AS n_rest,
        |  CAST(diff AS BIGINT) AS ks_num, val AS ks_at
        |FROM (SELECT *, row_number() OVER (PARTITION BY grp
        |  ORDER BY diff DESC, val) AS rn FROM scored)
        |WHERE rn = 1 ORDER BY source""".stripMargin),

    // Dataset card — the per-source release summary assembling the
    // suite's oracle-pinned component signals (corpus stats, lang mix,
    // exact-dup rate, PII exposure) into ONE frame via the public
    // graft.export.DatasetCard.build, exported as a hash-manifested
    // JSONL artifact (CorpusExportSpec pins byte-identical re-export).
    // Fixture: the q_pii_report dirty-text plant (the raw corpus has
    // no PII) plus verbatim-copy twins (doc_id%29==0 → +800000, same
    // text) so the dup counter is non-trivial. All counters BIGINT.
    q("q_dataset_card")(
      (s, d) => {
        import s.implicits._
        val dirty = t(s, d, "documents")
          .select($"doc_id", $"source",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com or https://example.com/u/"), $"doc_id",
              when($"doc_id" % 13 === 0, lit(" call 555-123-4567"))
                .otherwise(lit(""))).as("text"))
        val corpus = dirty.unionByName(dirty.filter($"doc_id" % 29 === 0)
          .select(($"doc_id" + 800000L).as("doc_id"), $"source", $"text"))
        graft.export.DatasetCard.build(corpus).orderBy($"source")
      },
      """WITH dirty AS (SELECT doc_id, source,
        |  concat(text, ' contact user', doc_id,
        |    '@example.com or https://example.com/u/', doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END) AS text
        |  FROM documents),
        |corpus AS (SELECT source, text FROM dirty
        |  UNION ALL SELECT source, text FROM dirty WHERE doc_id % 29 = 0),
        |cnt AS (SELECT source, text,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_b,
        |  CASE WHEN trim(text) = '' THEN 1 ELSE 0 END AS is_empty,
        |  CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is)\b'))
        |        >= len(regexp_extract_all(lower(text), '\b(el|la|de|los|y|en|que)\b'))
        |    THEN 1 ELSE 0 END AS is_en,
        |  CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones
        |  FROM corpus)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_b) AS BIGINT) AS n_bytes,
        |  CAST(SUM(is_empty) AS BIGINT) AS n_empty,
        |  CAST(COUNT(*) - COUNT(DISTINCT CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT))
        |    AS BIGINT) AS n_exact_dups,
        |  CAST(SUM(is_en) AS BIGINT) AS n_lang_en,
        |  CAST(SUM(n_urls) AS BIGINT) AS n_urls,
        |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
        |  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
        |  CAST(SUM(CASE WHEN n_urls + n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin),

    q("q_pii_report")(
      (s, d) => {
        import s.implicits._
        val dirty = t(s, d, "documents")
          .select($"doc_id", $"source",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com or https://example.com/u/"), $"doc_id",
              when($"doc_id" % 13 === 0, lit(" call 555-123-4567"))
                .otherwise(lit(""))).as("dirty"))
        val nUrl = size(regexp_extract_all($"dirty", lit("https?://\\S+"), lit(0)))
        // count emails on the URL-scrubbed text, exactly like the
        // scrubber applies them (an email inside a URL counts once)
        val noUrl = regexp_replace($"dirty", "https?://\\S+", "<URL>")
        val nEmail = size(regexp_extract_all(noUrl,
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0)))
        val nPhone = size(regexp_extract_all($"dirty",
          lit("\\d{3}-\\d{3}-\\d{4}"), lit(0)))
        dirty
          .select($"source", nUrl.cast("long").as("n_urls"),
            nEmail.cast("long").as("n_emails"), nPhone.cast("long").as("n_phones"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_urls").as("n_urls"),
            sum($"n_emails").as("n_emails"),
            sum($"n_phones").as("n_phones"),
            sum(($"n_urls" + $"n_emails" + $"n_phones" > 0).cast("long"))
              .as("n_docs_with_pii"))
          .orderBy($"source")
      },
      """WITH dirty AS (SELECT doc_id, source,
        |  concat(text, ' contact user', doc_id,
        |    '@example.com or https://example.com/u/', doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567' ELSE '' END) AS dirty
        |  FROM documents),
        |cnt AS (SELECT source,
        |  CAST(len(regexp_extract_all(dirty, 'https?://\S+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(dirty, 'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(dirty, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones
        |  FROM dirty)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_urls) AS BIGINT) AS n_urls,
        |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
        |  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
        |  CAST(SUM(CASE WHEN n_urls + n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_pii
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin),

    // Per-source token-length outlier flags from EXACT rank-based
    // quartiles (q1 = value at rank ceil(n/4), q3 at ceil(3n/4), both
    // (value, id)-ordered) and the Tukey 1.5·IQR fences
    // cross-multiplied in integers — no float quantile
    // interpolation, so both engines agree on every flag. Fixture
    // plants long (4× text) and short (3-token) mutants so fences
    // bind. One per-source window at the doc grain + a broadcast
    // quartile join.
    q("q_length_outliers")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"source", $"text")
        val corpus = base
          .unionByName(base.filter($"doc_id" % 41 === 0)
            .select(($"doc_id" + 600000L).as("doc_id"), $"source",
              concat_ws(" ", $"text", $"text", $"text", $"text").as("text")))
          .unionByName(base.filter($"doc_id" % 37 === 0)
            .select(($"doc_id" + 700000L).as("doc_id"), $"source",
              concat_ws(" ", slice(graft.functions.TextFns.tokens($"text"), 1, 3)).as("text")))
        val wt = corpus.select($"doc_id", $"source",
          graft.functions.TextFns.tokenCount($"text").cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"n_tokens", $"doc_id")
        val ranked = wt
          .withColumn("r", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"source")).cast("long"))
        val qs = ranked.groupBy($"source").agg(
          min(when($"r" === expr("(n + 3) div 4"), $"n_tokens")).as("q1"),
          min(when($"r" === expr("(3 * n + 3) div 4"), $"n_tokens")).as("q3"))
        wt.join(broadcast(qs), "source")
          .select($"doc_id", $"source", $"n_tokens", $"q1", $"q3",
            ($"n_tokens" * 2 < $"q1" * 2 - ($"q3" - $"q1") * 3 ||
              $"n_tokens" * 2 > $"q3" * 2 + ($"q3" - $"q1") * 3).as("is_outlier"))
          .orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, source, text FROM documents),
        |corpus AS (SELECT doc_id, source, text FROM base
        |  UNION ALL SELECT doc_id + 600000, source,
        |    text || ' ' || text || ' ' || text || ' ' || text
        |  FROM base WHERE doc_id % 41 = 0
        |  UNION ALL SELECT doc_id + 700000, source,
        |    array_to_string((string_split_regex(trim(text), '\s+'))[1:3], ' ')
        |  FROM base WHERE doc_id % 37 = 0),
        |wt AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM corpus),
        |r AS (SELECT doc_id, source, n_tokens,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS BIGINT) AS r,
        |  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM wt),
        |qs AS (SELECT source,
        |  MIN(CASE WHEN r = (n + 3) // 4 THEN n_tokens END) AS q1,
        |  MIN(CASE WHEN r = (3 * n + 3) // 4 THEN n_tokens END) AS q3
        |  FROM r GROUP BY 1)
        |SELECT wt.doc_id, wt.source, wt.n_tokens, qs.q1, qs.q3,
        |  (wt.n_tokens * 2 < qs.q1 * 2 - (qs.q3 - qs.q1) * 3
        |   OR wt.n_tokens * 2 > qs.q3 * 2 + (qs.q3 - qs.q1) * 3) AS is_outlier
        |FROM wt JOIN qs USING (source) ORDER BY doc_id""".stripMargin))
}
