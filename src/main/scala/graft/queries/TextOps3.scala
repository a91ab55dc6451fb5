package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.functions.TextFns

/** Third text batch: the corpus-curation operators a training-data
  * pipeline applies between dedup and tokenization — per-source caps,
  * repetition filtering (the Gopher-style "fraction of duplicate
  * tokens" signal), boilerplate/HTML stripping and PII scrubbing.
  *
  * The synthetic corpus has no markup or PII, so the strip/scrub
  * queries plant deterministic markup/contact strings derived from
  * doc_id on BOTH sides — the oracle checks the scrubbing transform
  * itself, not the fixture.
  */
object TextOps3 {

  val all: Seq[Query] = Seq(

    // Per-source document cap — domain balancing: keep the first 10
    // docs of each source (the sf0.01 corpus has 25/source, so the
    // cap binds). One shuffle on the cap key; at 100 TB the window is
    // per-source-partition and never materializes a group.
    q("q_source_cap")(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        t(s, d, "documents")
          .select($"doc_id", $"source")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 10)
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    // Token repetition ratio — the duplicate-token fraction quality
    // signal. Map-only: per-row array ops, no shuffle.
    q("q_repetition")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", TextFns.tokens($"text").as("tk"))
          .select($"doc_id",
            size($"tk").as("n_tokens"),
            size(array_distinct($"tk")).as("n_distinct"))
          .withColumn("rep_ratio",
            lit(1.0) - $"n_distinct".cast("double") / $"n_tokens")
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct,
        |1.0 - CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |  / len(string_split_regex(trim(text), '\s+')) AS rep_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML/boilerplate strip: plant markup around the text, strip every
    // tag, report raw vs clean lengths plus the cleaned text.
    q("q_html_strip")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id",
            concat(lit("<p id=\""), $"doc_id", lit("\"><b>"), $"text",
              lit("</b></p> <br/>")).as("html"))
          .select($"doc_id", length($"html").as("n_raw"),
            regexp_replace($"html", "<[^>]+>", "").as("clean_text"))
          .withColumn("n_clean", length($"clean_text"))
          .orderBy($"doc_id")
      },
      """WITH tagged AS (SELECT doc_id,
        |  concat('<p id="', doc_id, '"><b>', text, '</b></p> <br/>') AS html
        |  FROM documents)
        |SELECT doc_id, len(html) AS n_raw,
        |regexp_replace(html, '<[^>]+>', '', 'g') AS clean_text,
        |len(regexp_replace(html, '<[^>]+>', '', 'g')) AS n_clean
        |FROM tagged ORDER BY doc_id""".stripMargin),

    // PII scrub: plant a deterministic email + URL per doc, replace
    // both with placeholder tokens (URLs first so the email regex
    // cannot eat a URL userinfo part).
    q("q_scrub_pii")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com or https://example.com/u/"), $"doc_id").as("dirty"))
          .select($"doc_id",
            regexp_replace(
              regexp_replace($"dirty", "https?://\\S+", "<URL>"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>").as("scrubbed"))
          .orderBy($"doc_id")
      },
      """WITH dirty AS (SELECT doc_id,
        |  concat(text, ' contact user', doc_id, '@example.com or https://example.com/u/', doc_id) AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |regexp_replace(
        |  regexp_replace(dirty, 'https?://\S+', '<URL>', 'g'),
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS scrubbed
        |FROM dirty ORDER BY doc_id""".stripMargin),

    // Unicode cleaning — NFC normalization + mojibake/control-char
    // stats, the encoding-hygiene pass before dedup (decomposed
    // sequences would split fingerprint keys on provenance). The
    // synthetic corpus is ASCII, so a deterministic suffix plants an
    // NFD pair (e + combining acute U+0301), a replacement char U+FFFD
    // and a control char U+0007 on BOTH sides — the oracle checks the
    // normalization/scrub transform itself, not the fixture. Unicode
    // normalization is a fully specified mapping, so Spark's
    // java.text.Normalizer and DuckDB's nfc_normalize agree verbatim;
    // both engines count string length in codepoints.
    q("q_unicode_clean")(
      (s, d) => {
        import s.implicits._
        val ctrl = "[\u0001-\u0008\u000B\u000C\u000E-\u001F]"
        t(s, d, "documents")
          .select($"doc_id",
            concat($"text", lit(" cafe\u0301 \uFFFD\u0007end")).as("dirty"))
          .select($"doc_id",
            TextFns.nfcNormalize($"dirty").as("nfc_text"),
            (length($"dirty") - length(TextFns.nfcNormalize($"dirty"))).as("n_composed"),
            (length($"dirty") - length(regexp_replace($"dirty", "\uFFFD", ""))).as("n_repl"),
            (length($"dirty") - length(regexp_replace($"dirty", ctrl, ""))).as("n_ctrl"))
          .withColumn("clean_text",
            regexp_replace($"nfc_text",
              "[\u0001-\u0008\u000B\u000C\u000E-\u001F\uFFFD]", ""))
          .orderBy($"doc_id")
      },
      """WITH dirty AS (SELECT doc_id,
        |  concat(text, ' cafe', chr(769), ' ', chr(65533), chr(7), 'end') AS dirty
        |  FROM documents),
        |ctrl AS (SELECT '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) ||
        |                chr(14) || '-' || chr(31) || ']' AS re)
        |SELECT doc_id,
        |  nfc_normalize(dirty) AS nfc_text,
        |  len(dirty) - len(nfc_normalize(dirty)) AS n_composed,
        |  len(dirty) - len(replace(dirty, chr(65533), '')) AS n_repl,
        |  len(dirty) - len(regexp_replace(dirty, re, '', 'g')) AS n_ctrl,
        |  regexp_replace(nfc_normalize(dirty),
        |    '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) ||
        |    chr(14) || '-' || chr(31) || chr(65533) || ']', '', 'g') AS clean_text
        |FROM dirty, ctrl ORDER BY doc_id""".stripMargin),

    // Corpus report: per (source, lang) doc/token/char rollup — the
    // partial-aggregated one-shuffle summary a curation run publishes.
    q("q_corpus_stats")(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .groupBy($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFns.tokenCount($"text").cast("long")).as("n_tokens"),
            sum($"n_chars").as("sum_chars"),
            max($"n_chars").as("max_chars"))
          .orderBy($"source", $"lang")
      },
      """SELECT source, lang, COUNT(*) AS n_docs,
        |CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin),

    // Length deciles — curriculum/stratification bucketing over a
    // deterministic total order (unique doc_id tie-break). Exact ntile
    // WITHOUT a global window: a bare ntile().over(Window.orderBy(..))
    // moves the whole corpus into one task; Ranking.globalNtile
    // range-partitions on the total order, ranks with per-partition
    // counters + broadcast offsets (both passes fully parallel), and
    // front-loads the remainder into the first buckets exactly like
    // SQL ntile (see Ranking.scala for why the even-spread closed form
    // is NOT equivalent).
    q("q_length_decile")(
      (s, d) => {
        import s.implicits._
        graft.operators.Ranking.globalNtile(
            t(s, d, "documents").select($"doc_id", $"n_chars"),
            k = 10, sortCols = Seq($"n_chars", $"doc_id"), out = "decile")
          .select($"doc_id", $"n_chars", $"decile")
          .orderBy($"doc_id")
      },
      """SELECT doc_id, n_chars,
        |ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Global percentile position of every doc's length — score
    // normalization for mixing/filtering thresholds ("drop the bottom
    // 5% by length" works cross-corpus where absolute cutoffs don't).
    // Exact percent_rank/cume_dist WITHOUT a single-task window via
    // the same partition-offset machinery as q_length_decile; under a
    // total order both are one IEEE division from the global rank, so
    // the oracle's window forms hash-match bit-identically.
    q("q_percent_rank")(
      (s, d) => {
        import s.implicits._
        graft.operators.Ranking.globalPercentRank(
            t(s, d, "documents").select($"doc_id", $"n_chars"),
            sortCols = Seq($"n_chars", $"doc_id"))
          .select($"doc_id", $"n_chars", $"pct_rank", $"cume_dist")
          .orderBy($"doc_id")
      },
      """SELECT doc_id, n_chars,
        |  percent_rank() OVER (ORDER BY n_chars, doc_id) AS pct_rank,
        |  cume_dist() OVER (ORDER BY n_chars, doc_id) AS cume_dist
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Token-budget corpus selection — the dataset-curation cut: rank
    // docs by a quality prior (stopword count — a natural-language-ness
    // signal — descending, doc_id tie-break) and keep the maximal
    // prefix whose cumulative token count fits the budget. Exact cumsum
    // WITHOUT a global window (the oracle's SUM OVER (ORDER BY) moves
    // everything into one task at scale): Ranking.globalRunningSum
    // range-partitions on the total order, aggregates per-partition
    // totals once, and seeds a codegen'd partition-local accumulator
    // with the broadcast prefix — both passes fully parallel. Integer
    // token sums are exact under any ordering.
    q("q_token_budget")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select($"doc_id",
          TextFns.tokenCount($"text").cast("long").as("n_tokens"),
          TextFns.stopwordCount($"text").cast("long").as("n_stop"))
        graft.operators.Ranking.tokenBudgetSelect(docs, budget = 20000L,
            tokensCol = $"n_tokens", sortCols = Seq($"n_stop".desc, $"doc_id"))
          .select($"doc_id", $"n_stop", $"n_tokens", $"cum_tokens")
          .orderBy($"doc_id")
      },
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
        |  FROM documents),
        |c AS (SELECT doc_id, n_stop, n_tokens,
        |  CAST(SUM(n_tokens) OVER (ORDER BY n_stop DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM d)
        |SELECT doc_id, n_stop, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin),

    // Per-source token budgets — domain token caps in mix construction:
    // within each source, keep docs in doc_id order until that SOURCE's
    // token budget is spent (the token-weighted twin of q_source_cap's
    // count cap). A hash-PARTITIONED window — cumsum state never leaves
    // its source partition, so this parallelizes on plain Spark windows
    // at any scale (only the GLOBAL budget cut needs Ranking's
    // partition-offset machinery, q_token_budget).
    q("q_source_token_budget")(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "documents")
          .select($"doc_id", $"source",
            TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          .withColumn("cum_tokens", sum($"n_tokens").over(w))
          .filter($"cum_tokens" <= 800L)
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source, n_tokens, cum_tokens FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin),

    // Balanced output sharding — the corpus-export step: assign docs
    // round-robin over a size-DESCENDING total order (classic
    // LPT-style balancing: the k largest docs land in k different
    // shards, so shard token totals stay within one doc of each
    // other). The global rank comes from Ranking.globalRowNumber —
    // fully parallel, no single-task window; the oracle uses the
    // equivalent row_number window form.
    q("q_shard_assign")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select($"doc_id",
          TextFns.tokenCount($"text").cast("long").as("n_tokens"))
        graft.operators.Ranking.globalRowNumber(docs,
            Seq($"n_tokens".desc, $"doc_id"), out = "rk")
          .select($"doc_id", $"n_tokens", (($"rk" - 1L) % 8L).as("shard"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, n_tokens,
        |  (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 8 AS shard
        |FROM (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // Per-source TF-IDF signature terms — what q_top_terms' raw counts
    // cannot give: corpus-wide common terms are down-weighted by the
    // rational idf (S - df + 0.5)/(df + 0.5) over the number of SOURCES
    // containing the term (no log — every op IEEE-exact, so the score
    // hash-compares bit-identically; see q_bm25). Shape at scale: one
    // (source, term) shuffle for tf, one term shuffle for df, a 1-row
    // broadcast for the source count, and a per-source top-k window —
    // never whole documents.
    q("q_tfidf_terms")(
      (s, d) => {
        import s.implicits._
        val tf = t(s, d, "documents")
          .select($"source", explode(TextFns.tokens($"text")).as("term"))
          .groupBy($"source", $"term").agg(count(lit(1)).cast("double").as("tf"))
        val dfT = tf.groupBy($"term").agg(count(lit(1)).cast("double").as("df"))
        val nSrc = t(s, d, "documents")
          .agg(count_distinct($"source").cast("double").as("n_src"))
        val scored = tf.join(dfT, "term").crossJoin(broadcast(nSrc))
          .select($"source", $"term", $"tf",
            ($"tf" * (($"n_src" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))).as("score"))
        val w = Window.partitionBy($"source").orderBy($"score".desc, $"term")
        scored.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
          .orderBy($"source", $"rn")
      },
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
        |ns AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_src FROM documents),
        |sc AS (SELECT tf.source, tf.term, tf.tf,
        |  tf.tf * ((ns.n_src - df.df + 0.5) / (df.df + 0.5)) AS score
        |  FROM tf JOIN df USING (term), ns),
        |r AS (SELECT source, term, tf, score,
        |  row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rn FROM sc)
        |SELECT source, term, tf, score, rn FROM r WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin),

    // Per-source top terms — the corpus vocabulary report. Explode →
    // partial-aggregated count → per-source top-k window; the explode
    // shuffles (source, term) pairs, never whole documents.
    q("q_top_terms")(
      (s, d) => {
        import s.implicits._
        val cnt = t(s, d, "documents")
          .select($"source", explode(TextFns.tokens($"text")).as("term"))
          .groupBy($"source", $"term").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy($"source").orderBy($"cnt".desc, $"term")
        cnt.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
          .orderBy($"source", $"rn")
      },
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |cnt AS (SELECT source, term, COUNT(*) AS cnt FROM tok GROUP BY source, term),
        |r AS (SELECT source, term, cnt,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, term) AS rn FROM cnt)
        |SELECT source, term, cnt, rn FROM r WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin),

    // Sequence packing — the pretraining concat-and-chunk step: docs
    // are concatenated per source in deterministic order and cut into
    // 2048-token context windows; each doc reports the window it
    // starts in and its offset there. One window cumsum per source
    // partition — no driver state, no second pass.
    q("q_seq_pack")(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"source").orderBy($"doc_id")
        t(s, d, "documents")
          .select($"doc_id", $"source", TextFns.tokenCount($"text").cast("long").as("n_tokens"))
          .withColumn("start_off", sum($"n_tokens").over(w) - $"n_tokens")
          .select($"doc_id", $"source", $"n_tokens",
            floor($"start_off" / 2048).cast("long").as("pack_id"),
            ($"start_off" % 2048).cast("long").as("pack_offset"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, source, n_tokens,
        |CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
        |FROM (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  SUM(len(string_split_regex(trim(text), '\s+')))
        |    OVER (PARTITION BY source ORDER BY doc_id) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // BM25-style relevance scoring against a fixed query — the
    // retrieval/quality-ranking primitive (select the most on-topic
    // docs for a domain mix), through the public parameterized API
    // ([[graft.retrieval.Retrieval.bm25Score]] — the rational-idf
    // variant whose ops are all IEEE-exact, so Spark and DuckDB
    // produce bit-identical doubles; see its doc). Corpus stats are
    // one 1-row aggregate broadcast under the scoring pass;
    // integer-valued double sums stay exact under shuffle reorder
    // (< 2^53). The k1+1 / 1-b constants are single IEEE ops computed
    // identically on both sides ((1.2 + 1.0), (1.0 - 0.75) in the
    // SQL).
    q("q_bm25")(
      (s, d) => {
        import s.implicits._
        graft.retrieval.Retrieval.bm25Score(
            t(s, d, "documents"), Seq("hash", "spark", "window"), k1 = 1.2, b = 0.75)
          .orderBy($"score".desc, $"doc_id")
          .limit(100)
      },
      """WITH base AS (SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) AS len_d,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'hash')) AS DOUBLE) AS tf0,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'spark')) AS DOUBLE) AS tf1,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'window')) AS DOUBLE) AS tf2
        |  FROM documents),
        |c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, SUM(len_d) AS sum_len,
        |  SUM(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |  SUM(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |  SUM(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
        |  FROM base)
        |SELECT doc_id,
        |  (n_docs - df0 + 0.5) / (df0 + 0.5) * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |+ (n_docs - df1 + 0.5) / (df1 + 0.5) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |+ (n_docs - df2 + 0.5) / (df2 + 0.5) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |  AS score
        |FROM base, c
        |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin),

    // Retrieval self-eval (known-item search) — the audit that closes
    // the retrieval loop: every 40th doc becomes a query (its tokens
    // 2..4 as the term bag), and hits@k counts how often multi-query
    // BM25 ranks the SOURCE doc in its own top-k. Exercises
    // [[graft.retrieval.Retrieval.bm25ScoreMulti]] end-to-end: the
    // relational form that serves a query log (the single-query API
    // cannot), postings computed once, query terms broadcast, scores
    // decimal-pinned so ranks are engine-exact. Output: exact integer
    // counts per k ∈ {1, 5, 10}.
    q("q_retrieval_eval")(
      (s, d) => {
        import s.implicits._
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val queries = base.filter($"doc_id" % 40 === 0)
          .select($"doc_id".as("query_id"), slice(F.tokens($"text"), 2, 3).as("terms"))
          .filter(size($"terms") === 3)
        val scored = graft.retrieval.Retrieval.bm25ScoreMulti(
          graft.retrieval.Retrieval.postingsOf(base), queries)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
        val top = graft.util.CacheScope.pin(
          scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 10))
        val nq = queries.agg(count(lit(1)).as("n_queries"))
        Seq(1, 5, 10).map { k =>
          nq.crossJoin(
            top.filter($"rank" <= k && $"doc_id" === $"query_id")
              .agg(count(lit(1)).as("n_self_hits")))
            .select(lit(k.toLong).as("k"), $"n_queries", $"n_self_hits")
        }.reduce(_ unionByName _).orderBy($"k")
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
        |topk AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 10),
        |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS k, nq.n_queries,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM topk
        |     WHERE rank <= 1 AND doc_id = query_id) AS n_self_hits FROM nq
        |  UNION ALL SELECT CAST(5 AS BIGINT), nq.n_queries,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM topk
        |     WHERE rank <= 5 AND doc_id = query_id) FROM nq
        |  UNION ALL SELECT CAST(10 AS BIGINT), nq.n_queries,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM topk
        |     WHERE rank <= 10 AND doc_id = query_id) FROM nq
        |) ORDER BY k""".stripMargin),

    // Retrieval metrics — MRR and nDCG@10 alongside hits@10, per
    // system, over the SAME known-item setup as q_retrieval_eval but
    // covering the fused path too: BM25
    // ([[graft.retrieval.Retrieval.bm25ScoreMulti]]), a term-overlap
    // ranking (integer counts — the second signal hybrid search
    // fuses), their RRF fusion
    // ([[graft.retrieval.Retrieval.rrfFuseBy]] on the (query, doc)
    // composite key), and the production DENSE path
    // ([[graft.sim.Similarity.ivfSq8TopK]], nprobe=2 over the
    // q_ivf_sq8_topk cell structure): the query doc's own embedding
    // probes the quantized index WITHOUT self-exclusion (query ids
    // ride offset by 1e9 so the probe's q≠d filter never drops the
    // known item), so its hits@/MRR/nDCG row reports ANN
    // SELF-RETRIEVAL recall — a probe that misses the item's cell, or
    // a code-cosine tie resolved to a lower id, scores a miss, which
    // is exactly the exact-vs-ANN trade a retrieval stack tunes on
    // (the metric twin of q_ivf_tuning's scan-cost frontier). Queries
    // whose embedding quantizes to NULL (NaN) rank nothing and count
    // as misses. Metrics are integer micro-unit sums
    // ([[graft.retrieval.Retrieval.knownItemMetrics]]): rr_micro =
    // floor(1e6/rank + 0.5) (one exact IEEE division), ndcg_micro via
    // the round-9 log contract — order-independent BIGINT sums, no
    // float aggregate or decimal column anywhere in the contract.
    q("q_retrieval_metrics")(
      (s, d) => {
        import s.implicits._
        val R = graft.retrieval.Retrieval
        val F = graft.functions.TextFns
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val queries = base.filter($"doc_id" % 40 === 0)
          .select($"doc_id".as("query_id"), slice(F.tokens($"text"), 2, 3).as("terms"))
          .filter(size($"terms") === 3)
        // ONE corpus tokenization: both systems rank off the same
        // pinned postings frame (the overlap count is the number of
        // matched DISTINCT terms — exactly the postings grain)
        val postings = graft.util.CacheScope.pin(R.postingsOf(base))
        val wQ = Window.partitionBy($"query_id").orderBy($"score".desc, $"doc_id")
        val bmTop = graft.util.CacheScope.pin(
          R.bm25ScoreMulti(postings, queries)
            .withColumn("rank", row_number().over(wQ)).filter($"rank" <= 10)
            .select($"query_id", $"doc_id", $"rank"))
        val qt = queries.select($"query_id", explode($"terms").as("t0"))
          .select($"query_id", lower($"t0").as("term")).distinct()
        val wO = Window.partitionBy($"query_id").orderBy($"n_overlap".desc, $"doc_id")
        val ovTop = graft.util.CacheScope.pin(
          postings.select($"doc_id", $"term").join(broadcast(qt), "term")
            .groupBy($"query_id", $"doc_id").agg(count(lit(1)).as("n_overlap"))
            .withColumn("rank", row_number().over(wO)).filter($"rank" <= 10)
            .select($"query_id", $"doc_id", $"rank"))
        val wF = Window.partitionBy($"query_id").orderBy($"rrf_score".desc, $"doc_id")
        val rrfTop = R.rrfFuseBy(Seq(bmTop, ovTop), Seq("query_id", "doc_id"))
          .withColumn("rank", row_number().over(wF)).filter($"rank" <= 10)
          .select($"query_id", $"doc_id", $"rank")
        // dense: the query doc's embedding (ids aligned doc_id ==
        // vec_id) probes the SQ8 IVF index; the +1e9 id offset defeats
        // the probe's self-exclusion so the known item is findable
        val emb = t(s, d, "embeddings")
        val denseQ = emb.join(queries.select($"query_id"),
            $"vec_id" === $"query_id")
          .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
        val denseTop = graft.sim.Similarity.ivfSq8TopK(denseQ, emb,
            emb.filter($"vec_id" < 8), "vec_id", "embedding", 10, nprobe = 2)
          .select(($"q_id" - 1000000000L).as("query_id"),
            $"id".as("doc_id"), $"rn".as("rank"))
        val ranked = bmTop.withColumn("system", lit("bm25"))
          .unionByName(ovTop.withColumn("system", lit("overlap")))
          .unionByName(rrfTop.withColumn("system", lit("rrf")))
          .unionByName(denseTop.withColumn("system", lit("dense")))
        val nq = queries.agg(count(lit(1)).as("n_queries"))
        R.knownItemMetrics(ranked, nq).orderBy($"system")
      },
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |qs AS (SELECT doc_id AS query_id,
        |  (string_split_regex(trim(text), '\\s+'))[2:4] AS terms
        |  FROM base WHERE doc_id % 40 = 0
        |  AND len(string_split_regex(trim(text), '\\s+')) >= 4),
        |qt AS (SELECT query_id, lower(t) AS term, CAST(COUNT(*) AS DOUBLE) AS qtf
        |  FROM (SELECT query_id, unnest(terms) AS t FROM qs) GROUP BY 1, 2),
        |tok AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term,
        |  CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS len_d
        |  FROM base),
        |post AS MATERIALIZED (SELECT doc_id, term, len_d,
        |  CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post GROUP BY 1),
        |c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |  SUM(CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE)) AS sum_len
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
        |bm AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 10),
        |qtd AS (SELECT DISTINCT query_id, term FROM qt),
        |dt AS (SELECT DISTINCT doc_id, term FROM post),
        |ov0 AS (SELECT q.query_id, d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM dt d JOIN qtd q ON q.term = d.term GROUP BY 1, 2),
        |ov AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY n_overlap DESC, doc_id) AS rank
        |  FROM ov0) WHERE rank <= 10),
        |-- fused score: fixed system order (bm25 term, then overlap term),
        |-- each term one IEEE division — mirrors rrfFuseBy's ordered fold
        |fused0 AS (SELECT COALESCE(b.query_id, o.query_id) AS query_id,
        |  COALESCE(b.doc_id, o.doc_id) AS doc_id,
        |  COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(b.rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
        |  + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(o.rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf_score
        |  FROM bm b FULL OUTER JOIN ov o
        |    ON b.query_id = o.query_id AND b.doc_id = o.doc_id),
        |fused AS MATERIALIZED (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
        |  FROM fused0) WHERE rank <= 10),
        |-- dense: the q_ivf_sq8_topk cell/quantization CTEs, query set =
        |-- the known-item queries' own embeddings, NO self-exclusion
        |dz AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 8),
        |dcs AS MATERIALIZED (SELECT e.vec_id, z.cell,
        |  ${cosineSql("e.embedding", "z.cv")} AS c_sim
        |  FROM embeddings e, dz z),
        |dcells AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS arn
        |  FROM dcs) WHERE arn = 1),
        |dqc AS (SELECT vec_id AS q_id, cell FROM (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, cell) AS arn
        |  FROM dcs WHERE vec_id IN (SELECT query_id FROM qs)) WHERE arn <= 2),
        |denc AS MATERIALIZED (
        |  SELECT vec_id, CASE WHEN m = 0
        |      THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
        |      ELSE list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5)) END AS codes
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
        |        FROM embeddings
        |        WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0)),
        |dsims AS (SELECT dqc.q_id, c.vec_id, ${cosineSql("qe.codes", "ce.codes")} AS sim
        |  FROM dqc JOIN dcells c ON c.cell = dqc.cell
        |  JOIN denc ce ON ce.vec_id = c.vec_id
        |  JOIN denc qe ON qe.vec_id = dqc.q_id),
        |dense AS MATERIALIZED (SELECT q_id AS query_id, vec_id AS doc_id, rank FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM dsims) WHERE rank <= 10),
        |ranked AS (SELECT 'bm25' AS system, query_id, doc_id, rank FROM bm
        |  UNION ALL SELECT 'overlap', query_id, doc_id, rank FROM ov
        |  UNION ALL SELECT 'rrf', query_id, doc_id, rank FROM fused
        |  UNION ALL SELECT 'dense', query_id, doc_id, rank FROM dense),
        |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs),
        |hits AS (SELECT system, CAST(COUNT(*) AS BIGINT) AS n_hits,
        |  CAST(SUM(CAST(floor(CAST(1000000.0 AS DOUBLE) / CAST(rank AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_rr_micro,
        |  CAST(SUM(CAST(floor(CAST(0.693147181 AS DOUBLE) / round(ln(CAST(rank AS DOUBLE) + CAST(1.0 AS DOUBLE)), 9) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_ndcg_micro
        |  FROM ranked WHERE doc_id = query_id GROUP BY 1)
        |SELECT s.system, nq.n_queries,
        |  COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  COALESCE(h.sum_rr_micro, CAST(0 AS BIGINT)) AS sum_rr_micro,
        |  COALESCE(h.sum_ndcg_micro, CAST(0 AS BIGINT)) AS sum_ndcg_micro
        |FROM (SELECT DISTINCT system FROM ranked) s CROSS JOIN nq
        |LEFT JOIN hits h USING (system)
        |ORDER BY system""".stripMargin),

    // Sliding-window chunking with overlap — the long-document
    // counterpart of q_seq_pack: each doc is cut into 64-token
    // context windows on a 48-token stride (16-token overlap), the
    // retrieval/embedding prep shape, through the public parameterized
    // API ([[graft.retrieval.Retrieval.chunkWindows]]). Map-side
    // explode of a generated start sequence: no shuffle at all until
    // the final ORDER BY; at 100 TB this is a pure map stage.
    q("q_chunk_windows")(
      (s, d) => {
        import s.implicits._
        graft.retrieval.Retrieval.chunkWindows(
            t(s, d, "documents"), window = 64, stride = 48)
          .orderBy($"doc_id", $"start")
      },
      """SELECT doc_id, n_tokens, CAST(start // 48 AS BIGINT) AS chunk_id, start,
        |LEAST(64, n_tokens - start) AS chunk_len
        |FROM (SELECT doc_id, n_tokens,
        |  unnest(generate_series(0, n_tokens - 1, 48)) AS start
        |  FROM (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |    FROM documents WHERE trim(text) <> '') WHERE n_tokens > 0)
        |ORDER BY doc_id, start""".stripMargin),

    // Chunking with the content materialized — the embedding-prep form
    // ([[graft.retrieval.Retrieval.chunkWindowsWithText]]): each chunk
    // carries its exact token span rejoined on single spaces, so
    // downstream encoders consume text directly instead of re-splitting
    // to resolve offsets. Still a pure map stage (the token array rides
    // the explode and is sliced per chunk). String equality is exact, so
    // the oracle hash-compares the chunk text verbatim.
    q("q_chunk_text")(
      (s, d) => {
        import s.implicits._
        graft.retrieval.Retrieval.chunkWindowsWithText(
            t(s, d, "documents"), window = 64, stride = 48)
          .select($"doc_id", $"start", $"chunk_text")
          .orderBy($"doc_id", $"start")
      },
      """SELECT doc_id, start,
        |  array_to_string(list_slice(tk, CAST(start + 1 AS BIGINT),
        |    CAST(start + LEAST(64, n_tokens - start) AS BIGINT)), ' ') AS chunk_text
        |FROM (SELECT doc_id, n_tokens, tk,
        |  unnest(generate_series(0, n_tokens - 1, 48)) AS start
        |  FROM (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
        |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |      FROM documents WHERE trim(text) <> '')) WHERE n_tokens > 0)
        |ORDER BY doc_id, start""".stripMargin)
  ,

    // Chunk-grain duplication audit — the signal between doc dedup and
    // span masking: per doc, how many of its 64/48 retrieval chunks
    // exist verbatim elsewhere in the corpus (planted +900000 verbatim
    // twins make every twin-pair chunk duplicated). One hash-keyed
    // frequency agg + join-back — chunk-count rows, never pairs.
    q("q_chunk_dup_rate")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base.unionByName(base.filter($"doc_id" % 31 === 0)
          .select(($"doc_id" + 900000L).as("doc_id"), $"text"))
        graft.dedup.Dedup.chunkDupStats(corpus).orderBy($"doc_id")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 900000, text FROM base WHERE doc_id % 31 = 0),
        |ch AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(
        |    array_to_string(list_slice(tk, CAST(start + 1 AS BIGINT),
        |      CAST(start + LEAST(64, n_tokens - start) AS BIGINT)), ' ')
        |  ), 1, 12)) AS BIGINT) AS hv
        |  FROM (SELECT doc_id, n_tokens, tk,
        |    unnest(generate_series(0, n_tokens - 1, 48)) AS start
        |    FROM (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
        |      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |        FROM corpus WHERE trim(text) <> '')) WHERE n_tokens > 0)),
        |freq AS (SELECT hv, COUNT(*) AS n_occ FROM ch GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |FROM ch JOIN freq USING (hv) GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // zlib-ratio repetitiveness signal — no portable cross-engine
    // definition (deflate output is implementation-defined), so the
    // result gets a rows-only check; values are pinned in
    // `DedupSimSpec` instead.
    Query("q_compress_ratio", (s, d) => {
      import s.implicits._
      t(s, d, "documents")
        .select($"doc_id",
          round(TextFns.deflateRatio($"text"), 4).as("deflate_ratio"),
          TextFns.tokenCount($"text").as("n_tokens"))
        .orderBy($"doc_id")
    }, None)
  )
}
