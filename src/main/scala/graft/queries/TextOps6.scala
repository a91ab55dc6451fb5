package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.curation.Sampling
import graft.dedup.Dedup
import graft.functions.{TextFns, VectorFns}
import graft.operators.Ranking
import graft.retrieval.Retrieval

/** Sixth batch: the entity-resolution dedup alternatives (sorted
  * neighborhood, edit-distance blocking), per-doc n-gram novelty,
  * weighted reservoir sampling, curriculum ordering, and hybrid
  * retrieval fusion (BM25 ⊕ dense, RRF).
  *
  * Float contract as repo-wide: ln rounds to 9 decimals before any
  * arithmetic, cosines round to 6, every other float is a short fixed
  * chain of single IEEE ops mirrored verbatim in the oracle; counts
  * and distances stay integer end-to-end.
  */
object TextOps6 {

  /** Oracle fragment: 48-bit md5-derived hash of a string expr. */
  private def h48(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 12)) AS BIGINT)"

  /** Unrolled BPE oracle: per step, count adjacent pairs (weighted by
    * word frequency, overlaps included), take the (count desc, c1,
    * c2) argmax, then rebuild each word's symbol list under the
    * greedy left-to-right merge. Greedy = within each maximal run of
    * consecutive match positions, the 1st/3rd/5th… merge and each
    * consumes its successor — the closed form of the engine's fold.
    * Every per-step CTE is MATERIALIZED: DuckDB inlines CTEs by
    * default and each step references its predecessor ~3×, so the
    * un-materialized plan blows up 3^steps.
    */
  private def bpeOracleSql(steps: Int): String =
    s"""WITH ${bpeFitCtes(steps)}
       |${(1 to steps).map(s =>
          s"SELECT CAST($s AS BIGINT) AS step, c1, c2, pair_count FROM best$s")
          .mkString("\nUNION ALL ")}
       |ORDER BY step""".stripMargin

  /** The WITH-body of the BPE fit: words → seq0 → (p/best/pos/cand/
    * mrg/seq)×steps. `seq$steps` is the fully-merged distinct-word
    * frame (w, freq, syms) — the encode queries read it directly, so
    * the oracle's tokenizer is the very table its fit produced.
    */
  private def bpeFitCtes(steps: Int): String = {
    val stepCtes = (1 to steps).map { s =>
      s"""p$s AS MATERIALIZED (SELECT c1, c2, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
         |  SELECT freq,
         |    unnest(list_transform(generate_series(1, len(syms) - 1), i -> syms[i])) AS c1,
         |    unnest(list_transform(generate_series(1, len(syms) - 1), i -> syms[i+1])) AS c2
         |  FROM seq${s - 1} WHERE len(syms) >= 2) GROUP BY 1, 2),
         |best$s AS MATERIALIZED (SELECT c1, c2, pair_count FROM p$s
         |  ORDER BY pair_count DESC, c1, c2 LIMIT 1),
         |pos$s AS MATERIALIZED (SELECT q.w, q.freq, len(q.syms) AS n,
         |    unnest(generate_series(1, len(q.syms))) AS i,
         |    unnest(q.syms) AS sym,
         |    unnest(list_transform(generate_series(1, len(q.syms)),
         |      j -> CASE WHEN j < len(q.syms) THEN q.syms[j+1] END)) AS next_sym
         |  FROM seq${s - 1} q),
         |-- scalar subqueries, NOT a cross join: DuckDB 1.0's binder
         |-- hits an internal error inlining an unnest CTE that also
         |-- joins, under the window pushdown below
         |cand$s AS MATERIALIZED (SELECT w, freq, i, sym, next_sym,
         |  CASE WHEN i < n AND sym = (SELECT c1 FROM best$s)
         |    AND next_sym = (SELECT c2 FROM best$s)
         |  THEN 1 ELSE 0 END AS cand FROM pos$s),
         |mrg$s AS MATERIALIZED (SELECT w, i FROM (
         |  SELECT w, i, row_number() OVER (PARTITION BY w, grp ORDER BY i) AS k FROM (
         |    SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
         |    FROM cand$s WHERE cand = 1)) WHERE k % 2 = 1),
         |seq$s AS MATERIALIZED (SELECT p.w, any_value(p.freq) AS freq,
         |    list(CASE WHEN mr.i IS NOT NULL THEN p.sym || p.next_sym
         |         ELSE p.sym END ORDER BY p.i) AS syms
         |  FROM cand$s p
         |  LEFT JOIN mrg$s mr ON mr.w = p.w AND mr.i = p.i
         |  LEFT JOIN mrg$s cons ON cons.w = p.w AND cons.i = p.i - 1
         |  WHERE cons.i IS NULL GROUP BY p.w)""".stripMargin
    }.mkString(",\n")
    s"""words AS (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents WHERE trim(text) <> '') GROUP BY 1),
       |seq0 AS MATERIALIZED (SELECT w, freq,
       |  list_filter(string_split_regex(w, ''), c -> c <> '') AS syms FROM words),
       |$stepCtes""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // Sorted-neighborhood near-dup detection (the windowed-scan
    // alternative to LSH banding: O(n·w) candidates, a HARD per-doc
    // candidate bound — no hot-bucket hazard). Fixture plants tail-
    // drifted twins (same 4-token prefix ⇒ adjacent in the key
    // order); confirm = exact 3-gram Jaccard ≥ 1/2 as an integer
    // cross-compare. The global order comes from the partition-offset
    // rank machinery, not a single-task window.
    q("q_sorted_neighborhood")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base.unionByName(base.filter($"doc_id" % 41 === 0)
          .select(($"doc_id" + 200000L).as("doc_id"),
            concat($"text", lit(" tail drift marker")).as("text")))
        Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
            window = 4, keyTokens = 4, shingleN = 3)
          .filter(col("n_union") > 0 && col("n_common") * 2 >= col("n_union"))
          .orderBy(col("id_a"), col("id_b"))
      },
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 200000, text || ' tail drift marker'
        |  FROM base WHERE doc_id % 41 = 0),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM corpus),
        |keyed AS (SELECT doc_id,
        |  array_to_string(tks[1:4], ' ') AS snkey,
        |  list_distinct(list_transform(generate_series(1, len(tks) - 2),
        |    i -> ${h48("tks[i]||' '||tks[i+1]||' '||tks[i+2]")})) AS sh
        |  FROM tk),
        |rn AS (SELECT *, row_number() OVER (ORDER BY snkey, doc_id) AS rnk FROM keyed),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS n_common,
        |  CAST(len(a.sh) + len(b.sh)
        |    - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS n_union
        |  FROM rn a JOIN rn b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 4)
        |SELECT id_a, id_b, n_common, n_union FROM cand
        |WHERE n_union > 0 AND n_common * 2 >= n_union
        |ORDER BY id_a, id_b""".stripMargin),

    // Edit-distance near-dup under prefix blocking — the short-string
    // half of the near-dup toolkit (Levenshtein is the ER metric of
    // record where token Jaccard is too coarse). Fixture plants
    // 3-edit twins; blocking = exact first-4-token key with the
    // hot-block cap modeled on both sides; confirm = full Levenshtein
    // ≤ 10, integer-exact on any engine.
    q("q_edit_neardup")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base.unionByName(base.filter($"doc_id" % 37 === 0)
          .select(($"doc_id" + 300000L).as("doc_id"),
            concat($"text", lit(" zq")).as("text")))
        Dedup.blockedEditPairs(corpus, "doc_id", "text",
            keyTokens = 4, maxDist = 10, maxBlock = 64)
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 300000, text || ' zq'
        |  FROM base WHERE doc_id % 37 = 0),
        |keyed AS (SELECT doc_id, text,
        |  array_to_string((string_split_regex(trim(text), '\s+'))[1:4], ' ') AS bkey
        |  FROM corpus),
        |ok AS (SELECT bkey FROM keyed GROUP BY bkey HAVING COUNT(*) <= 64),
        |blocked AS (SELECT k.* FROM keyed k JOIN ok USING (bkey))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM blocked a JOIN blocked b
        |  ON a.bkey = b.bkey AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 10
        |ORDER BY id_a, id_b""".stripMargin),

    // Per-doc 8-gram novelty vs the corpus (first-occurrence
    // attribution by min doc id) — the "how much of this doc is new
    // text" signal; the span-mask fixture's planted contamination
    // makes the non-novel tail real. Integer counts end-to-end; one
    // gram-hash aggregation + one join-back, work ∝ total grams.
    q("q_ngram_novelty")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val span = base.filter($"doc_id" === 100)
          .select(concat_ws(" ", slice(TextFns.tokens($"text"), 1, 12)).as("span"))
        val corpus = base.crossJoin(broadcast(span))
          .select($"doc_id",
            when($"doc_id" % 9 === 0, concat($"text", lit(" "), $"span"))
              .otherwise($"text").as("text"))
        Dedup.ngramNovelty(corpus, n = 8)
          .orderBy(col("doc_id"))
      },
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |sp AS (SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:12], ' ') AS span
        |  FROM base WHERE doc_id = 100),
        |corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' ' || span ELSE text END AS text
        |  FROM base, sp),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM corpus),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tks) - 7),
        |  i -> ${h48("tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||" +
                     "tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7]")}))) AS hv
        |  FROM tk WHERE len(tks) >= 8),
        |fo AS (SELECT hv, MIN(doc_id) AS first_doc FROM g GROUP BY hv)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN fo.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |FROM g JOIN fo USING (hv)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // Deterministic weighted sampling without replacement, 20 docs
    // per source, selection ∝ n_chars — Efraimidis–Spirakis A-ES with
    // hash-derived randomness (u from md5 of the id): reproducible on
    // any engine, one partitioned window, no global sort.
    q("q_weighted_sample")(
      (s, d) => {
        import s.implicits._
        Sampling.weightedSamplePerGroup(
            t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
            groupCol = "source", weightCol = "n_chars", idCol = "doc_id", k = 20)
          .select($"doc_id", $"source", $"n_chars", $"samp_rank")
          .orderBy($"source", $"samp_rank")
      },
      s"""WITH b AS (SELECT doc_id, source, n_chars,
        |  round(ln((${h48("CAST(doc_id AS VARCHAR)")} + 1) / 281474976710656.0), 9)
        |    / CAST(n_chars AS DOUBLE) AS es_key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS samp_rank
        |  FROM b)
        |SELECT doc_id, source, n_chars, samp_rank FROM r
        |WHERE samp_rank <= 20 ORDER BY source, samp_rank""".stripMargin),

    // Curriculum ordering: 10 exact difficulty tiers (length proxy,
    // easy first), sources round-robin-interleaved within each tier,
    // one exact global feed position — all through the partition-
    // offset rank machinery (no single-task windows anywhere).
    q("q_curriculum")(
      (s, d) => {
        import s.implicits._
        Sampling.curriculumInterleave(
            t(s, d, "documents").select($"doc_id", $"source", $"n_chars"),
            difficultyCol = "n_chars", groupCol = "source", idCol = "doc_id",
            tiles = 10)
          .select($"doc_id", $"source", $"n_chars", $"tier", $"rr_rank",
            $"curriculum_pos")
          .orderBy($"curriculum_pos")
      },
      """WITH t AS (SELECT doc_id, source, n_chars,
        |  ntile(10) OVER (ORDER BY n_chars, doc_id) AS tier FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY tier, source
        |  ORDER BY n_chars, doc_id) AS rr_rank FROM t)
        |SELECT doc_id, source, n_chars, tier, rr_rank,
        |  row_number() OVER (ORDER BY tier, rr_rank, source, doc_id) AS curriculum_pos
        |FROM r ORDER BY curriculum_pos""".stripMargin),

    // Hybrid retrieval: BM25 (rational-idf, engine-exact doubles) and
    // dense cosine (vs the vec_id-0 embedding, rounded to 6) each
    // rank the corpus; the top-100 lists fuse by reciprocal-rank
    // fusion with k=60. Ranks are exact global row numbers (partition-
    // offset machinery); each fused score is ≤2 single IEEE divisions
    // summed in fixed system order — bit-identical cross-engine.
    q("q_rrf_fusion")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val sparse = Ranking.globalRowNumber(
            Retrieval.bm25Score(docs, Seq("hash", "spark", "window"), k1 = 1.2, b = 0.75),
            Seq($"score".desc, $"doc_id"), out = "rank")
          .select($"doc_id", $"rank").filter($"rank" <= 100)
        val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        val dense = Ranking.globalRowNumber(
            emb.crossJoin(broadcast(qv))
              .select($"vec_id", VectorFns.cosineR($"embedding", $"qv").as("dsim")),
            Seq($"dsim".desc, $"vec_id"), out = "rank")
          .select($"vec_id".as("doc_id"), $"rank").filter($"rank" <= 100)
        Retrieval.rrfFuse(Seq(sparse, dense), rrfK = 60)
          .orderBy($"rrf_score".desc, $"doc_id")
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
        |  FROM base),
        |sc AS (SELECT doc_id,
        |  (n_docs - df0 + 0.5) / (df0 + 0.5) * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |+ (n_docs - df1 + 0.5) / (df1 + 0.5) * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |+ (n_docs - df2 + 0.5) / (df2 + 0.5) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * (len_d / (sum_len / n_docs))))
        |  AS score FROM base, c),
        |sparse AS (SELECT doc_id, rank FROM (SELECT doc_id,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
        |  WHERE rank <= 100),
        |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
        |ds AS (SELECT e.vec_id AS doc_id,
        |  round(list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(qv.v[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qv.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS dsim
        |  FROM embeddings e, qv),
        |dense AS (SELECT doc_id, rank FROM (SELECT doc_id,
        |  row_number() OVER (ORDER BY dsim DESC, doc_id) AS rank FROM ds)
        |  WHERE rank <= 100)
        |SELECT COALESCE(s.doc_id, dn.doc_id) AS doc_id,
        |  CAST((CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END)
        |     + (CASE WHEN dn.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_lists,
        |  CAST(LEAST(COALESCE(s.rank, 101), COALESCE(dn.rank, 101)) AS BIGINT) AS best_rank,
        |  (CASE WHEN s.rank IS NULL THEN 0.0 ELSE 1.0 / (60.0 + s.rank) END)
        |+ (CASE WHEN dn.rank IS NULL THEN 0.0 ELSE 1.0 / (60.0 + dn.rank) END)
        |  AS rrf_score
        |FROM sparse s FULL OUTER JOIN dense dn ON dn.doc_id = s.doc_id
        |ORDER BY rrf_score DESC, doc_id""".stripMargin),

    // Per-source distinctive vocabulary by weighted log-odds with a
    // Dirichlet prior ("Fightin' Words") — the between-group contrast
    // report TF-IDF can't express. Counts are integers, each ln
    // rounds to 9 decimals (repo log contract), δ is an exact DECIMAL
    // subtraction — engine-exact ranking.
    q("q_logodds_terms")(
      (s, d) => graft.classify.TextClassify.logOddsTerms(
          t(s, d, "documents"), groupCol = "source", topK = 3)
        .orderBy(col("source"), col("rank")),
      """WITH occ AS (SELECT source,
        |  unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE trim(text) <> ''),
        |ytg AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS y_tg
        |  FROM occ GROUP BY 1, 2),
        |yt AS (SELECT tok, CAST(SUM(y_tg) AS BIGINT) AS y_t FROM ytg GROUP BY 1),
        |ng AS (SELECT source, CAST(SUM(y_tg) AS BIGINT) AS n_g FROM ytg GROUP BY 1),
        |nv AS (SELECT CAST(SUM(y_t) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) AS BIGINT) AS v FROM yt),
        |sc AS (SELECT ytg.source, ytg.tok, ytg.y_tg, yt.y_t,
        |  CAST((ytg.y_tg + 1)
        |    * (nv.n_all - ng.n_g + nv.v - (yt.y_t - ytg.y_tg) - 1) AS BIGINT) AS odds_num,
        |  CAST((ng.n_g + nv.v - ytg.y_tg - 1)
        |    * (yt.y_t - ytg.y_tg + 1) AS BIGINT) AS odds_den
        |  FROM ytg JOIN yt USING (tok) JOIN ng USING (source) CROSS JOIN nv),
        |r AS (SELECT *, CAST(odds_num AS DOUBLE) / CAST(odds_den AS DOUBLE) AS odds_ratio,
        |  row_number() OVER (PARTITION BY source
        |  ORDER BY CAST(odds_num AS DOUBLE) / CAST(odds_den AS DOUBLE) DESC, tok) AS rank
        |  FROM sc)
        |SELECT source, rank, tok, y_tg AS n_in_group, y_t AS n_corpus,
        |  odds_num, odds_den, odds_ratio
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin),

    // Admission-time novelty: batch docs (id ≥ 400) scored against
    // the standing corpus's (id < 400) materialized gram index — the
    // incremental twin of q_ngram_novelty; per increment the corpus
    // is read zero times at scale (the index is the persisted frame).
    // Same planted-span fixture so real cross-corpus overlap exists.
    q("q_incremental_novelty")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val span = base.filter($"doc_id" === 100)
          .select(concat_ws(" ", slice(TextFns.tokens($"text"), 1, 12)).as("span"))
        val planted = base.crossJoin(broadcast(span))
          .select($"doc_id",
            when($"doc_id" % 9 === 0, concat($"text", lit(" "), $"span"))
              .otherwise($"text").as("text"))
        Dedup.incrementalNovelty(
            Dedup.gramIndex(planted.filter($"doc_id" < 400), n = 8),
            planted.filter($"doc_id" >= 400), n = 8)
          .orderBy(col("doc_id"))
      },
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |sp AS (SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:12], ' ') AS span
        |  FROM base WHERE doc_id = 100),
        |corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN text || ' ' || span ELSE text END AS text
        |  FROM base, sp),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM corpus),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  generate_series(1, len(tks) - 7),
        |  i -> ${h48("tks[i]||' '||tks[i+1]||' '||tks[i+2]||' '||tks[i+3]||' '||" +
                     "tks[i+4]||' '||tks[i+5]||' '||tks[i+6]||' '||tks[i+7]")}))) AS hv
        |  FROM tk WHERE len(tks) >= 8),
        |cg AS (SELECT DISTINCT hv FROM g WHERE doc_id < 400),
        |bg AS (SELECT doc_id, hv FROM g WHERE doc_id >= 400)
        |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN cg.hv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |FROM bg LEFT JOIN cg USING (hv)
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin),

    // Multi-pass SNM — the documented recall fix for single-key
    // sorted neighborhood: a second pass ordered by the SUFFIX key
    // catches head-edited near-dups the prefix order separates.
    // Fixture plants both kinds (tail-drift twins for pass 1,
    // head-prefixed twins only pass 2 can see); pair sets union with
    // LEAST/GREATEST normalization (a pair's a/b order differs
    // between passes).
    q("q_snm_multipass")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base
          .unionByName(base.filter($"doc_id" % 41 === 0)
            .select(($"doc_id" + 200000L).as("doc_id"),
              concat($"text", lit(" tail drift marker")).as("text")))
          .unionByName(base.filter($"doc_id" % 43 === 0)
            .select(($"doc_id" + 400000L).as("doc_id"),
              concat(lit("zq head marker "), $"text").as("text")))
        val tk = TextFns.tokens($"text")
        val suffixKey = concat_ws(" ",
          slice(tk, greatest(size(tk) - 3, lit(1)), lit(4)))
        def norm(p: org.apache.spark.sql.DataFrame) = p.select(
          least($"id_a", $"id_b").as("id_a"),
          greatest($"id_a", $"id_b").as("id_b"),
          $"n_common", $"n_union")
        val p1 = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
          window = 4, keyTokens = 4, shingleN = 3)
        val p2 = Dedup.sortedNeighborhoodPairs(corpus, "doc_id", "text",
          window = 4, keyTokens = 4, shingleN = 3, keyExpr = Some(suffixKey))
        norm(p1).unionByName(norm(p2)).distinct()
          .filter($"n_union" > 0 && $"n_common" * 2 >= $"n_union")
          .orderBy($"id_a", $"id_b")
      },
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 200000, text || ' tail drift marker'
        |  FROM base WHERE doc_id % 41 = 0
        |  UNION ALL SELECT doc_id + 400000, 'zq head marker ' || text
        |  FROM base WHERE doc_id % 43 = 0),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tks FROM corpus),
        |keyed AS (SELECT doc_id,
        |  array_to_string(tks[1:4], ' ') AS k1,
        |  array_to_string(tks[greatest(len(tks) - 3, 1):len(tks)], ' ') AS k2,
        |  list_distinct(list_transform(generate_series(1, len(tks) - 2),
        |    i -> ${h48("tks[i]||' '||tks[i+1]||' '||tks[i+2]")})) AS sh
        |  FROM tk),
        |r1 AS (SELECT *, row_number() OVER (ORDER BY k1, doc_id) AS rnk FROM keyed),
        |r2 AS (SELECT *, row_number() OVER (ORDER BY k2, doc_id) AS rnk FROM keyed),
        |c1 AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.sh AS sa, b.sh AS sb
        |  FROM r1 a JOIN r1 b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 4),
        |c2 AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.sh AS sa, b.sh AS sb
        |  FROM r2 a JOIN r2 b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 4),
        |pairs AS (SELECT DISTINCT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b,
        |  CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS BIGINT) AS n_common,
        |  CAST(len(sa) + len(sb)
        |    - len(list_filter(sa, x -> list_contains(sb, x))) AS BIGINT) AS n_union
        |  FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2))
        |SELECT id_a, id_b, n_common, n_union FROM pairs
        |WHERE n_union > 0 AND n_common * 2 >= n_union
        |ORDER BY id_a, id_b""".stripMargin),

    // Distributed BPE merge training, 5 steps — tokenizer induction
    // over the corpus vocabulary. The corpus collapses to the
    // distinct-word frame once; each step is a vocabulary-sized pair
    // aggregation + 1-row broadcast argmax + a codegen'd greedy fold.
    // The oracle unrolls the same 5 steps with the chain-parity
    // closed form of the greedy left-to-right merge.
    q("q_bpe_merges")(
      (s, d) => graft.classify.BpeTrainer.fitMerges(
          t(s, d, "documents"), steps = 5)
        .orderBy(col("step")),
      bpeOracleSql(5)),

    // BPE ENCODE, half one: the token vocabulary under the tokenizer
    // the corpus itself trained — fit 5 merges, collect the tiny merge
    // table (control-grain, like a vocab), then apply it as 5 map-side
    // greedy folds over the distinct-word frame and aggregate the
    // token table (occurrences weighted by word frequency + word-type
    // counts). The oracle re-fits with the same unrolled CTE chain and
    // reads the final seq5 frame — the tokenizer IS its fit output on
    // both sides, so fit and encode stay one contract.
    q("q_bpe_encode")(
      (s, d) => {
        import s.implicits._
        import graft.classify.BpeTrainer
        // ONE corpus pass: the word-frequency frame is pinned and
        // shared by the fit's 5 training steps and the encode's 5
        // map-side refolds (the q_bpe_token_budget shape)
        val words = graft.util.CacheScope.pin(
          t(s, d, "documents").filter(trim($"text") =!= "")
            .select(explode(TextFns.tokens($"text")).as("w"))
            .groupBy($"w").agg(count(lit(1)).as("freq")))
        val merges = BpeTrainer.fitMergesOnFreqs(words, steps = 5)
          .orderBy($"step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        BpeTrainer.encodeFreqs(words, merges)
          .select(explode($"syms").as("token"), $"w", $"freq")
          .groupBy($"token")
          .agg(sum($"freq").as("n_occ"), countDistinct($"w").as("n_types"))
          .orderBy($"n_occ".desc, $"token")
      },
      s"""WITH ${bpeFitCtes(5)},
         |tok AS (SELECT w, freq, unnest(syms) AS token FROM seq5)
         |SELECT token, CAST(SUM(freq) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
         |FROM tok GROUP BY token
         |ORDER BY n_occ DESC, token""".stripMargin),

    // BPE ENCODE, half two: the per-source token budget — how many
    // training tokens each source contributes under the learned
    // tokenizer, next to its word and character mass (chars/token is
    // the tokenizer-quality ratio readers divide out). ONE corpus
    // pass: the per-source word frame is pinned, the corpus-grain
    // frequencies re-aggregate from it, and the encoded word lengths
    // join back at the vocabulary grain (the word-length map is
    // vocab-sized — corpus bytes never shuffle). Int64-safe to ~10¹⁸
    // corpus tokens.
    q("q_bpe_token_budget")(
      (s, d) => {
        import s.implicits._
        import graft.classify.BpeTrainer
        val docs = t(s, d, "documents")
        val sw = graft.util.CacheScope.pin(
          docs.filter(trim($"text") =!= "")
            .select($"source",
              explode(graft.functions.TextFns.tokens($"text")).as("w"))
            .groupBy($"source", $"w").agg(count(lit(1)).as("freq")))
        val words = sw.groupBy($"w").agg(sum($"freq").as("freq"))
        val merges = BpeTrainer.fitMergesOnFreqs(words, steps = 5)
          .orderBy($"step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        val lens = BpeTrainer.encodeFreqs(words, merges)
          .select($"w", size($"syms").cast("long").as("n_syms"))
        sw.join(lens, "w")
          .groupBy($"source")
          .agg(sum($"freq").as("n_words"),
            sum($"freq" * length($"w")).as("n_chars"),
            sum($"freq" * $"n_syms").as("n_tokens"))
          .orderBy($"source")
      },
      s"""WITH ${bpeFitCtes(5)},
         |lens AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_syms FROM seq5),
         |sw AS (SELECT source, tok AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM documents WHERE trim(text) <> '') GROUP BY 1, 2)
         |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_words,
         |  CAST(SUM(freq * length(w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(freq * n_syms) AS BIGINT) AS n_tokens
         |FROM sw JOIN lens USING (w)
         |GROUP BY source ORDER BY source""".stripMargin),

    // Exact integer water-filling: cap the big sources at a common
    // level so the corpus hits an 80% budget — the proportional-
    // fairness data-mix allocation (small sources keep everything).
    // Same skew fixture as q_temp_mix so both capped and uncapped
    // sources exist. Integer arithmetic end-to-end.
    q("q_water_fill")(
      (s, d) => {
        import s.implicits._
        val srcNum = substring($"source", 4, 10).cast("int")
        val docs = t(s, d, "documents")
          .filter(srcNum < 5 || $"doc_id" % 3 === 0)
        val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        Sampling.waterFill(counts, "source", "n_docs", num = 4, den = 5)
          .orderBy($"source")
      },
      """WITH corpus AS (SELECT doc_id, source FROM documents
        |  WHERE CAST(substr(source, 4) AS INTEGER) < 5 OR doc_id % 3 = 0),
        |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM corpus GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS s,
        |  CAST(SUM(n) * 4 // 5 AS BIGINT) AS b FROM c),
        |r AS (SELECT source, n,
        |  CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS k,
        |  CAST(SUM(n) OVER (ORDER BY n, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |pv AS (SELECT MIN(k) AS kstar, MIN(cum - n) AS prefix, MIN(cnt) AS cnt FROM (
        |  SELECT r.k, r.cum, r.n, tot.s - r.k + 1 AS cnt FROM r, tot
        |  WHERE r.cum + (tot.s - r.k) * r.n >= tot.b ORDER BY r.k LIMIT 1)),
        |j AS (SELECT r.source, r.n, r.k, pv.kstar, pv.cnt,
        |  tot.b - pv.prefix AS d FROM r, tot, pv),
        |unc AS (SELECT source, n, (d - (d % cnt)) // cnt + CASE WHEN
        |    row_number() OVER (ORDER BY source) <= d % cnt THEN 1 ELSE 0 END AS alloc
        |  FROM j WHERE k >= kstar),
        |cap AS (SELECT source, n, n AS alloc FROM j WHERE kstar IS NULL OR k < kstar)
        |SELECT source, n AS n_avail, CAST(alloc AS BIGINT) AS alloc FROM
        |  (SELECT * FROM cap UNION ALL SELECT * FROM unc)
        |ORDER BY source""".stripMargin),

    // Normalization-keyed exact dedup ("fuzzy-exact"): casefold +
    // punctuation/whitespace canonicalization before hashing, so
    // case/spacing variants of one text dedupe together — the cheap
    // first rung web-corpus pipelines run before any near-dup work.
    // Fixture plants UPPERCASED, double-spaced twins that plain exact
    // dedup would miss. Same single min-shuffle shape as
    // q_dedup_exact.
    q("q_dedup_norm")(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "documents").select($"doc_id", $"text")
        val corpus = base.unionByName(base.filter($"doc_id" % 53 === 0)
          .select(($"doc_id" + 500000L).as("doc_id"),
            concat(upper($"text"), lit("  ")).as("text")))
        Dedup.exactGroups(
            corpus.select($"doc_id", TextFns.normKey($"text").as("text")),
            "doc_id", "text")
          .filter($"n_dups" >= 2)
          .orderBy($"text_hash")
      },
      """WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 500000, upper(text) || '  '
        |  FROM base WHERE doc_id % 53 = 0),
        |normed AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS text FROM corpus)
        |SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM normed GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY text_hash""".stripMargin))
}
