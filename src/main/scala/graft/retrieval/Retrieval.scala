package graft.retrieval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval prep over a document corpus: BM25 relevance scoring
  * against a query-term bag and sliding-window chunking — the two
  * operators between curation and embedding/indexing in a
  * training-data pipeline (select the most on-topic docs for a domain
  * mix; cut long docs into overlapping context windows).
  *
  * Both are parameterized public APIs over any frame with an id and a
  * text column; the engine's oracle queries (`q_bm25`,
  * `q_chunk_windows`) run through these same entry points.
  *
  * Scale shape: [[bm25Score]] is one corpus aggregate broadcast under
  * a map-side scoring pass (no per-term shuffle, no join on doc id);
  * [[chunkWindows]] is a pure map-side explode (no shuffle at all).
  * Both hold at 100 TB: cost is O(corpus) with a 1-row broadcast.
  */
object Retrieval {

  /** BM25 score of every document against the bag of `terms`
    * (whitespace tokenization, lowercased exact match), appended as a
    * `score` column on (`idCol`, `score`).
    *
    * Uses the RATIONAL idf variant `(N - df + 0.5) / (df + 0.5)`
    * WITHOUT the log: every operation is then IEEE-exact (+ - * / are
    * correctly rounded), so results are bit-reproducible across
    * engines — a `log` differs in the last ulp between libm
    * implementations. Monotonicity (hence ranking) is identical to
    * standard BM25. Derived constants (k1+1, 1-b) are single IEEE
    * operations, reproducible by any engine computing the same.
    *
    * An empty `terms` list scores every document 0.0. A repeated term
    * contributes once per occurrence in the list (standard bag-of-terms
    * query semantics). Corpus stats (N, avgdl, per-term df) are one
    * 1-row aggregate broadcast under the scoring pass.
    */
  def bm25Score(docs: DataFrame, terms: Seq[String],
                k1: Double = 1.2, b: Double = 0.75,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    if (terms.isEmpty)
      return docs.select(id, lit(0.0).as("score"))
    val tk = split(lower(trim(col(textCol))), "\\s+")
    val base0 = docs.select(id, tk.as("tk"))
      .withColumn("len_d", size(col("tk")).cast("double"))
    val base = terms.zipWithIndex.foldLeft(base0) { case (df, (tm, i)) =>
      df.withColumn(s"tf$i", size(filter(col("tk"), x => x === lit(tm))).cast("double"))
    }.drop("tk")
    val aggs = Seq(count(lit(1)).cast("double").as("n_docs"),
        sum(col("len_d")).as("sum_len")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    val consts = base.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sum_len") / col("n_docs")
    def part(i: Int): Column =
      ((col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))) *
        (col(s"tf$i") * lit(k1 + 1.0)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("len_d") / avgdl)))
    base.crossJoin(broadcast(consts))
      .select(id, terms.indices.map(part).reduce(_ + _).as("score"))
  }

  /** Multi-query BM25 — the relational form that serves a QUERY LOG,
    * where [[bm25Score]]'s driver-side term list serves one query:
    * `queries` is (queryIdCol, termsCol ARRAY<STRING>), and the result
    * is one (query_id, doc_id, score) row per query × candidate doc
    * pair sharing at least one term (docs matching no term of a query
    * are absent, not scored 0 — at corpus scale the zero rows are the
    * whole corpus per query). The corpus arrives as its [[postingsOf]]
    * frame, so a caller scoring several systems tokenizes it once.
    *
    * Same rational-idf variant as [[bm25Score]] (no log — every op
    * IEEE-exact); repeated query terms weight by their multiplicity
    * (qtf), matching the bag-of-terms contract; terms match lowercased
    * doc tokens. Per-pair term contributions are rounded to 9 decimals
    * and summed in DECIMAL, so the score is order-independent under
    * shuffle and bit-identical cross-engine (the established
    * decimal-pinned-terms contract of the NB/bigram scorers).
    *
    * Scale shape: one (doc, term) postings aggregation (map-side
    * partial) computed once; the query term set broadcasts onto it, so
    * the corpus never shuffles on the query grain; df joins are
    * term-keyed; corpus stats are a 1-row broadcast. Work ∝ postings
    * of matched terms, never |queries| × |corpus|.
    */
  def bm25ScoreMulti(postingsIn: DataFrame, queries: DataFrame,
                     k1: Double = 1.2, b: Double = 0.75,
                     idCol: String = "doc_id",
                     queryIdCol: String = "query_id",
                     termsCol: String = "terms"): DataFrame = {
    val postings = graft.util.CacheScope.pin(postingsIn)
    bm25OnQueryTerms(postings,
      queryTermsOf(queries, queryIdCol, termsCol), k1, b, idCol, queryIdCol)
  }

  /** The (idCol, term, len_d, tf) postings frame [[bm25ScoreMulti]]
    * scores over — exposed so a multi-system retrieval stack
    * (BM25 + overlap + fusion, `q_retrieval_metrics`) tokenizes and
    * aggregates the corpus ONCE and derives every ranking from the
    * same pinned frame instead of re-exploding the corpus per system.
    *
    * NULL-text docs produce no postings rows and are therefore
    * excluded from the corpus entirely — they appear in no ranking AND
    * are absent from the n_docs/avgdl stats [[bm25ScoreMulti]]
    * re-derives from this frame (a corpus with NULL texts scores
    * slightly differently than one where those docs were counted as
    * empty; index NULL-free corpora, or coalesce NULLs to '' upstream
    * if the old stats are required).
    */
  def postingsOf(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val tk = split(lower(trim(col(textCol))), "\\s+")
    docs.select(col(idCol), tk.as("tk"))
      .withColumn("len_d", size(col("tk")).cast("double"))
      // ONE doc-grain exchange (one row per doc, the token array still
      // packed) establishes HashPartitioning(idCol) for the whole
      // postings frame. {idCol} is a subset of every downstream
      // grouping key — the tf aggregation here, the (query, doc) score
      // aggregation and the (doc) stats aggregation in
      // [[bm25OnQueryTerms]], the (query, doc) overlap count of the
      // multi-system eval — so ClusteredDistribution is satisfied and
      // NONE of them exchanges again: the scored pair frame never
      // shuffles. (Previously the tf aggregation exchanged at
      // (doc, term, len) grain, every consumer re-exchanged at its own
      // grain, and the pair-grain exchange dominated the eval queries'
      // shuffle volume.)
      .repartition(col(idCol))
      .select(col(idCol), col("len_d"), explode(col("tk")).as("term"))
      .groupBy(col(idCol), col("term"), col("len_d"))
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** The (queryIdCol, term, qtf) multiset of a query frame — lowercased
    * terms with their in-query counts, the grain [[bm25OnQueryTerms]]
    * scores against. */
  def queryTermsOf(queries: DataFrame, queryIdCol: String = "query_id",
                   termsCol: String = "terms"): DataFrame =
    queries
      .select(col(queryIdCol), explode(col(termsCol)).as("t0"))
      .select(col(queryIdCol), lower(col("t0")).as("term"))
      .groupBy(col(queryIdCol), col("term"))
      .agg(count(lit(1)).cast("double").as("qtf"))

  /** BM25 scoring of a pre-exploded (queryIdCol, term, qtf) frame over
    * pinned postings — the shared tail of [[bm25ScoreMulti]] and the
    * feedback pass of [[prfSearch]] (which re-scores an EXPANDED term
    * multiset no array column expresses).
    */
  def bm25OnQueryTerms(postings: DataFrame, qterms: DataFrame,
                       k1: Double = 1.2, b: Double = 0.75,
                       idCol: String = "doc_id",
                       queryIdCol: String = "query_id"): DataFrame = {
    // corpus stats re-derived FROM the postings (one row per doc via
    // the (id, len_d) grain) so callers pay one corpus pass total
    val stats = postings.groupBy(col(idCol)).agg(first(col("len_d")).as("len_d"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("len_d")).as("sum_len"))
    // df computed on the postings side BEFORE the query join — the
    // joined frame repeats a term's postings once per carrying query.
    // Restricted to the query terms FIRST (broadcast semi-join): df
    // values for matched terms are identical, and the full-vocabulary
    // aggregation + vocab-grain join it replaces was a whole extra
    // exchange of the postings frame; the restricted frame is
    // query-term-grain and broadcasts.
    val dfs = postings.join(
        broadcast(qterms.select(col("term")).distinct()), Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    postings.join(broadcast(qterms), "term")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        col("qtf") *
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * (col("len_d") / (col("sum_len") / col("n_docs"))))))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(round(col("contrib"), 9)
        .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
        .cast("double").as("score"))
  }

  /** RM3-style pseudo-relevance feedback search: score the queries
    * with BM25, treat each query's top `fbDocs` documents as relevant,
    * harvest the `fbTerms` heaviest NON-query terms from those
    * documents (by summed term frequency over the feedback set, ties
    * on ascending term), append them to the query at weight 1, and
    * re-score — the classic two-pass expansion that recovers vocabulary
    * mismatch (a query phrased differently than the corpus). Output:
    * the post-feedback top-`k` per query (queryIdCol, rn, idCol,
    * score).
    *
    * Determinism contract: both passes are the decimal-pinned BM25
    * (order-independent 9-decimal DECIMAL sums), the feedback-doc cut
    * and the term cut are row_numbers with id/term tie-breaks, and the
    * term-mass ranking sums integer-valued tf doubles (exact far below
    * 2⁵³) — every intermediate is bit-reproducible cross-engine.
    *
    * Scale shape: ONE postings pass (pinned, shared by both scoring
    * passes and the term harvest); the query side and the
    * |queries|·fbDocs feedback-doc set broadcast; all joins are
    * term- or id-keyed. Work ∝ matched postings, never
    * |queries| × |corpus|.
    */
  def prfSearch(docs: DataFrame, queries: DataFrame,
                fbDocs: Int = 3, fbTerms: Int = 2, k: Int = 10,
                k1: Double = 1.2, b: Double = 0.75,
                textCol: String = "text", idCol: String = "doc_id",
                queryIdCol: String = "query_id",
                termsCol: String = "terms"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1 && k >= 1,
      s"prfSearch: fbDocs/fbTerms/k must be >= 1, got $fbDocs/$fbTerms/$k")
    val postings = graft.util.CacheScope.pin(postingsOf(docs, textCol, idCol))
    val qterms0 = graft.util.CacheScope.pin(
      queryTermsOf(queries, queryIdCol, termsCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("score").desc, col(idCol))
    val fb = bm25OnQueryTerms(postings, qterms0, k1, b, idCol, queryIdCol)
      .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= fbDocs)
      .select(col(queryIdCol), col(idCol))
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("mass").desc, col("term"))
    val fbt = broadcast(fb).join(postings, idCol)
      .groupBy(col(queryIdCol), col("term"))
      .agg(sum(col("tf")).as("mass"))
      .join(qterms0.select(col(queryIdCol), col("term")),
        Seq(queryIdCol, "term"), "left_anti")
      .withColumn("_tr", row_number().over(tw)).filter(col("_tr") <= fbTerms)
      .select(col(queryIdCol), col("term"), lit(1.0).as("qtf"))
    val expanded = qterms0.unionByName(fbt)
    bm25OnQueryTerms(postings, expanded, k1, b, idCol, queryIdCol)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col(queryIdCol), col("rn"), col(idCol), col("score"))
  }

  /** Cut each document into `window`-token chunks on a `stride`-token
    * step (stride < window ⇒ overlapping context windows, the
    * retrieval/embedding prep shape; stride > window leaves gaps —
    * allowed, occasionally useful for sampling). Output columns:
    * `idCol`, `n_tokens`, `chunk_id`, `start`, `chunk_len`.
    *
    * The final chunk of a doc is short (`chunk_len < window`) when the
    * token count is not a multiple of the stride; a doc shorter than
    * one window yields exactly one short chunk; an empty doc yields no
    * chunks. Tokens are whitespace-delimited (the engine's standard
    * token count). Map-side explode of a generated start sequence —
    * no shuffle at all.
    */
  def chunkWindows(docs: DataFrame, window: Int = 64, stride: Int = 48,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    chunked(docs, window, stride, textCol, idCol, withText = false)

  /** [[chunkWindows]] plus the chunk's actual content as a
    * `chunk_text` column (tokens rejoined on single spaces) — the
    * embedding-prep form: downstream encoders consume the text
    * directly instead of re-tokenizing to resolve offsets. Same
    * map-only plan; the token array is carried through the explode and
    * sliced per chunk, so cost stays O(sum of chunk lengths).
    */
  def chunkWindowsWithText(docs: DataFrame, window: Int = 64, stride: Int = 48,
                           textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    chunked(docs, window, stride, textCol, idCol, withText = true)

  private def chunked(docs: DataFrame, window: Int, stride: Int,
                      textCol: String, idCol: String, withText: Boolean): DataFrame = {
    require(window >= 1, s"chunkWindows needs window >= 1, got $window")
    require(stride >= 1, s"chunkWindows needs stride >= 1, got $stride")
    val id = col(idCol)
    val base = docs
      // the standard whitespace split counts a whitespace-only doc as
      // one empty token — filter those up front so an empty doc yields
      // no chunks rather than one zero-content chunk
      .filter(trim(col(textCol)) =!= "")
      .select(id, graft.functions.TextFns.tokens(col(textCol)).as("_tk"))
      .withColumn("n_tokens", size(col("_tk")).cast("long"))
      .filter(col("n_tokens") > 0)
      .withColumn("start",
        explode(sequence(lit(0L), col("n_tokens") - 1L, lit(stride.toLong))))
      .withColumn("chunk_len",
        least(lit(window.toLong), col("n_tokens") - col("start")))
    val out = Seq(id, col("n_tokens"),
      (col("start") / stride.toLong).cast("long").as("chunk_id"),
      col("start"), col("chunk_len")) ++
      // slice is 1-based; chunk_len is capped at Int range by window
      (if (withText)
        Seq(array_join(slice(col("_tk"), (col("start") + 1L).cast("int"),
          col("chunk_len").cast("int")), " ").as("chunk_text"))
      else Seq.empty)
    base.select(out: _*)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher) of N retrieval
    * rankings — the standard hybrid-search combiner (BM25 ⊕ dense
    * cosine and friends): fused(d) = Σ_systems 1/(rrfK + rank_s(d)),
    * absent-from-list contributing nothing. Rank-based, so the two
    * systems' incomparable score scales never need calibration.
    *
    * Inputs are frames of (`idCol`, `rankCol`) — 1-based integer
    * ranks, e.g. from [[graft.operators.Ranking.globalRowNumber]]
    * over a system's score order. Output: (`idCol`,
    * n_lists, best_rank, rrf_score) for every doc in any list.
    *
    * Exactness: each term is ONE IEEE division of exact integers and
    * the fuse is a fixed-order sum of ≤N such doubles — with the
    * oracle summing in the same system order the doubles are
    * bit-identical (repo float contract). Scale shape: N-way
    * outer-join-free union + one aggregation shuffled on the id; list
    * membership is typically top-k per system, so the fused frame is
    * ≤ N·k rows regardless of corpus size.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String = "doc_id",
              rankCol: String = "rank", rrfK: Int = 60): DataFrame =
    rrfFuseBy(rankings, Seq(idCol), rankCol, rrfK)

  /** [[rrfFuse]] over a COMPOSITE key — the query-log form: ranks are
    * per (query, doc), so a multi-query eval fuses every query's lists
    * in one pass (`keyCols = Seq("query_id", "doc_id")`) instead of
    * once per query. Same exactness and scale shape; the aggregation
    * shuffles on the composite key.
    */
  def rrfFuseBy(rankings: Seq[DataFrame], keyCols: Seq[String],
                rankCol: String = "rank", rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(keyCols.nonEmpty, "rrfFuseBy needs at least one key column")
    val keys = keyCols.map(col)
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(keys :+ col(rankCol).cast("long").as("_rr_rank")
        :+ lit(i).as("_rr_sys"): _*)
    }
    // fixed summation order (by system index) so the ≤N-term double
    // sum is reproducible: aggregate the per-system terms into an
    // ordered array, then fold — never a shuffle-order-dependent SUM
    tagged.reduce(_ unionByName _)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_lists"),
        min(col("_rr_rank")).as("best_rank"),
        array_sort(collect_list(struct(col("_rr_sys"), col("_rr_rank")))).as("_terms"))
      .withColumn("rrf_score", aggregate(col("_terms"), lit(0.0),
        (acc, t) => acc + lit(1.0) / (lit(rrfK).cast("double") +
          t.getField("_rr_rank").cast("double"))))
      .drop("_terms")
  }

  /** Known-item retrieval metrics from per-system top-k rank lists —
    * the numbers a retrieval stack actually reports: per system,
    * hits@k, MRR and nDCG@k (binary relevance, one relevant doc per
    * query = the known item), as ORDER-INDEPENDENT integer sums in
    * micro-units so the cross-engine contract never touches a float
    * aggregate: readers divide by n_queries·1e6 for the means.
    *
    * `ranked` columns: `system`, `query_id`, `doc_id`, `rank`
    * (1-based, ≤ k). A hit is `doc_id == query_id`. Per hit:
    * rr_micro = floor(1e6/rank + 0.5) — one exact IEEE division of
    * integers, bit-identical on any engine; ndcg_micro =
    * floor(ln2/round(ln(rank+1),9)·1e6 + 0.5) — the repo-wide
    * round-9 log contract, then three correctly-rounded IEEE ops
    * (1/log2(1+rank) is the single-relevant nDCG closed form; IDCG=1).
    *
    * Scale shape: input is ≤ |systems|·k rows per query; one
    * aggregation shuffled on `system`. `nQueries` rides in as a 1-row
    * broadcast cross-join.
    */
  def knownItemMetrics(ranked: DataFrame, nQueries: DataFrame): DataFrame = {
    val rankD = col("rank").cast("double")
    val ln2 = lit(0.693147181) // round(ln 2, 9) — the repo log contract grain
    // ONE pass over the ranked union: the hit terms ride inside
    // conditional sums, so systems with zero hits still report a row
    // of zeros WITHOUT a second scan + distinct + completion join —
    // `ranked` is typically a union of per-system subtrees (some
    // expensive and unpinned), and a second consumption would
    // re-execute every one of them.
    val hit = col("doc_id") === col("query_id")
    ranked.groupBy(col("system"))
      .agg(sum(when(hit, 1L).otherwise(0L)).as("n_hits"),
        sum(when(hit, floor(lit(1000000.0) / rankD + lit(0.5)).cast("long"))
          .otherwise(0L)).as("sum_rr_micro"),
        sum(when(hit,
            floor(ln2 / round(log(rankD + lit(1.0)), 9) * lit(1000000.0) + lit(0.5))
              .cast("long"))
          .otherwise(0L)).as("sum_ndcg_micro"))
      .crossJoin(broadcast(nQueries))
      .select(col("system"), col("n_queries"), col("n_hits"),
        col("sum_rr_micro"), col("sum_ndcg_micro"))
  }
}
