package graft

import graft.retrieval.Retrieval

/** Edge-case semantics of the public retrieval APIs (the oracle
  * queries `q_bm25` / `q_chunk_windows` cover the corpus-scale happy
  * path through the same entry points).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark spark spark engine"),
    (2L, "hash join hash"),
    (3L, "a completely unrelated sentence about nothing"),
    (4L, "Spark") // case-insensitive match, shortest doc
  ).toDF("doc_id", "text")

  test("bm25Score ranks term-bearing docs above term-free ones; parameters bind") {
    val scored = Retrieval.bm25Score(corpus, Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.keySet == Set(1L, 2L, 3L, 4L))
    assert(scored(3L) == 0.0 && scored(2L) == 0.0) // no 'spark' → zero
    assert(scored(1L) > 0.0 && scored(4L) > 0.0)
    // shorter doc with the term outranks the longer one at equal-ish tf
    // saturation (len normalization): doc 4 is 1 token, all of them hits
    assert(scored(4L) > scored(1L) * 0.5) // sanity: both clearly positive

    // b = 0 disables length normalization: score then depends only on
    // tf, so doc 1 (tf=3) strictly outranks doc 4 (tf=1)
    val noLen = Retrieval.bm25Score(corpus, Seq("spark"), b = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(noLen(1L) > noLen(4L))
    // larger k1 rewards repeated terms more (less tf saturation)
    val k1Low = Retrieval.bm25Score(corpus, Seq("spark"), k1 = 0.1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val k1High = Retrieval.bm25Score(corpus, Seq("spark"), k1 = 5.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(k1High(1L) / k1High(4L) > k1Low(1L) / k1Low(4L))

    // multi-term scores add; a term absent from the corpus contributes
    // 0 to every doc (df = 0 never divides by zero: idf = (N+0.5)/0.5)
    val multi = Retrieval.bm25Score(corpus, Seq("spark", "hash", "zzz_absent"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(multi(2L) > 0.0) // hash-only doc now scores
    assert(multi(3L) == 0.0)
  }

  test("bm25Score: empty term list scores zero; empty corpus returns empty") {
    val zero = Retrieval.bm25Score(corpus, Seq.empty)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(zero.values.toSet == Set(0.0) && zero.size == 4)
    assert(Retrieval.bm25Score(corpus.limit(0), Seq("spark")).count() == 0)
    // custom column names bind
    val renamed = corpus.toDF("id", "body")
    val viaNames = Retrieval.bm25Score(renamed, Seq("spark"),
      textCol = "body", idCol = "id")
    assert(viaNames.columns.toSeq == Seq("id", "score"))
    assert(viaNames.count() == 4)
  }

  test("bm25ScoreMulti matches the single-query scorer per query; unmatched docs absent") {
    val docs = corpus
    val queries = Seq(
      (100L, Seq("spark", "engine")),
      (200L, Seq("hash")),
      (300L, Seq("zzz_absent_term"))).toDF("query_id", "terms")
    val multi = Retrieval.bm25ScoreMulti(Retrieval.postingsOf(docs), queries)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    // per query, the relational scores agree with the driver-side
    // single-query path up to the 9-decimal contribution rounding
    for ((qid, terms) <- Seq(100L -> Seq("spark", "engine"), 200L -> Seq("hash"))) {
      val single = Retrieval.bm25Score(docs, terms)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      multi.collect { case ((q, d), s) if q == qid =>
        assert(math.abs(s - single(d)) < 1e-8 * (1 + math.abs(s)),
          s"q$qid d$d: multi $s vs single ${single(d)}")
      }
      // docs the single path scores 0 (no term) are ABSENT in multi
      val present = multi.keySet.collect { case (q, d) if q == qid => d }
      assert(single.filter(_._2 > 0).keySet == present)
    }
    // a query matching nothing yields no rows, not zero rows
    assert(!multi.keySet.exists(_._1 == 300L))
  }

  test("chunkWindows covers every token; final/short-doc chunks truncate") {
    def doc(n: Int) = Seq((1L, (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    // 10 tokens, window 4, stride 3 → starts 0,3,6,9; last chunk len 1
    val chunks = Retrieval.chunkWindows(doc(10), window = 4, stride = 3)
      .select($"chunk_id", $"start", $"chunk_len")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(chunks == Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
    // overlap: consecutive chunks share window - stride = 1 token;
    // every token position is inside at least one chunk
    val covered = chunks.flatMap { case (_, s, l) => s until (s + l) }.toSet
    assert(covered == (0L until 10L).toSet)

    // doc shorter than one window: exactly one chunk, its own length
    assert(Retrieval.chunkWindows(doc(3), window = 64, stride = 48)
      .select($"start", $"chunk_len").as[(Long, Long)].collect().toSeq ==
      Seq((0L, 3L)))
    // stride > window is allowed and leaves gaps (sampling shape)
    val gapped = Retrieval.chunkWindows(doc(10), window = 2, stride = 5)
      .select($"start", $"chunk_len").as[(Long, Long)].collect().toSeq.sorted
    assert(gapped == Seq((0L, 2L), (5L, 2L)))
    // empty / whitespace-free docs yield no chunks; empty corpus empty
    assert(Retrieval.chunkWindows(Seq((1L, "")).toDF("doc_id", "text")).count() == 0)
    // degenerate parameters refuse
    intercept[IllegalArgumentException] {
      Retrieval.chunkWindows(doc(5), window = 0, stride = 3)
    }
    intercept[IllegalArgumentException] {
      Retrieval.chunkWindows(doc(5), window = 4, stride = 0)
    }
  }

  test("chunkWindowsWithText materializes each chunk's exact token span") {
    val doc = Seq((1L, "  a b c d e f g  ")).toDF("doc_id", "text") // trim applies
    val chunks = Retrieval.chunkWindowsWithText(doc, window = 3, stride = 2)
      .select($"start", $"chunk_text").as[(Long, String)].collect().toSeq.sorted
    assert(chunks == Seq((0L, "a b c"), (2L, "c d e"), (4L, "e f g"), (6L, "g")))
    // same rows as the offsets-only form, plus the text column
    val plain = Retrieval.chunkWindows(doc, window = 3, stride = 2)
    assert(plain.columns.toSeq ==
      Seq("doc_id", "n_tokens", "chunk_id", "start", "chunk_len"))
    assert(Retrieval.chunkWindowsWithText(doc, 3, 2).columns.toSeq ==
      plain.columns.toSeq :+ "chunk_text")
    assert(plain.count() == 4)
  }

  test("rrfFuseBy fuses per composite key with the fixed-order sum") {
    val bm = Seq((10L, 1L, 1), (10L, 2L, 2), (20L, 9L, 1)).toDF("query_id", "doc_id", "rank")
    val ov = Seq((10L, 2L, 1), (10L, 3L, 2)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuseBy(Seq(bm, ov), Seq("query_id", "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // hand-computed: doc (10,2) is in both lists — 1/(60+2) + 1/(60+1),
    // summed bm25-first exactly as the ordered fold specifies
    assert(fused((10L, 2L)) == ((2L, 1L, (0.0 + 1.0 / 62.0) + 1.0 / 61.0)))
    assert(fused((10L, 1L)) == ((1L, 1L, 1.0 / 61.0)))
    assert(fused((10L, 3L)) == ((1L, 2L, 1.0 / 62.0)))
    // queries never mix: query 20's doc 9 fuses alone
    assert(fused((20L, 9L)) == ((1L, 1L, 1.0 / 61.0)))
    assert(fused.size == 4)
  }

  test("knownItemMetrics: hand-computed MRR / nDCG micro sums per system") {
    // system A: query 100 finds itself at rank 1, query 200 at rank 4;
    // system B: only query 100, at rank 2; query 300 misses everywhere
    val ranked = Seq(
      ("A", 100L, 100L, 1), ("A", 100L, 7L, 2),
      ("A", 200L, 200L, 4), ("A", 300L, 8L, 1),
      ("B", 100L, 100L, 2), ("B", 300L, 9L, 1)
    ).toDF("system", "query_id", "doc_id", "rank")
    val nq = Seq(Tuple1(3L)).toDF("n_queries")
    val m = Retrieval.knownItemMetrics(ranked, nq)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // rr: rank 1 → 1000000, rank 4 → 250000, rank 2 → 500000
    // ndcg (1/log2(1+rank) in micro): rank 1 → 1000000,
    // rank 4 → 1/log2(5) = 0.430676558 → 430677 (floor(x*1e6+0.5)),
    // rank 2 → 1/log2(3) = 0.630929754 → 630930
    assert(m("A") == ((3L, 2L, 1250000L, 1430677L)))
    assert(m("B") == ((3L, 1L, 500000L, 630930L)))
    assert(m.size == 2)
  }

  test("dense known-item system: the +1e9 id offset defeats the probe's self-exclusion") {
    // the q_retrieval_metrics dense system rides ivfSq8TopK, whose
    // probe filters q_id =!= id — a query that IS a corpus row would
    // never find itself. Offsetting the query id makes the known item
    // findable; the raw id hides it. Hand graph: centroids (1,0)/(0,1);
    // query = vector 2 = (0.6, 0.8) → cell of centroid 1 = {1, 2};
    // codes (95,127) vs (0,127) → self at code-cosine 1.0, rank 1.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = emb.filter($"vec_id" < 2)
    val qOff = emb.filter($"vec_id" === 2L)
      .select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
    val top = graft.sim.Similarity.ivfSq8TopK(qOff, emb, cents,
        "vec_id", "embedding", 2, nprobe = 1)
      .orderBy("rn")
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(top.toSeq == Seq((2L, 1), (1L, 2)), top.mkString(","))
    // same query under its RAW id: the self item is invisible
    val raw = graft.sim.Similarity.ivfSq8TopK(emb.filter($"vec_id" === 2L),
        emb, cents, "vec_id", "embedding", 2, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(!raw.contains(2L), raw.toString)
  }

  test("prfSearch: feedback terms recover a doc the literal query misses") {
    // query 'apple' matches docs 1,2 only; their dominant shared
    // non-query term is 'banana' (mass 2 beats cherry/damson at 1,
    // ties broken on term asc) — after expansion doc 3 (banana-only)
    // becomes retrievable
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana damson"),
      (3L, "banana elderberry fig"),
      (4L, "grape horseradish iceberg")
    ).toDF("doc_id", "text")
    val qs = Seq((100L, Seq("apple"))).toDF("query_id", "terms")
    val out = Retrieval.prfSearch(docs, qs, fbDocs = 2, fbTerms = 1, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.map(_._3).toSet == Set(1L, 2L, 3L), out.mkString(","))
    // docs carrying the ORIGINAL term still outrank the expansion-only
    // doc (feedback weight 1 vs apple idf + banana): 1,2 before 3
    assert(out.sortBy(_._2).map(_._3).last == 3L, out.mkString(","))
    // partition invariance: the expansion decision is deterministic
    val rep = Retrieval.prfSearch(docs.repartition(5), qs,
        fbDocs = 2, fbTerms = 1, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rep == out.toSet)
  }
}
