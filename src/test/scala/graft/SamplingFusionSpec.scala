package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.curation.Sampling
import graft.dedup.Dedup
import graft.retrieval.Retrieval

/** Edge-case semantics of the round-14 batch-6 operators: sorted-
  * neighborhood / edit-distance near-dup, n-gram novelty, weighted
  * sampling, curriculum interleave, RRF fusion. The corpus-scale
  * happy paths are oracle-checked (q_sorted_neighborhood,
  * q_edit_neardup, q_ngram_novelty, q_weighted_sample, q_curriculum,
  * q_rrf_fusion); these pin the contracts fixtures can mask.
  */
class SamplingFusionSpec extends SparkSpec {
  import spark.implicits._

  test("sortedNeighborhoodPairs pairs within the window only, exact set sizes") {
    // aa-prefixed docs sort adjacent; the zz doc is similar to doc 1
    // but sorts far outside the window — SNM's documented miss
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "aa bb cc dd ee ff gg hh tail"), // near-dup of 1, same prefix
      (3L, "aa bb cc xx yy zz qq ww"),      // same 3-token prefix, low overlap
      (4L, "zz bb cc dd ee ff gg hh")       // similar to 1, different prefix
    ).toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 1, keyTokens = 4, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // sort order by 4-token key: 1,2 ("aa bb cc dd"), 3 ("aa bb cc xx"), 4 ("zz ...")
    assert(pairs.keySet == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    // doc1: 6 distinct 3-gram shingles; doc2: 7, sharing all 6 of doc1's
    assert(pairs((1L, 2L)) == (6L, 7L))
    // window=1 never pairs docs two apart: (1,3) absent even though
    // they share the 3-token prefix
    assert(!pairs.contains((1L, 3L)))
  }

  test("sortedNeighborhoodPairs is invariant to input partitioning") {
    val docs = sfDocs.select($"doc_id", $"text")
    val a = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = Dedup.sortedNeighborhoodPairs(docs.repartition(7), "doc_id", "text", window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("blockedEditPairs: exact distance, block scoping, hot-block cap") {
    val docs = Seq(
      (1L, "k1 a b c original text here"),
      (2L, "k1 a b c original text herezq"),   // distance 2 from doc 1
      (3L, "k2 a b c original text here"),      // other block: never compared
      (4L, "hot x y z one"), (5L, "hot x y z two"), (6L, "hot x y z three")
    ).toDF("doc_id", "text")
    val pairs = Dedup.blockedEditPairs(docs, "doc_id", "text",
        keyTokens = 4, maxDist = 10, maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (1,2) confirmed at exact distance 2; (1,3) blocked apart despite
    // distance 1 (prefix blocking's documented trade); the 3-doc "hot"
    // block exceeds maxBlock=2 and is dropped entirely
    assert(pairs == Map((1L, 2L) -> 2L))
    // cap off: the hot block's short mutual distances surface
    val uncapped = Dedup.blockedEditPairs(docs, "doc_id", "text",
        keyTokens = 4, maxDist = 10, maxBlock = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("ngramNovelty attributes first occurrence to the smallest doc id") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (10L, s"$span x1 x2 x3"),          // 4 distinct 8-grams, all first here
      (20L, s"y1 y2 y3 $span"),          // the span 8-gram is doc 10's
      (30L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == (4L, 4L))
    // doc 20 has 4 distinct 8-grams; only the pure-span one is repeated
    assert(out(20L) == (4L, 3L))
    assert(!out.contains(30L)) // < n tokens: no grams, no row
  }

  test("weightedSamplePerGroup: k per group, weight gating, partition invariance") {
    val df = sfDocs.select($"doc_id", $"source", $"n_chars")
    val out = Sampling.weightedSamplePerGroup(df, "source", "n_chars", "doc_id", k = 5)
    val byGroup = out.groupBy($"source").agg(count(lit(1)).as("n"), max($"samp_rank").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(byGroup.nonEmpty)
    byGroup.foreach { case (_, n, mx) => assert(n <= 5 && mx <= 5 && n == mx) }
    // deterministic under repartitioning (hash-derived randomness)
    val again = Sampling.weightedSamplePerGroup(df.repartition(13), "source", "n_chars", "doc_id", k = 5)
    assert(out.select($"doc_id").collect().map(_.getLong(0)).toSet ==
      again.select($"doc_id").collect().map(_.getLong(0)).toSet)
    // zero/negative weights never selected
    val zeroed = df.withColumn("n_chars",
      when($"doc_id" % 2 === 0, lit(0)).otherwise($"n_chars"))
    val sel = Sampling.weightedSamplePerGroup(zeroed, "source", "n_chars", "doc_id", k = 1000)
      .select($"doc_id").collect().map(_.getLong(0))
    assert(sel.nonEmpty && sel.forall(_ % 2 == 1))
  }

  test("curriculumInterleave: position is a permutation, tiers ordered, sources alternate") {
    val df = sfDocs.select($"doc_id", $"source", $"n_chars")
    val out = Sampling.curriculumInterleave(df, "n_chars", "source", "doc_id", tiles = 4)
      .select($"doc_id", $"source", $"n_chars", $"tier", $"rr_rank", $"curriculum_pos")
      .collect()
    val n = out.length
    assert(out.map(_.getLong(5)).toSet == (1L to n).toSet) // exact permutation
    // positions respect (tier, rr_rank) lexicographic order
    val sorted = out.sortBy(_.getLong(5))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(3) < b.getLong(3) ||
          (a.getLong(3) == b.getLong(3) && a.getLong(4) <= b.getLong(4)))
      case _ => ()
    }
    // within a tier, the first |sources-in-tier| positions are distinct
    // sources (round-robin interleave, rr_rank=1 block first)
    val firstTier = sorted.filter(_.getLong(3) == 1L)
    val nSources = firstTier.map(_.getString(1)).distinct.length
    assert(firstTier.take(nSources).map(_.getString(1)).distinct.length == nSources)
  }

  test("rrfFuse: exact two-list scores, single-list docs, fixed-order sum") {
    val l1 = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val l2 = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(l1, l2), rrfK = 60)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (1L, 1L, 1.0 / 61.0))
    assert(out(2L) == (2L, 1L, 1.0 / 62.0 + 1.0 / 61.0))
    assert(out(3L) == (1L, 2L, 1.0 / 62.0))
    // list order only permutes system tags; 2-term IEEE sums commute
    val swapped = Retrieval.rrfFuse(Seq(l2, l1), rrfK = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    out.foreach { case (id, (_, _, s)) => assert(swapped(id) == s) }
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq.empty))
  }

  private def sfDocs = spark.read.parquet(s"${sf()}/documents.parquet")

  test("multi-pass SNM: suffix key catches head-edited twins the prefix order misses") {
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8"),
      (2L, "zq hd a1 a2 a3 a4 a5 a6 a7 a8"), // head-prefixed twin of 1
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8"),       // sorts between 1 and 2's keys
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8")
    ).toDF("doc_id", "text")
    def pairsOf(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val p1 = pairsOf(Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
      window = 1, keyTokens = 4, shingleN = 3)
      .filter($"n_common" * 2 >= $"n_union"))
    // prefix order: "a1..", "m1..", "n1..", "zq hd.." — the twin is 3
    // positions from doc 1; window 1 cannot pair them
    assert(!p1.contains((1L, 2L)))
    val tk = TextFns.tokens($"text")
    val suffix = concat_ws(" ", slice(tk, greatest(size(tk) - 3, lit(1)), lit(4)))
    val p2 = pairsOf(Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
      window = 1, keyTokens = 4, shingleN = 3, keyExpr = Some(suffix))
      .filter($"n_common" * 2 >= $"n_union"))
    // suffix order: both end "a5 a6 a7 a8" → adjacent → caught
    assert(p2.contains((1L, 2L)))
  }

  test("incrementalNovelty counts seen grams against the index only") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val corpus = Seq((1L, s"c1 c2 c3 $span")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"$span b1 b2 b3"),     // shares exactly the pure-span gram
      (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9") // fully novel
    ).toDF("doc_id", "text")
    val idx = Dedup.gramIndex(corpus, n = 8)
    val out = Dedup.incrementalNovelty(idx, batch, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == (4L, 1L)) // 4 distinct grams, 1 in the index
    assert(out(11L) == (2L, 0L))
    // empty index: everything novel
    val empty = Dedup.incrementalNovelty(idx.filter(lit(false)), batch, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(empty == Map(10L -> 0L, 11L -> 0L))
  }

  test("mmrSelect suppresses the redundant near-twin in favor of the diverse hit") {
    import graft.sim.Similarity
    // corpus: a and b equally relevant (mirror images around the
    // query), a2 a near-twin of a — MMR must take b at rank 2
    val corpus = Seq(
      (100L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.436f)),
      (2L, Array(0.9f, 0.437f)),
      (3L, Array(0.9f, -0.436f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(
        corpus.filter($"vec_id" === 100), corpus, "vec_id", "embedding",
        k = 3, c = 3, lambda = 0.7)
      .orderBy($"mmr_rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // rank1 = plain argmax (a, id tie-break over its mirror); rank2 =
    // b (penalty vs a ≈ 0.62), NOT the near-twin a2 (penalty ≈ 1.0)
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L))
    // rank-1 score is the raw cosine; later scores strictly smaller
    assert(out(0)._3 > out(1)._3 && out(1)._3 > out(2)._3)
    intercept[IllegalArgumentException](
      Similarity.mmrSelect(corpus, corpus, "vec_id", "embedding", k = 5, c = 3))
  }

  test("triangleCount: exact on hand graphs, robust to multi-edges and loops") {
    import graft.operators.Graphs
    def count(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
      val r = Graphs.triangleCount(edges.toDF("src", "dst")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // K4 = 4 triangles; a 4-path = 0; duplicate/reversed/self edges
    // must not change anything
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) == ((4L, 6L, 4L)))
    assert(count(k4 ++ Seq((2L, 1L), (3L, 3L), (1L, 2L))) == ((4L, 6L, 4L)))
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 0L)))
    // a triangle hanging off a hub: 1 triangle regardless of hub degree
    val hub = Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++ (4L to 20L).map(v => (1L, v))
    assert(count(hub)._3 == 1L)
  }

  test("assocRules: exact ppm confidence/lift, mega-basket guard, dup rows, partition invariance") {
    import graft.operators.Graphs
    // baskets: b1{1,2,3}, b2{1,2} (item 1 duplicated — distinct must
    // dedup), b3{1,2}, b4{3}; b5 has 4 items and maxBasketSize=3 drops
    // it whole. Kept baskets = 4. Pair (1,2): n_ab=3, n_1=3, n_2=3 →
    // conf = 1e6·3 div 3 = 1000000; lift = 1e6·3·4 div 9 = 1333333.
    // Pairs (1,3)/(2,3) have support 1 < 2 and drop.
    val rows = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L),
      (4L, 3L),
      (5L, 10L), (5L, 11L), (5L, 12L), (5L, 13L)).toDF("basket", "item")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graphs.assocRules(df, maxBasketSize = 3, minSupport = 2L)
        .select($"item_a", $"item_b", $"n_ab", $"n_a", $"n_b",
          $"n_baskets", $"conf_ppm", $"lift_ppm")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val got = run(rows)
    assert(got == Set((1L, 2L, 3L, 3L, 3L, 4L, 1000000L, 1333333L)), got.toString)
    assert(run(rows.repartition(5)) == got)
    // an anticorrelated pair lifts BELOW 1e6: items 7,8 share 1 of 4
    // baskets, each in 2 → lift = 1e6·1·4 div 4 = 1000000... make it
    // 1 shared of 2×3 → baskets 6: {7,8},{7},{7},{8},{8} in a fresh
    // id space; n=5, n_ab=1 <- below minSupport; use minSupport=1
    val anti = Seq((10L, 7L), (10L, 8L), (11L, 7L), (12L, 7L),
      (13L, 8L), (14L, 8L)).toDF("basket", "item")
    val a = Graphs.assocRules(anti, maxBasketSize = 3, minSupport = 1L)
      .select($"lift_ppm").as[Long].collect().toList
    // lift = 1e6·1·5 div (3·3) = 555555 — co-occurrence rarer than
    // independence, and the floor division is exact
    assert(a == List(555555L), a.toString)
  }

  test("pageRankMicro: hand-computed integer ranks, dangling mass dropped") {
    import graft.operators.Graphs
    // directed: 1→2, 2→1, 2→3; node 3 is dangling. N=3, D=0.85e12.
    // r0 = 1e12 div 3 = 333333333333 each.
    // iter1: s(1)=s(3)=333333333333 div 2 = 166666666666, s(2)=333333333333
    //   base = 0.15e12 div 3 = 50000000000
    //   r1(1)=r1(3)=50000000000+floor(166666666666·0.85)=191666666666
    //   r1(2)=50000000000+floor(333333333333·0.85)=333333333333
    // iter2: s(1)=s(3)=333333333333 div 2, s(2)=r1(1)=191666666666
    //   r2(1)=r2(3)=191666666666; r2(2)=50000000000+162916666666=212916666666
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val r = Graphs.pageRankMicro(edges, iters = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      1L -> ((191666666666L, 1L)),
      2L -> ((212916666666L, 2L)),
      3L -> ((191666666666L, 0L))), r.toString)
    // determinism: a different partitioning reproduces the ranks
    val r2 = Graphs.pageRankMicro(edges.repartition(7), iters = 2)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r2 == r)
    // with damping 0 every node holds the uniform base forever
    val r0 = Graphs.pageRankMicro(edges, iters = 3, dampingMicro = 0L)
      .collect().map(x => x.getLong(1)).toSet
    assert(r0 == Set(333333333333L))

    // personalized: teleport only to seed {1} — mass flows outward.
    // r1: (1)=0.15e12, (2)=0.85e12, (3)=0
    // r2: (1)=0.15e12+floor(0.425e12·0.85)=511250000000
    //     (2)=floor(0.15e12·0.85)=127500000000, (3)=361250000000
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val pr = Graphs.pageRankMicroSeeded(edges, seeds, iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(pr == Map(1L -> 511250000000L, 2L -> 127500000000L,
      3L -> 361250000000L), pr.toString)
    // a seed outside the graph is ignored; an all-outside seed set
    // fails loudly instead of silently NULLing ranks
    val pr2 = Graphs.pageRankMicroSeeded(edges,
      Seq(1L, 99L).map(Tuple1(_)).toDF("node"), iters = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(pr2(2L) == 850000000000L, pr2.toString)
    intercept[Exception] {
      Graphs.pageRankMicroSeeded(edges, Seq(Tuple1(99L)).toDF("node"), iters = 1)
        .collect()
    }
  }

  test("pageRankMicroWeighted: uniform == unweighted; hand ranks; convergence rows") {
    import graft.operators.Graphs
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    // uniform weights reproduce the unweighted walk EXACTLY:
    // rank·1 div Σ1 = rank div out_deg, every iteration
    val un = Graphs.pageRankMicro(edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wu = Graphs.pageRankMicroWeighted(
        edges.withColumn("w", lit(1L)), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(wu == un, s"uniform-weight ranks diverged: $wu vs $un")

    // hand-computed weighted case: 1→2 (w=3), 1→3 (w=1), 2→1 (w=2);
    // Σw_out(1)=4, Σw_out(2)=2, node 3 dangling. r0 = 333333333333.
    // iter1 inflows: s(2)=r0·3 div 4=249999999999, s(3)=r0 div 4=
    // 83333333333, s(1)=r0·2 div 2=333333333333; base=50000000000:
    // r1(1)=333333333333, r1(2)=262499999999, r1(3)=120833333333
    val we = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 2L)).toDF("src", "dst", "w")
    val r = Graphs.pageRankMicroWeighted(we, iters = 1)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      1L -> ((333333333333L, 4L)),
      2L -> ((262499999999L, 2L)),
      3L -> ((120833333333L, 0L))), r.toString)

    // convergence report on the same walk: iter1 deltas are the
    // hand values above (|Δ|max = 333333333333-120833333333 at node 3
    // = 212500000000; nodes 2 and 3 moved, node 1 landed unchanged)
    val conv = Graphs.pageRankConvergence(we, iters = 1, weightCol = Some("w"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(conv.toSeq == Seq((1L, 212500000000L, 2L)), conv.mkString(","))
    // damping 0: every node sits at the uniform base from r0 on —
    // the report shows an already-converged walk (all-zero rows)
    val conv0 = Graphs.pageRankConvergence(edges, iters = 2, dampingMicro = 0L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(conv0.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 0L)), conv0.mkString(","))

    // zero/negative weights are refused loudly, never sign-flipped
    intercept[Exception] {
      Graphs.pageRankMicroWeighted(
        Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), iters = 1).collect()
    }
  }

  test("hitsMicro: hand-computed hubs/authorities, partition invariance, empty fails loud") {
    import graft.operators.Graphs
    // bipartite 1→10, 1→11, 2→10. N=4, h0 = 1e12 div 4 = 250000000000.
    // auth: raw(10)=500e9, raw(11)=250e9, A=750e9
    //   a(10)=500e9·1e12 div 750e9 = 666666666666, a(11)=333333333333
    // hub: raw(1)=a(10)+a(11)=999999999999, raw(2)=666666666666,
    //   H=1666666666665 → h(1)=600000000000 exact, h(2)=400000000000 exact
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val r = Graphs.hitsMicro(edges, iters = 1)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      1L -> ((600000000000L, 0L)),
      2L -> ((400000000000L, 0L)),
      10L -> ((0L, 666666666666L)),
      11L -> ((0L, 333333333333L))), r.toString)
    // duplicate edges are deduped (multigraph input is safe), and a
    // different partitioning replays the scores bit-for-bit
    val r2 = Graphs.hitsMicro(
      edges.unionByName(edges).repartition(7), iters = 1)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r2 == r)
    // scores remain L1-coupled after more rounds: every round renormalizes
    val r3 = Graphs.hitsMicro(edges, iters = 3).collect()
    assert(r3.map(_.getLong(1)).sum <= 1000000000000L)
    assert(r3.map(_.getLong(2)).sum <= 1000000000000L)
    intercept[Exception] {
      Graphs.hitsMicro(Seq.empty[(Long, Long)].toDF("src", "dst"), iters = 1)
        .collect()
    }
  }

  test("labelPropagate: hand-traced rounds, multigraph dedup, partition invariance") {
    import graft.operators.Graphs
    // triangle {1,2,3} + pendant 4—3, synchronous min-tie-break LPA:
    //   r1: 1→min(2,3)=2 (tie), 2→1 (tie), 3→1 (tie of 1,2,4), 4→3
    //   r2: 1→1 (both nbrs hold 1), 2→1 (tie 2,1), 3→1 (tie 2,1,3), 4→1
    //   r3: everything 1 — one community
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame, iters: Int) =
      Graphs.labelPropagate(df, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(edges, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    assert(run(edges, 2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(run(edges, 3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // duplicate + reversed edges change nothing; repartition replays
    val noisy = edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
      .repartition(7)
    assert(run(noisy, 2) == run(edges, 2))
    // two disconnected triangles stay two communities at any round
    val two = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val comms = run(two, 3).groupBy(_._2).keys.toSet
    assert(comms.size == 2)
  }

  test("observed count resolves off a localCheckpoint materialization (kCore's fused round count)") {
    // kCore rides its per-round fixpoint count on the checkpoint's own
    // materialization job via observe() — one job per round instead of
    // checkpoint + count. This pins the mechanism: the checkpoint
    // action must fire the observation listener; a -1 here would mean
    // the fallback count (a second job) silently came back.
    import org.apache.spark.sql.functions.{count, lit}
    val obs = new org.apache.spark.sql.Observation()
    val ck = spark.range(100).toDF("n")
      .observe(obs, count(lit(1)).as("n_rows")).localCheckpoint()
    assert(graft.util.Metrics.long(obs, "n_rows", -1L) == 100L)
    assert(ck.count() == 100L)
  }

  test("kCore peels to the exact core, cascades, and handles empty cores") {
    import graft.operators.Graphs
    // K4 {1,2,3,4} + a chain 4—5—6: 5 (deg 2) and 6 (deg 1) peel in
    // the first synchronous round and the K4 survives it (4 drops to
    // degree 3) — the 3-core is exactly the K4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core3 = Graphs.kCore(edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3.toString)
    // k above the max degree → empty core, no exception
    assert(Graphs.kCore(edges, k = 10).count() == 0L)
    // k=1 keeps everything (after self-loop/dedup canonicalization)
    assert(Graphs.kCore(edges, k = 1).count() == 6L)
    // multigraph + reversed duplicates + partitioning change nothing
    val noisy = edges.unionByName(edges.select($"dst".as("src"), $"src".as("dst")))
      .repartition(5)
    val core3b = Graphs.kCore(noisy, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3b == core3)
    // a too-small round bound fails loudly instead of returning a
    // not-yet-core frame
    intercept[IllegalStateException] {
      Graphs.kCore(edges, k = 3, maxRounds = 1).collect()
    }
  }

  test("cooccurrenceProject: shared-neighbor weights, celebrity cut, minShared floor") {
    import graft.operators.Graphs
    // p1 shared by {1,2}; p2 shared by {1,2,3} → (1,2)=2, (1,3)=1, (2,3)=1
    val e = Seq((1L, 100L), (2L, 100L), (1L, 200L), (2L, 200L), (3L, 200L))
      .toDF("src", "dst")
    def run(maxDeg: Int, minShared: Long) =
      Graphs.cooccurrenceProject(e, maxDeg = maxDeg, minShared = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(run(50, 1L) == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    assert(run(50, 2L) == Map((1L, 2L) -> 2L))
    // maxDeg=2 drops the degree-3 part entirely: only p1's pair remains
    assert(run(2, 1L) == Map((1L, 2L) -> 1L))
    // duplicate incidence rows don't inflate weights
    val dup = Graphs.cooccurrenceProject(e.unionByName(e).repartition(5),
      maxDeg = 50, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dup == run(50, 1L))
  }

  test("bfsHops: hop distances, settled-node pruning on cycles, detached seeds at 0") {
    import graft.operators.Graphs
    import org.apache.spark.sql.functions.col
    // directed chain 1→2→3→4 plus a back-edge 2→1 (cycle must not
    // resurrect node 1), seed {1, 9} with 9 absent from the graph
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("node")
    def run(maxHops: Int) = Graphs.bfsHops(e, seeds, maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(run(4) == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // the early exit: a huge bound terminates and returns the fixpoint
    assert(run(30) == run(4))
    // direction respected: nothing reaches 1's predecessors-only side
    val back = Graphs.bfsHops(Seq((5L, 1L)).toDF("src", "dst"), seeds, 3)
      .filter(col("node") === 5L).count()
    assert(back == 0L)
  }

  /** Driver-side reference for the CC operator: union-find over the
    * pair list, every node mapped to its component's minimum id (a
    * union always hangs the larger root under the smaller). */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length, "a node got two labels")
    rows.toMap
  }

  /** Random pair lists: paths over shuffled ids, stars, dense small-id
    * multigraphs and self-loop-only nodes, 1-4 of them side by side
    * (several components, or one where they share ids), then some
    * pairs reversed and some repeated. */
  private val pairListGen: Gen[Seq[(Long, Long)]] = {
    val node = Gen.choose(0L, 5000L)
    val path = Gen.choose(2, 40).flatMap(Gen.listOfN(_, node))
      .map(ids => ids.zip(ids.tail))
    val star = for {
      c <- node
      leaves <- Gen.choose(1, 25).flatMap(Gen.listOfN(_, node))
    } yield leaves.map(c -> _)
    val dense = Gen.choose(1, 30)
      .flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L))))
    val loops = Gen.choose(1, 3).flatMap(Gen.listOfN(_, node)).map(_.map(x => x -> x))
    for {
      parts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf(path, star, dense, loops)))
      edges = parts.flatten
      flips <- Gen.listOfN(edges.size, Gen.oneOf(false, true))
      repeats <- Gen.someOf(edges)
    } yield edges.zip(flips).map { case (e, f) => if (f) e.swap else e } ++ repeats
  }

  private def pairListSample(seed: Long): Seq[(Long, Long)] =
    pairListGen.apply(Gen.Parameters.default, Seed(seed)).get

  test("connectedComponents: == union-find everywhere; rounds << diameter on a long path") {
    import graft.operators.Graphs
    import graft.util.SparkMeter
    val spark2 = spark; import spark2.implicits._
    // a 300-node path with ids increasing along it — the adversarial
    // case for min-label propagation (labels crawl one hop per round,
    // Ω(n) rounds); the alternating algorithm must land in O(log²)
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ((got, rounds), window) = SparkMeter.measure(spark) {
      val (labels, rounds) = Graphs.bigStarWithRounds(path)
      (labels.collect().map(r => (r.getLong(0), r.getLong(1))), rounds)
    }
    assert(got.length == 300 && got.forall(_._2 == 0L),
      s"path did not contract to component 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
    assert(rounds <= 12, s"expected O(log²) rounds on a 300-path, got $rounds")
    // job cost: convergence rides the rounds' own checkpoint jobs, so
    // a round costs only the jobs that build its two frames
    val jobs = window.jobs.size
    assert(jobs <= 110, s"300-path CC ran $jobs jobs in $rounds rounds")
    assert(jobs <= 10 * rounds, s"300-path CC ran $jobs jobs in $rounds rounds")
    // hand case: two components + a self-loop-only node stays its own
    // singleton (the self-loop is dropped, the node is not)
    val hand = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L)).toDF("id_a", "id_b")
    assert(Graphs.connectedComponents(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (5L, 5L)))
    // a pseudo-random multigraph (dups + both orientations in the input)
    val rand = (0L until 200L).map(i => (i, (i * i * 31L + 7L) % 200L))
      .filter { case (a, b) => a != b }
    val messy = rand ++ rand.map(_.swap) ++ rand.take(40)
    assert(labelsOf(Graphs.connectedComponents(messy.toDF("id_a", "id_b"))) ==
      unionFind(messy), "big-star diverged from union-find")
  }

  test("connectedComponents == union-find on random pair lists, and on the empty frame") {
    import graft.operators.Graphs
    val spark2 = spark; import spark2.implicits._
    for (seed <- 1L to 6L) {
      val pairs = pairListSample(7000L + seed)
      assert(labelsOf(Graphs.connectedComponents(pairs.toDF("id_a", "id_b"))) ==
        unionFind(pairs), s"seed $seed: ${pairs.take(12)}")
    }
    assert(Graphs.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().isEmpty)
  }

  test("mergeComponents over a random two-batch split == the from-scratch clustering") {
    import graft.operators.Graphs
    val spark2 = spark; import spark2.implicits._
    for (seed <- 1L to 4L) {
      val pairs = pairListSample(8000L + seed)
      val rng = new scala.util.Random(seed)
      val (b1, b2) = pairs.partition(_ => rng.nextBoolean())
      val merged = Graphs.mergeComponents(
        Graphs.connectedComponents(b1.toDF("id_a", "id_b")), b2.toDF("id_a", "id_b"))
      assert(labelsOf(merged) == labelsOf(Graphs.connectedComponents(pairs.toDF("id_a", "id_b"))),
        s"seed $seed: ${b1.size} + ${b2.size} pairs")
    }
  }

  test("connectedComponents reads its pair frame once") {
    import graft.operators.Graphs
    val spark2 = spark; import spark2.implicits._
    // a counting source: every evaluation of the pair frame adds its
    // rows to the accumulator, so an uncached upstream (the LSH pair
    // plan of the dedup callers) running twice would show as 2×
    val pairs = pairListSample(9001L)
    val reads = spark.sparkContext.longAccumulator("pair rows read")
    val counted = spark.sparkContext.parallelize(pairs, 4)
      .map { p => reads.add(1); p }.toDF("id_a", "id_b")
    assert(labelsOf(Graphs.connectedComponents(counted)) == unionFind(pairs))
    assert(reads.value == pairs.size.toLong,
      s"pair frame evaluated ${reads.value.toDouble / pairs.size}× (${pairs.size} rows)")
  }

  test("nodeTriangles: hand-computed per-node counts; triangle-free nodes report 0; global count unchanged") {
    import graft.operators.Graphs
    val spark2 = spark; import spark2.implicits._
    // two triangles sharing edge (2,3), a dangling tail via 4, and a
    // triangle-free pair {5,6}; duplicate + reversed edges must dedup
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L),
      (5L, 6L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = Graphs.nodeTriangles(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      1L -> ((2L, 1L)), 2L -> ((3L, 2L)), 3L -> ((3L, 2L)),
      4L -> ((2L, 1L)), 5L -> ((1L, 0L)), 6L -> ((1L, 0L))), out.toString)
    // the one-row global stays consistent with the per-node sum / 3
    val g = Graphs.triangleCount(edges).collect()(0)
    assert(g.getLong(2) == 2L && out.values.map(_._2).sum == 3 * g.getLong(2))
  }

  test("mergeComponents: incremental batches equal the from-scratch clustering; singletons survive") {
    import graft.operators.Graphs
    val spark2 = spark; import spark2.implicits._
    def cc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 1: two chains and an isolated self-loop node
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("id_a", "id_b")
    val l1 = Graphs.connectedComponents(b1)
    assert(cc(l1) == Set((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L)))
    // batch 2: a bridge merging the two chains, a brand-new pair, and
    // an edge touching the old singleton — folded against LABELS only
    val b2 = Seq((3L, 10L), (30L, 31L), (20L, 1L)).toDF("id_a", "id_b")
    val merged = cc(Graphs.mergeComponents(l1, b2))
    val scratch = cc(Graphs.connectedComponents(b1.unionByName(b2)))
    assert(merged == scratch, "incremental fold diverged from from-scratch clustering")
    assert(merged == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L),
      (20L, 1L), (30L, 30L), (31L, 30L)))
    // an empty batch is the identity
    assert(cc(Graphs.mergeComponents(l1, b1.limit(0))) == cc(l1))
  }

  test("normKey canonicalizes case, punctuation, and spacing") {
    import graft.functions.TextFns
    val out = Seq("A,,b  C!", "a b c", "  A  B--C  ", "").toDF("t")
      .select(TextFns.normKey($"t")).as[String].collect().toSeq
    assert(out == Seq("a b c", "a b c", "a b c", ""))
  }

  test("waterFill: exact level, remainder by name, full-keep under big budgets") {
    val counts = Seq(("a", 10L), ("b", 3L), ("c", 2L)).toDF("source", "n_docs")
    def alloc(num: Long, den: Long, df: org.apache.spark.sql.DataFrame = counts) =
      Sampling.waterFill(df, "source", "n_docs", num, den)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // B = 15*4 div 5 = 12: c,b keep everything; a capped at the level 7
    assert(alloc(4, 5) == Map("a" -> 7L, "b" -> 3L, "c" -> 2L))
    // budget >= total: everyone keeps everything
    assert(alloc(2, 1) == Map("a" -> 10L, "b" -> 3L, "c" -> 2L))
    // remainder goes +1 to the first uncapped groups BY NAME:
    // equal 5s, B = 13 → τ=4, r=1 → a gets 5
    val eq = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("source", "n_docs")
    assert(alloc(13, 15, eq) == Map("a" -> 5L, "b" -> 4L, "c" -> 4L))
    // allocation always totals exactly B and never exceeds availability
    val out = alloc(4, 5)
    assert(out.values.sum == 12L && out.forall { case (s, v) =>
      v <= Map("a" -> 10L, "b" -> 3L, "c" -> 2L)(s) })
  }

  test("BPE merges match the serial reference on a hand-computed corpus") {
    import graft.classify.BpeTrainer
    // words: "aaab"×2, "ab"×1. Serial BPE:
    //   step1: (a,a) count 4 (two per "aaab", overlaps counted) → aaab=[aa,a,b]
    //   step2: (a,b) count 3 beats (aa,a)=2 → [aa,ab] / [ab]
    //   step3: (aa,ab) count 2
    val docs = Seq("aaab ab", "aaab").toDF("text")
    val rules = BpeTrainer.fitMerges(docs, steps = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rules.sortBy(_._1).toSeq == Seq(
      (1L, "a", "a", 4L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L)))
    // deterministic tie-break: (x,y) and (y,x) both count 1 → c1 asc wins
    val tie = BpeTrainer.fitMerges(Seq("xy yx").toDF("text"), steps = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).head
    assert(tie == (("x", "y")))
  }

  test("BPE encode applies a merge list exactly as the serial greedy rule") {
    import graft.classify.BpeTrainer
    // the fitted merges of the hand corpus above, applied back to it:
    //   (a,a): aaab → [aa,a,b], ab → [a,b]
    //   (a,b): aaab → [aa,ab],  ab → [ab]
    //   (aa,ab): aaab → [aaab], ab → [ab]
    val docs = Seq("aaab ab", "aaab").toDF("text")
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val enc = BpeTrainer.encodeWords(docs, merges)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[String](2).toList))).toMap
    assert(enc == Map("aaab" -> ((2L, List("aaab"))),
      "ab" -> ((1L, List("ab")))), enc.toString)
    // greedy left-to-right within one pass: "aaa" + (a,a) → [aa, a],
    // and a later (aa,a) merge picks up the leftover
    val tri = BpeTrainer.encodeWords(Seq("aaa").toDF("text"), Seq(("a", "a")))
      .collect().head.getSeq[String](2).toList
    assert(tri == List("aa", "a"))
    val tri2 = BpeTrainer.encodeWords(Seq("aaa").toDF("text"),
      Seq(("a", "a"), ("aa", "a"))).collect().head.getSeq[String](2).toList
    assert(tri2 == List("aaa"))
    // empty merge list = plain character split
    val none = BpeTrainer.encodeWords(Seq("xy").toDF("text"), Seq.empty)
      .collect().head.getSeq[String](2).toList
    assert(none == List("x", "y"))
    // an encoded corpus token count is invariant to partitioning
    val big = (1 to 50).map(i => s"w$i aaab ab").toDF("text")
    def total(df: org.apache.spark.sql.DataFrame): Long =
      BpeTrainer.encodeWords(df, merges)
        .agg(sum(size(col("syms")) * col("freq"))).collect().head.getLong(0)
    assert(total(big) == total(big.repartition(7)))
  }

  test("dedupLines keeps first occurrences in order; short and all-dup docs exact") {
    val docs = Seq(
      // lines (w=2): [a b][c d][a b][e f] → dup line 3 dropped
      (1L, "a b c d a b e f"),
      // shorter than one line: passes through
      (2L, "solo"),
      // fully periodic: one unique line survives
      (3L, "x y x y x y"),
      // ragged tail line kept as its own (shorter) line
      (4L, "p q p q r")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", lineTokens = 2)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_lines", $"n_unique_lines", $"clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 3L, "a b c d e f"),
      (2L, 1L, 1L, "solo"),
      (3L, 3L, 1L, "x y"),
      (4L, 3L, 2L, "p q r")))
  }

  test("chunkDupStats: per-doc duplicated-chunk counts, exact on hand fixture") {
    // window 2 / stride 2: d1 → [a b][c d], d2 → [a b], d3 → [x y][z w];
    // "a b" occurs twice corpus-wide → d1 has 1/2 dup chunks, d2 1/1
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, "x y z w"), (4L, "  ")
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(docs, window = 2, stride = 2)
      .orderBy($"doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // whitespace-only doc yields no chunks (absent, like chunkWindows)
    assert(out == Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 2L, 0L)), out.toString)
  }

  test("clusterBalance caps over-represented clusters at the water line, id-first") {
    // two fixed centroids; cluster 1 gets 4 members, cluster 2 gets 2.
    // budget = 6·3 div 4 = 4 → water-fill level τ = 2: cluster 1 is cut
    // to its two lowest ids, cluster 2 (≤ τ) keeps everything.
    val centroids = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)),
      (4L, Array(0.7f, 0.3f)), (5L, Array(0f, 1f)), (6L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Sampling.clusterBalance(corpus, centroids, "vec_id", "embedding",
        num = 3, den = 4)
      .select($"id", $"centroid_id", $"rank", $"alloc", $"keep")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out == Map(
      1L -> ((1L, 1L, 2L, true)), 2L -> ((1L, 2L, 2L, true)),
      3L -> ((1L, 3L, 2L, false)), 4L -> ((1L, 4L, 2L, false)),
      5L -> ((2L, 1L, 2L, true)), 6L -> ((2L, 2L, 2L, true))))
    // budget respected exactly: kept rows == 6·3 div 4
    assert(out.values.count(_._4) == 4)
  }

  test("logOddsTerms ranks group-exclusive vocabulary first, signs contrast") {
    import graft.classify.TextClassify
    val docs = Seq(
      ("A", "xx xx xx yy"), ("A", "xx yy"),
      ("B", "zz zz yy"), ("B", "zz yy yy")
    ).toDF("source", "text")
    val out = TextClassify.logOddsTerms(docs, "source", topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(5), r.getLong(6),
          r.getAs[Double]("odds_ratio"))).toMap
    // the exclusive high-frequency term tops each group with
    // odds_ratio > 1 (positive log-odds contrast)
    assert(out(("A", 1L))._1 == "xx" && out(("A", 1L))._4 > 1.0)
    assert(out(("B", 1L))._1 == "zz" && out(("B", 1L))._4 > 1.0)
    // the shared term ranks below the exclusive one on both sides
    assert(out(("A", 2L))._1 == "yy" && out(("B", 2L))._1 == "yy")
    // ratio is the exact IEEE quotient of the pinned integer pair
    out.values.foreach { case (_, num, den, ratio) =>
      assert(ratio == num.toDouble / den.toDouble && den > 0L) }
    assert(out.size == 4) // topK bound: 2 per group
    // hand-check A/"xx": y_tg=4, y_t=4, n_g=6, n=12, V=3 →
    // num = (4+1)·(12−6+3−0−1) = 5·8 = 40; den = (6+3−4−1)·(0+1) = 4
    assert(out(("A", 1L))._2 == 40L && out(("A", 1L))._3 == 4L)
  }
}
