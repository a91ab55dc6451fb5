package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{TextFns, VectorFns}
import graft.sim.Similarity

/** Semantics tests for the training-data operators (dedup family,
  * text analysis, similarity search) on small controlled inputs.
  */
class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups by content, keeps min id") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("id", "text")
    val g = Dedup.exactGroups(df, "id", "text")
    assert(g.count() == 2)
    val dup = g.filter($"n_dups" === 2).head()
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("priority dedup keeps the preferred-source copy, not the min id") {
    val df = Seq(
      (1L, "web", "a b c"), (2L, "curated", "a b c"), // curated wins despite higher id
      (3L, "web", "x y z"),                           // singleton keeps itself
      (4L, "web", "p q"), (5L, "web", "p q"),         // same source: min id breaks the tie
      (6L, null, "m n"), (7L, "web", "m n"))          // NULLS LAST: unsourced never wins
      .toDF("id", "source", "text")
    val g = Dedup.exactGroupsPriority(df, "id", "text", Seq("source"))
      .select($"keep_id", $"keep_source", $"n_dups")
      .as[(Long, String, Long)].collect().toSet
    assert(g == Set((2L, "curated", 2L), (3L, "web", 1L), (4L, "web", 2L),
      (7L, "web", 2L)))
  }

  test("shingles: 3-grams, distinct, short docs empty") {
    val df = Seq(Tuple1("a b c d"), Tuple1("a b")).toDF("text")
      .select(TextFns.shingles($"text", 3).as("sh"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("minhash: identical docs share full signature; near-dups agree on most rows") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (3L, "w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
      (4L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "doc_id").cache()
    val rows = sig.orderBy($"doc_id").collect()
    val s1 = rows(0).toSeq.drop(1); val s2 = rows(1).toSeq.drop(1)
    val s3 = rows(2).toSeq.drop(1); val s4 = rows(3).toSeq.drop(1)
    assert(s1 == s2)
    val agree13 = s1.zip(s3).count { case (a, b) => a == b }
    val agree14 = s1.zip(s4).count { case (a, b) => a == b }
    assert(agree13 > agree14)
    assert(agree14 == 0)

    val pairs = Dedup.lshCandidatePairs(sig, "doc_id")
    val exact = pairs.filter($"id_a" === 1 && $"id_b" === 2).select($"est_sim").as[Double].head()
    assert(exact == 1.0)
    assert(pairs.filter($"id_a" === 1 && $"id_b" === 4).count() == 0)
  }

  test("jaccard pairs: exact overlap arithmetic") {
    // doc1/doc2 shingles: {a b c, b c d} vs {a b c} → J = 1/2
    val df = Seq((1L, "a b c d"), (2L, "a b c")).toDF("doc_id", "text")
    val j = Dedup.jaccardPairs(df, "doc_id", "text").head()
    assert(j.getAs[Double]("jaccard") == 0.5)
  }

  test("simhash: identical → equal, disjoint vocab → distant") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z"))
      .toDF("doc_id", "text")
    val s = Dedup.simhash48(df, "doc_id", "text").orderBy($"doc_id")
      .select($"simhash48").as[Long].collect()
    assert(s(0) == s(1))
    assert(java.lang.Long.bitCount(s(0) ^ s(2)) > 8)
  }

  test("simhash near-dup banding equals the all-pairs scan (recall 1 at hamming<=3)") {
    // 30 docs over a tiny vocab → plenty of hamming-close pairs; the
    // banded join must reproduce the brute-force pair set exactly.
    val docs = (1 to 30).map { i =>
      (i.toLong, (0 until 8).map(j => s"w${(i + j * 3) % 11}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 3, bands = 4)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect().toSet
    val sig = Dedup.simhash48(df, "doc_id", "text")
    val brute = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.simhash48".bitwiseXOR($"b.simhash48")).cast("long"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 3).toSet
    assert(banded == brute)
    assert(banded.exists(_._3 == 0)) // the vocab wraps → exact simhash ties exist
  }

  test("connected components: chains close transitively, separate pairs stay apart") {
    // a-b, b-c, c-d is one cluster labelled by its min id; e-f another.
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp.size == 6)
  }

  test("band bucket cap drops degenerate buckets but keeps pairs from other bands") {
    // 6 identical docs: every band bucket has 6 members. cap=5 drops
    // them all → no pairs; cap=None keeps all 15 pairs. Two docs
    // sharing only content (not a degenerate key) are unaffected.
    val clones = (1 to 6).map(i => (i.toLong, "w1 w2 w3 w4 w5 w6 w7 w8"))
    val df = clones.toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(df, "doc_id")
    assert(Dedup.lshCandidatePairs(sig, "doc_id").count() == 15)
    assert(Dedup.lshCandidatePairs(sig, "doc_id", maxBandBucket = Some(5)).count() == 0)
    assert(Dedup.lshCandidatePairs(sig, "doc_id", maxBandBucket = Some(6)).count() == 15)
  }

  test("incremental band match flags batch dups against the corpus index only") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // exact dup of corpus 1
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"), // novel
      (12L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")  // dup of 11 — NOT in corpus
    ).toDF("doc_id", "text")
    val m = Dedup.incrementalBandMatches(
      Dedup.minhashSignatures(corpus, "doc_id"),
      Dedup.minhashSignatures(batch, "doc_id"), "doc_id")
      .as[(Long, Long, Long)].collect().map { case (b, mn, _) => b -> mn }.toMap
    assert(m == Map(10L -> 1L)) // within-batch dups are the full pass's job
  }

  test("sliding min matches the window-function definition at the tail") {
    val df = Seq(Tuple1(Array(5L, 3L, 9L, 1L, 7L, 8L))).toDF("hv")
    val out = df.select(TextFns.slidingMin($"hv", 3).as("m"))
      .as[Seq[Long]].head()
    // forward windows of 3, truncated at the tail
    assert(out == Seq(3L, 1L, 1L, 1L, 7L, 8L))
  }

  test("cosine + top-k: orthogonal/parallel vectors rank correctly") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val sim = vecs.select(VectorFns.cosineR(
      array(lit(1f), lit(0f), lit(0f)).cast("array<float>"), $"embedding").as("s"), $"vec_id")
      .orderBy($"vec_id").select($"s").as[Double].collect()
    assert(sim(0) == 1.0 && sim(2) == 0.0 && sim(3) == -1.0)

    val topk = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 2)
    val ids = topk.orderBy($"rn").select($"id").as[Long].collect().toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("centroid assignment picks the nearest cell") {
    val corpus = Seq(
      (10L, Array(1f, 0.1f)), (11L, Array(0.1f, 1f)), (12L, Array(0.9f, 0.2f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val assigned = Similarity.assignToCentroids(corpus, centroids, "vec_id", "embedding")
    val m = assigned.select($"id", $"centroid_id").as[(Long, Long)].collect().toMap
    assert(m == Map(10L -> 0L, 11L -> 1L, 12L -> 0L))
  }

  test("text functions: token count, punct, stopwords, lang heuristic") {
    val df = Seq(Tuple1("the cat, and the dog! went to town.")).toDF("text")
    val r = df.select(
      TextFns.tokenCount($"text").as("nt"),
      TextFns.punctCount($"text").as("np"),
      TextFns.stopwordCount($"text").as("ns"),
      TextFns.langPredict($"text").as("lang")).head()
    assert(r.getAs[Int]("nt") == 8)
    assert(r.getAs[Int]("np") == 3)
    assert(r.getAs[Int]("ns") == 4) // the, and, the, to
    assert(r.getAs[String]("lang") == "en")
  }

  test("LSH-bucketed top-k: same-bucket neighbors found, signature deterministic") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val q = e.filter($"vec_id" < 3)
    val r1 = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3)
      .select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect().toSet
    val r2 = Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3)
      .select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect().toSet
    assert(r1 == r2 && r1.nonEmpty)
    // buckets partition the corpus: with 8 planes over random vectors
    // each bucket is much smaller than the corpus
    val bruteTop1 = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 1)
      .select($"q_id", $"id").as[(Long, Long)].collect().toMap
    val lshTop = r1.groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    // recall check (not exactness — LSH is approximate): at least one
    // query's true nearest neighbor lands in its bucket
    assert(lshTop.exists { case (qid, ids) => bruteTop1.get(qid).exists(ids.contains) })
  }

  test("LSH near-dup pairs find all planted copies that exact search finds") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = e.filter($"vec_id" < 10)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val corpus = e.union(planted)
    val exact = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.999)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.nearDupPairsLSH(corpus, "vec_id", "embedding", 0.999)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 10)
    // exact copies share every bucket, so LSH recall at 0.999 is total
    assert(lsh == exact)
  }

  test("deflate ratio separates repetitive from varied text; empty is neutral") {
    import graft.functions.TextFns
    val df = Seq(
      ("rep", "spam spam spam spam spam spam spam spam spam spam " * 20),
      ("var", (1 to 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")),
      ("empty", "")).toDF("id", "text")
      .select($"id", TextFns.deflateRatio($"text").as("r"))
    val r = df.as[(String, Double)].collect().toMap
    assert(r("rep") < 0.1, s"repetitive text should deflate hard: ${r("rep")}")
    assert(r("var") > r("rep") * 3, s"varied text should deflate less: ${r("var")}")
    assert(r("empty") == 1.0)
    // deterministic across evaluations (fixed deflate level)
    val again = Seq(("rep", "spam spam spam spam spam spam spam spam spam spam " * 20))
      .toDF("id", "text").select(TextFns.deflateRatio($"text")).as[Double].head()
    assert(again == r("rep"))
  }

  test("kmeans recovers three planted clusters with tight centroids") {
    // 3 well-separated groups of 10 vectors each in dim 4
    val base = Map(0 -> Array(10f, 0f, 0f, 0f), 1 -> Array(0f, 10f, 0f, 0f), 2 -> Array(0f, 0f, 10f, 0f))
    val vecs = (0 until 30).map { i =>
      val g = i % 3
      val jitter = (i / 3) * 0.01f
      (i.toLong, base(g).zipWithIndex.map { case (v, d) => v + (if (d == 3) jitter else 0f) })
    }
    val df = vecs.toDF("id", "vec")
    val fit = Similarity.kmeansFit(df, "id", "vec", k = 3, iters = 3)
      .as[(Long, Seq[Float], Long)].collect()
    assert(fit.length == 3)
    assert(fit.forall(_._3 == 10L)) // 10 members per cluster
    // each planted direction dominates exactly one centroid
    val doms = fit.map(_._2.zipWithIndex.maxBy(_._1)._2).sorted
    assert(doms.toSeq == Seq(0, 1, 2))
    assert(fit.forall(c => c._2.max > 9.9f))
  }

  test("curation API: stages compose, configs bite, eval docs are excluded") {
    import graft.curation.Curation
    val corpus = graft.Tables.t(spark, sf(), "documents").select($"doc_id", $"text")
    val default = Curation.curate(corpus, None).count()
    assert(default > 0)
    // a config no document can pass must gate everything out
    assert(Curation.curate(corpus, None,
      Curation.Config(minTokens = 1000000)).count() == 0)
    // eval docs themselves never survive decontamination
    val ev = corpus.filter($"doc_id" % 100 === 0)
    val decon = Curation.curate(corpus, Some(ev))
    assert(decon.join(ev, Seq("doc_id"), "left_semi").count() == 0)
    assert(decon.count() <= default)
    spark.sharedState.cacheManager.clearCache()
  }

  test("curation loan releases every internally pinned cache when the block exits") {
    import graft.curation.Curation
    import org.apache.spark.storage.StorageLevel
    val corpus = graft.Tables.t(spark, sf(), "documents").select($"doc_id", $"text")
    val ev = corpus.filter($"doc_id" % 100 === 0)
    val (n, released) = graft.util.CacheScope.loanCapturing {
      val curated = Curation.curate(corpus, Some(ev))
      val cnt = curated.count() // materialize inside the loan
      // the funnel really did pin its multi-branch frames
      assert(graft.util.CacheScope != null && cnt > 0)
      cnt
    }
    // afterExact + near-dup drops + the LSH signature frame
    assert(released.size >= 3)
    assert(released.forall(_.storageLevel == StorageLevel.NONE))

    // public loan surface: same funnel through withCurated
    val m = Curation.withCurated(corpus, None)(_.count())
    assert(m >= n)
  }

  test("a loan never releases a cache made outside it, even when an operator pins the same frame") {
    import org.apache.spark.storage.StorageLevel
    val corpus = graft.Tables.t(spark, sf(), "documents").select($"doc_id", $"text")
    val sig = Dedup.minhashSignatures(corpus, "doc_id").cache()
    try {
      val pairs = graft.util.CacheScope.loan(Dedup.lshCandidatePairs(sig, "doc_id").count())
      assert(pairs > 0)
      assert(sig.storageLevel != StorageLevel.NONE, "the loan dropped the caller's cache")
    } finally sig.unpersist()
  }

  test("leakage split: planted near-dups land on the same side as their originals") {
    val split = SparkEntry.queries("q_leakage_split")(spark, sf())
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    // every planted mutant (doc_id + 100000) clusters with its source
    // doc, so the pair must never straddle the train/val boundary
    val planted = split.keys.filter(_ >= 100000L)
    assert(planted.nonEmpty)
    planted.foreach(m => assert(split(m) == split(m - 100000L),
      s"near-dup pair (${m - 100000L}, $m) straddles the split"))
    // the split is a real partition, not degenerate
    assert(split.values.toSet == Set("train", "val"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("prefix-filtered jaccard equals the full inverted-index pair set at every threshold") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select($"doc_id", $"text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val full = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text")
        .filter($"jaccard" >= t)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      val pref = graft.dedup.Dedup.jaccardPairsPrefix(docs, "doc_id", "text", t)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
      assert(pref == full, s"prefix filter lost/invented pairs at threshold $t")
    }
    spark.sharedState.cacheManager.clearCache()
    // the prefix actually bites: at 0.8 a doc indexes ~ |d|/5 tokens
    val hand = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k z"), // 1-token edit → high jaccard
      (3L, "p q r s t u v w x y z2 z3")).toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.jaccardPairsPrefix(hand, "doc_id", "text", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("prefix filter's win condition: hot boilerplate shingles generate ZERO candidates") {
    // 60 docs sharing a 30-token boilerplate block + 12 unique tokens
    // each: pairwise jaccard ≈ 0.45 < 0.8, but every pair shares ~28
    // shingles — the full inverted-index self-join inspects thousands
    // of collision pairs that all fail the threshold, while the
    // rarest-first prefix (the docs' UNIQUE shingles) collides nowhere
    val boiler = (1 to 30).map(i => s"common$i").mkString(" ")
    val docs = (1L to 60L).map(i =>
      (i, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h u${i}i u${i}j u${i}k u${i}l"))
      .toDF("doc_id", "text")
    val (_, cand) = graft.dedup.Dedup.jaccardPrefixCandidates(docs, "doc_id", "text", 0.8)
    assert(cand.count() == 0, "hot-shingle corpus should produce no prefix candidates")
    // the full join's collision volume on the same corpus, for contrast
    val hv = docs.select($"doc_id", explode(array_distinct(
      graft.functions.TextFns.shingleHashes48(
        graft.functions.TextFns.tokens($"text"), 3))).as("hv"))
    val collisions = hv.as("x").join(hv.as("y"),
      $"x.hv" === $"y.hv" && $"x.doc_id" < $"y.doc_id").count()
    assert(collisions > 40000L, s"expected heavy collisions, got $collisions")
    // and the result is still exactly the (empty) threshold pair set
    assert(graft.dedup.Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 0.8).count() == 0)
    assert(graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text")
      .filter($"jaccard" >= 0.8).count() == 0)
    spark.sharedState.cacheManager.clearCache()
  }

  test("IVF probe search matches brute force within the probed cell; plan broadcasts") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val res = Similarity.ivfTopK(e.filter($"vec_id" < 3), e, e.filter($"vec_id" < 8),
      "vec_id", "embedding", 5)
    val rows = res.select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 <= 5))
    // each query's #1 hit within its own cell must be at least as
    // similar as any other of its results
    val byQ = rows.groupBy(_._1)
    assert(byQ.values.forall(rs => rs.map(_._2).sorted.sameElements(1 to rs.length)))
    // scale shape: centroids and queries are broadcast — no corpus shuffle join
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("IVF nprobe recovers a true neighbor hiding in the adjacent cell") {
    // geometry chosen so the query's nearest corpus vector lives in the
    // cell the query is NOT assigned to: centroids at 0° and 45°; the
    // query sits at 18° (cell c1), its true neighbor v at 35° (cell
    // c2), and a decoy u at -11° (cell c1, farther in angle than v)
    val centroids = Seq((1L, Array(1f, 0f)), (2L, Array(0.707f, 0.707f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, -0.2f)),     // u: -11.3° → cell c1
      (20L, Array(0.82f, 0.574f))) // v:  35.0° → cell c2
      .toDF("vec_id", "embedding")
    val query = Seq((100L, Array(0.95f, 0.31f))).toDF("vec_id", "embedding") // 18.1° → c1

    def top1(nprobe: Int): Long =
      Similarity.ivfTopK(query, corpus, centroids, "vec_id", "embedding",
          k = 1, nprobe = nprobe)
        .select($"id").as[Long].head()
    assert(top1(nprobe = 1) == 10L) // single probe sees only the decoy's cell
    assert(top1(nprobe = 2) == 20L) // multi-probe finds the true neighbor...
    val brute = Similarity.bruteForceTopK(query, corpus, "vec_id", "embedding", 1)
      .select($"id").as[Long].head()
    assert(brute == 20L)            // ...matching brute force
  }

  test("IVF over SQ8 codes: full probe equals the SQ8 brute force; partial probe stays in-cell") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = e.filter($"vec_id" < 3)
    val centroids = e.filter($"vec_id" < 8)
    // at nprobe = |cells| the probe scans every cell — the composed
    // ranking must equal sq8TopK exactly (same codes, same ordering)
    val full = Similarity.ivfSq8TopK(queries, e, centroids,
        "vec_id", "embedding", 5, nprobe = 8)
      .select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.sq8TopK(queries, e, "vec_id", "embedding", 5)
      .select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect().toSet
    assert(full == brute, "full-probe IVF-SQ8 diverged from the SQ8 brute force")
    // partial probe returns a subset of candidates, ranks contiguous
    val p1 = Similarity.ivfSq8TopK(queries, e, centroids,
        "vec_id", "embedding", 5, nprobe = 1)
      .select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect()
    assert(p1.nonEmpty && p1.groupBy(_._1).values.forall(rs =>
      rs.map(_._2).sorted.sameElements(1 to rs.length)))
    // scale shape: query/centroid side broadcast, corpus never shuffles
    val plan = Similarity.ivfSq8TopK(queries, e, centroids,
      "vec_id", "embedding", 5).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("sq8: codes bounded, extremes exact, scale-invariant, zero vector safe") {
    val vecs = Seq(
      (0L, Array(1f, -1f, 0.5f, 0f)),
      (1L, Array(100f, -100f, 50f, 0f)), // same direction, 100× magnitude
      (2L, Array(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val enc = Similarity.sq8Encode(vecs, "vec_id", "embedding")
      .orderBy($"vec_id")
      .select($"sq8_scale", $"sq8_codes").as[(Double, Seq[Byte])].collect()
    // max-abs dim hits ±127 exactly; half-scale dim rounds to 64
    assert(enc(0)._1 == 1.0 && enc(0)._2.toSeq == Seq[Byte](127, -127, 64, 0))
    // quantization is scale-invariant in the codes (only scale differs)
    assert(enc(1)._1 == 100.0 && enc(1)._2.toSeq == enc(0)._2.toSeq)
    // zero vector: scale 0, all-zero codes, no division blowup
    assert(enc(2)._1 == 0.0 && enc(2)._2.forall(_ == 0))
  }

  test("sq8 degenerate inputs: NaN vector → NULL (excluded), empty vector → scale 0") {
    val vecs = Seq(
      (0L, Array(1f, -0.5f)),
      (1L, Array(Float.NaN, 1f)), // any NaN element poisons the vector
      (2L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val enc = Similarity.sq8Encode(vecs, "vec_id", "embedding")
      .orderBy($"vec_id")
      .select($"sq8_scale", $"sq8_codes")
      .as[(Option[Double], Option[Seq[Byte]])].collect()
    assert(enc(0) == ((Some(1.0), Some(Seq[Byte](127, -63)))))
    // the documented contract: NaN vectors encode as NULL scale/codes
    // (Spark's floor(NaN) yields 0 where DuckDB propagates NaN — NULL
    // keeps the encoding engine-agnostic) ...
    assert(enc(1) == ((None, None)))
    // ... and an empty embedding is a zero vector, not a NULL
    assert(enc(2) == ((Some(0.0), Some(Seq.empty[Byte]))))

    // NaN vectors are excluded from BOTH sides of the quantized search:
    // corpus row 1 never appears among the neighbors (zero/empty
    // vectors stay OUT of search corpora — no direction, cosine
    // undefined — so the search set here is the two directional rows)
    val searchable = Seq(
      (0L, Array(1f, -0.5f)), (1L, Array(Float.NaN, 1f)), (3L, Array(0.2f, 1f)))
      .toDF("vec_id", "embedding")
    val hits = Similarity.sq8TopK(
        searchable.filter($"vec_id" === 0L), searchable, "vec_id", "embedding", 5)
      .select($"id").as[Long].collect().toSet
    assert(hits == Set(3L), s"NaN corpus row must not rank (got $hits)")
  }

  test("sq8 top-k equals FP32 exactly on a separated synthetic corpus") {
    // generation-independent rank agreement: committed vectors with
    // well-separated cosines (no 8-bit near-ties), so SQ8 and FP32
    // must agree on the FULL ranking, not just the neighbor set
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.42f, 0f)),   // ~25° from q
      (2L, Array(0.5f, 0.85f, 0.2f)), // ~60°
      (3L, Array(0f, 1f, 0.1f)),      // ~87°
      (4L, Array(-0.7f, 0.7f, 0.1f))) // ~135°
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 0L)
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      df.select($"rn", $"id").as[(Int, Long)].collect().toSeq.sorted
    assert(ranked(Similarity.sq8TopK(q, corpus, "vec_id", "embedding", 4)) ==
      ranked(Similarity.bruteForceTopK(q, corpus, "vec_id", "embedding", 4)))
  }

  test("sq8 top-k ranking matches FP32 brute force on real embeddings") {
    val e = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 3)
    def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select($"q_id", $"rn", $"id").as[(Long, Int, Long)].collect()
        .toSeq.sortBy(r => (r._1, r._2))
    val sq8 = ranked(Similarity.sq8TopK(q, e, "vec_id", "embedding", 5))
    val fp32 = ranked(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    assert(sq8.size == 15)
    // 8-bit rounding can swap near-ties, so agreement on REGENERATED
    // data is inherently statistical (the sf0.001 corpus is rebuilt per
    // driver round). Exact-rank agreement is pinned by the committed
    // synthetic-corpus test above; here assert only a loose set overlap
    // (majority of each top-5) that any plausible corpus satisfies.
    val sq8Sets = sq8.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val fpSets = fp32.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    sq8Sets.foreach { case (qid, s) =>
      assert((s & fpSets(qid)).size >= 3, s"query $qid top-5 overlap < 3")
    }
  }

  test("contaminationSpans: hand-computed longest runs, unmatched and full-match docs") {
    import graft.curation.Curation
    val train = Seq((100L, "a b c d e f g")).toDF("doc_id", "text")
    val eval = Seq(
      // 3-grams: abc✓ bcd✓ cdx✗ dxe✗ xef✗ efg✓ → runs {2, 1}:
      // longest 2 grams = 4 tokens ("a b c d")
      (1L, "a b c d x e f g"),
      // no gram in train → all-zero row, not a missing row
      (2L, "z z z z"),
      // verbatim copy: all 5 grams match → one run of 5 = 7 tokens
      (3L, "a b c d e f g"),
      // too short to gram (2 tokens < n=3) → NO row
      (4L, "a b")
    ).toDF("doc_id", "text")
    val out = Curation.contaminationSpans(train, eval, n = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 6L, 3L, 2L, 4L),
      (2L, 2L, 0L, 0L, 0L),
      (3L, 5L, 5L, 5L, 7L)))
  }

  test("round-16 operators: degenerate inputs (empty sides, undecodable payloads) are safe") {
    import graft.curation.Curation
    import graft.multimodal.{AudioPhash, ImagePhash}
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty eval set → every doc reports zero contamination
    assert(Curation.contaminationSpans(none, docs, n = 3)
      .select($"longest_span_tokens").as[Long].collect().toSeq == Seq(0L))
    assert(Curation.spanContamination(docs, none, n = 3)
      .select($"longest_span_tokens").as[Long].collect().toSeq == Seq(0L))
    // empty audited side → empty frame with the full schema
    assert(Curation.spanContamination(none, docs, n = 3).count() == 0)
    // undecodable payloads drop (not fake-hash); empty corpora pair to nothing
    val junk = spark.createDataset(Seq(
      ImagePhash.ImageRow(1L, Array[Byte](1, 2, 3)),
      ImagePhash.ImageRow(2L, Array.emptyByteArray)))
    assert(ImagePhash.phashes(junk).count() == 0)
    val junkWav = spark.createDataset(Seq(AudioPhash.AudioRow(1L, Array[Byte](9, 9))))
    assert(AudioPhash.ahashes(junkWav).count() == 0)
    assert(ImagePhash.nearDupPairs(
      ImagePhash.phashes(junk).toDF(), "media_id", "phash").count() == 0)
    // resolveDropTargets on an empty pair set → empty, not a crash
    val noPairs = Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "est_sim")
    assert(Dedup.resolveDropTargets(noPairs).count() == 0)
  }

  test("q_funnel_sweep: tighter gates keep monotonically fewer docs at both stages") {
    val out = SparkEntry.queries("q_funnel_sweep")(spark, sf())
      .orderBy($"min_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(10L, 20L, 40L))
    assert(out.map(_._2).distinct.size == 1) // one corpus
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 >= b._3 && a._4 >= b._4, s"sweep not monotone: $a -> $b")
    }
    // exact dedup can only remove docs from the quality survivors
    out.foreach(r => assert(r._4 <= r._3 && r._3 <= r._2))
  }

  test("resolveDropTargets: chain points direct at a dropped doc, resolved at the surviving keeper") {
    // A<B<C with pairs (A,B),(B,C) only: C's direct pointer is B —
    // itself dropped — while the resolved pointer is A, the component
    // minimum min-id-wins never drops
    val pairs = Seq((1L, 2L, 0.6), (2L, 3L, 0.6)).toDF("id_a", "id_b", "est_sim")
    val out = Dedup.resolveDropTargets(pairs).orderBy($"doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((2L, 1L, 1L, true), (3L, 2L, 1L, false)))
    // the resolved keeper is never itself a dropped doc
    val dropped = out.map(_._1).toSet
    assert(out.forall(r => !dropped.contains(r._3)))
  }

  test("q_ivf_tuning: scan cost and recall rise with nprobe; full probe equals brute force") {
    val out = SparkEntry.queries("q_ivf_tuning")(spark, sf())
      .orderBy($"nprobe")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 4L, 8L))
    assert(out.map(_._2).distinct.size == 1) // one ground truth
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._3, s"scan cost fell as nprobe rose: $a -> $b")
      assert(a._4 <= b._4, s"recall fell as nprobe rose: $a -> $b")
    }
    // probing every cell IS the brute force — recall endpoint exact
    assert(out.last._4 == out.last._2,
      s"nprobe=|cells| must equal brute force: ${out.last}")
  }

  test("spanContamination: corpus-side profile matches the hand case; unmatched docs emit zeros") {
    import graft.curation.Curation
    val evalDocs = Seq((100L, "a b c d e f g")).toDF("doc_id", "text")
    val corpus = Seq((1L, "a b c d x e f g"), (2L, "z z z z")).toDF("doc_id", "text")
    val out = Curation.spanContamination(corpus, evalDocs, n = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: abc✓ bcd✓ cdx✗ dxe✗ xef✗ efg✓ → longest 2 grams = 4 tokens
    assert(out == Seq((1L, 6L, 3L, 2L, 4L), (2L, 2L, 0L, 0L, 0L)))
  }

  test("q_lsh_tuning: candidate sets are nested, so counts fall monotonically in rows-per-band") {
    val out = SparkEntry.queries("q_lsh_tuning")(spark, sf())
      .orderBy($"rows_per_band")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 4L, 8L))
    assert(out.map(_._2) == Seq(16L, 8L, 4L, 2L))
    // one ground truth across all four layouts
    assert(out.map(_._3).distinct.size == 1)
    // an r=2k band collision implies both r=k half collisions →
    // candidates and found-truth both non-increasing as r doubles
    out.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 >= b._4, s"candidates rose: $a -> $b")
      assert(a._5 >= b._5, s"found-truth rose: $a -> $b")
    }
    // confusion-count sanity: found ≤ truth, found ≤ candidates
    out.foreach { r =>
      assert(r._5 <= r._3 && r._5 <= r._4, s"inconsistent counts: $r")
    }
    // the planted near-dups make the sweep non-degenerate at r=1
    assert(out.head._5 > 0, "r=1 found no planted true pair")
  }

  test("mutualNearestPairs: hub vectors filtered, mutual twins kept, candidate path agrees") {
    import graft.sim.Similarity
    // 2-D layout: 1=(1,0) and 2=(0.995,0.1)-ish are each other's NN;
    // 3=(0,1) and 4=(0.1,0.995)-ish likewise; 5=(0.7,0.7) sits between
    // the two clusters — its NN is 2, but 2's NN is 1, so the hub 5
    // joins NO pair. Exactly two mutual pairs come out.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.995f, 0.0999f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.0999f, 0.995f)),
      (5L, Array(0.74f, 0.6726f))).toDF("vec_id", "embedding")
    val pairs = Similarity.mutualNearestPairs(vecs, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), pairs.toString)
    // partition invariance
    val pairs2 = Similarity.mutualNearestPairs(vecs.repartition(4),
      "vec_id", "embedding").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == pairs)
    // a candidate frame missing 5's edges changes nothing for the
    // mutual pairs the generator recalls (ANN-mutual contract)
    val c = vecs.select($"vec_id".as("id"), $"embedding".as("vec"))
    val cand = c.as("a").join(c.as("b"),
        $"a.id" =!= $"b.id" && $"a.id" =!= 5L && $"b.id" =!= 5L)
      .select($"a.id".as("q_id"), $"b.id".as("id"),
        graft.functions.VectorFns.cosineR($"a.vec", $"b.vec").as("sim"))
    val pairs3 = Similarity.mutualNearestPairs(vecs, "vec_id", "embedding",
        candidates = Some(cand))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs3 == pairs)
  }

  test("semanticDedup: within-cell min-id drops, chains drop all followers, cross-cell twins survive, NaN excluded") {
    val spark2 = spark; import spark2.implicits._
    val cents = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f))).toDF("id", "vec")
    val corpus = Seq(
      1L -> Array(0.90f, 0.10f, 0f),  // x-cell original
      2L -> Array(0.90f, 0.10f, 0f),  // verbatim twin → drops for 1
      3L -> Array(0.90f, 0.10f, 0f),  // chain: also drops, for 1 (min), not 2
      4L -> Array(0.10f, 0.90f, 0f),  // y-cell, unique → keeps
      // boundary near-twins SPLIT across cells: the recall trade the
      // recipe makes — cross-cell pairs are never compared
      5L -> Array(0.72f, 0.69f, 0f),  // assigns x
      6L -> Array(0.69f, 0.72f, 0f),  // assigns y → both keep
      9L -> Array(Float.NaN, 0f, 0f)  // NaN → excluded outright
    ).toDF("id", "vec")
    val out = graft.sim.Similarity.semanticDedup(corpus, cents, "id", "vec", 0.99)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), out.toString)
    assert(out(1L) == ((0L, true, -1L)))
    assert(out(2L) == ((0L, false, 1L)))
    assert(out(3L) == ((0L, false, 1L)), "chain follower must point at the MIN, not its neighbor")
    assert(out(4L) == ((1L, true, -1L)))
    assert(out(5L)._2 && out(6L)._2, "cross-cell near-twins must both survive")
    assert(out(5L)._1 == 0L && out(6L)._1 == 1L)
  }

  test("hardNegatives excludes the near-dup band, keeps the most-similar below the ceiling") {
    // id 2 is an exact twin of the query (cosine 1.0 ≥ ceiling —
    // presumed positive, excluded); 3 is the informative negative at
    // ~0.9; 4 orthogonal; 5 antipodal. k=2 keeps [3, 4] in that order.
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f)),
      (3L, Array(0.9f, 0.4358899f, 0f)),
      (4L, Array(0f, 1f, 0f)),
      (5L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val hn = Similarity.hardNegatives(vecs.filter($"vec_id" === 1), vecs,
        "vec_id", "embedding", k = 2, ceiling = 0.99)
      .select($"rn", $"id").as[(Int, Long)].collect().toList.sortBy(_._1)
    assert(hn == List((1, 3L), (2, 4L)), hn.toString)
    // a LOWER ceiling tightens the band: at 0.5 the 0.9 neighbor is
    // also presumed-positive and the orthogonal one leads
    val tight = Similarity.hardNegatives(vecs.filter($"vec_id" === 1), vecs,
        "vec_id", "embedding", k = 2, ceiling = 0.5)
      .select($"rn", $"id").as[(Int, Long)].collect().toList.sortBy(_._1)
    assert(tight == List((1, 4L), (2, 5L)), tight.toString)
    // a non-cosine ceiling refuses loudly
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(vecs, vecs, "vec_id", "embedding", 1, 1.5)
    }
  }
}
