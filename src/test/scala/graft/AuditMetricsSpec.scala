package graft

import org.apache.spark.sql.functions._

import graft.classify.TextClassify
import graft.curation.Curation

/** Contracts of the round-18 audit-metric closers: interval-union
  * span coverage (overlap merging, adjacency merging, zero-coalesce),
  * and the selective risk–coverage table (band partitioning, exact
  * agreement with the top-1 scorer, partition invariance). The
  * corpus-scale happy paths are oracle-checked (q_span_coverage,
  * q_kappa_gates, q_selective_risk).
  */
class AuditMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("spanUnionCoverage: overlapping spans merge, gaps split islands") {
    val evalDocs = Seq(
      (100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (101L, "u1 u2 u3 u4 u5 u6") // no gram shared with train
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "z1 w1 w2 w3 w4 z2 w9 w10 w11")
    ).toDF("doc_id", "text")
    val out = Curation.spanUnionCoverage(train, evalDocs, n = 3)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // doc 100: grams at pos 0 ("w1 w2 w3"), 1 ("w2 w3 w4") overlap →
    // one island covering tokens [0,3] = 4; gram at pos 8 ("w9 w10
    // w11") is its own island of 3 → covered 7 of 12 tokens
    assert(out(0) == ((100L, 12L, 10L, 3L, 7L, 2L, 7L * 1000000L / 12L)))
    // doc 101: gram-bearing but unmatched → zero-coalesced audit row
    assert(out(1) == ((101L, 6L, 4L, 0L, 0L, 0L, 0L)))
  }

  test("spanUnionCoverage: touching spans (pos == prev_end + 1) merge") {
    val evalDocs = Seq((7L, "a b c d e f")).toDF("doc_id", "text")
    // train carries "a b c" (covers [0,2]) and "d e f" (covers [3,5]):
    // adjacent, no gap → ONE contiguous region of 6
    val train = Seq((1L, "a b c x d e f")).toDF("doc_id", "text")
    val r = Curation.spanUnionCoverage(train, evalDocs, n = 3).collect().head
    assert(r.getAs[Long]("covered_tokens") == 6L)
    assert(r.getAs[Long]("n_islands") == 1L)
    assert(r.getAs[Long]("coverage_ppm") == 1000000L)
  }

  test("selectiveRiskCoverage: bands partition the corpus, totals match top-1 scorer") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val out = TextClassify.selectiveRiskCoverage(docs, labelCol = "lang")
      .orderBy($"band").collect()
    assert(out.map(_.getAs[Long]("band")).toSeq == (1L to 10L))
    val nDocs = out.map(_.getAs[Long]("n_docs"))
    // equal coverage bands: sizes differ by at most one
    assert(nDocs.max - nDocs.min <= 1)
    // cumulative columns are exact prefix sums of the per-band columns
    assert(out.map(_.getAs[Long]("cum_docs")).toSeq == nDocs.scanLeft(0L)(_ + _).tail.toSeq)
    val scored = TextClassify.naiveBayesScore(docs, labelCol = "lang")
    val total = scored.count()
    val correct = scored.filter($"pred_label" === $"lang").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    assert(out.map(_.getAs[Long]("n_correct")).sum == correct)
  }

  test("selectiveRiskCoverage is invariant to input partitioning") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val a = TextClassify.selectiveRiskCoverage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = TextClassify.selectiveRiskCoverage(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("q_kappa_gates cells partition every source's docs") {
    val out = SparkEntry.queries("q_kappa_gates")(spark, sf())
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, n11, n10, n01, n00) = (r.getAs[Long]("n"), r.getAs[Long]("n11"),
        r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"))
      assert(n11 + n10 + n01 + n00 == n)
      assert(r.getAs[Long]("po_ppm") == (n11 + n00) * 1000000L / n)
    }
  }
}
