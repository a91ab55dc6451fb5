package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFns

/** The native one-pass expressions replaced compositional plans
  * (explode + groupBy / posexplode + window) whose values the DuckDB
  * oracles check at fixed corpora. These properties pin the
  * equivalence on randomized inputs, so a refactor of either side
  * can't drift silently between oracle runs.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private def randomDocs(n: Int, seed: Long): Seq[(Long, String)] = {
    val word = Gen.oneOf("the", "a", "fox", "dog", "runs", "x1", "y2", "z3", "", "über")
    val doc = Gen.choose(0, 12).flatMap(len => Gen.listOfN(len, word).map(_.mkString(" ")))
    (1 to n).map { i =>
      (i.toLong, doc.apply(Gen.Parameters.default, Seed(seed + i)).getOrElse(""))
    }
  }

  test("minhash signature: native one-pass == explode + groupBy aggregation") {
    val df = randomDocs(60, 1000L).toDF("doc_id", "text")
    val native = graft.dedup.Dedup.minhashSignatures(df, "doc_id")

    val exploded = df
      .select($"doc_id", explode(TextFns.shingleHashes32(TextFns.tokens($"text"), 3)).as("hv"))
    val aggs = (0 until 16).map { i =>
      val (a, b) = graft.dedup.Dedup.perm(i)
      min(($"hv" * a + b) % graft.dedup.Dedup.MinhashP).as(f"mh$i%02d")
    }
    val composed = exploded.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)

    assert(native.orderBy($"doc_id").collect().toSeq ==
      composed.orderBy($"doc_id").collect().toSeq)
  }

  test("simhash: native one-pass == explode + 48-conditional-sum aggregation") {
    val df = randomDocs(60, 2000L).toDF("doc_id", "text")
    val native = graft.dedup.Dedup.simhash48(df, "doc_id", "text")

    val tok = df.select($"doc_id", explode(TextFns.tokens($"text")).as("w"))
      .withColumn("hv", TextFns.hash48($"w"))
    val votes = (0 until 48).map { b =>
      sum(when(shiftright($"hv", b) % 2 === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val composed = tok.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
      .select($"doc_id",
        (0 until 48).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash48"))

    assert(native.orderBy($"doc_id").collect().toSeq ==
      composed.orderBy($"doc_id").collect().toSeq)
  }

  test("sliding min: native == posexplode + forward-window min") {
    val df = randomDocs(60, 3000L).toDF("doc_id", "text")
    val native = df
      .select($"doc_id", TextFns.tokens($"text").as("tk"))
      .select($"doc_id", explode(array_distinct(
        TextFns.slidingMin(TextFns.shingleHashes48($"tk", 3), 8))).as("fingerprint"))

    val w = Window.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, 7)
    val composed = df
      .select($"doc_id", TextFns.tokens($"text").as("tk"))
      .select($"doc_id", posexplode(TextFns.shingleHashes48($"tk", 3)).as(Seq("pos", "hv")))
      .withColumn("wmin", min($"hv").over(w))
      .select($"doc_id", $"wmin".as("fingerprint"))
      .distinct()

    assert(native.orderBy($"doc_id", $"fingerprint").collect().toSeq ==
      composed.orderBy($"doc_id", $"fingerprint").collect().toSeq)
  }
}
