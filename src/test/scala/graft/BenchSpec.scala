package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.util.{Fs, Json}

/** The bench's one tier runner at sf0.001: a query that throws is
  * reported as failed (never timed), the JSON keeps its key order, and
  * a scale fixture missing a table fails only the queries that read it.
  */
class BenchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def keys(node: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    node.fieldNames().asScala.toSeq

  test("runTier: a query that throws reports -1 and null passes, and total leaves it out") {
    val lookup: Bench.Lookup = {
      case "q_throws" => (_, _) => throw new IllegalStateException("planted failure")
      case n => SparkEntry.queries(n)
    }
    val names = Seq("q1_agg", "q_topn", "q_throws")
    val tier = Bench.runTier(spark, sf(), names, lookup = lookup)
    val times = tier.times.toMap
    assert(times("q_throws") == -1.0)
    assert(times("q1_agg") > 0 && times("q_topn") > 0)
    assert(tier.total == times("q1_agg") + times("q_topn"))

    val json = mapper.readTree(Bench.headlineJson(tier, Seq("sf" -> Json.str(sf()))))
    assert(keys(json) == Seq("metric", "value", "unit", "queries", "passes",
      "sentinel", "suspect", "shuffle", "sf"))
    assert(json.get("value").asDouble == tier.total)
    assert(keys(json.get("queries")) == names && json.get("queries").get("q_throws").asDouble == -1.0)
    val thrown = json.get("passes").get("q_throws")
    assert(thrown.size >= 2 && thrown.elements.asScala.forall(_.isNull))
    assert(json.get("passes").get("q1_agg").elements.asScala.forall(_.isDouble))
    assert(keys(json.get("sentinel")) == Seq("every", "times", "median", "steady", "tier_contaminated"))
    assert(json.get("sentinel").get("times").elements.asScala.forall(_.isDouble))
    assert(json.get("suspect").isArray)
    assert(keys(json.get("shuffle")) == names)
    assert(keys(json.get("shuffle").get("q_topn")) == Seq("w_rows", "w_bytes", "r_rows", "r_bytes"))
  }

  test("a sentinel probe that throws is null in times, out of the median, and contaminates the tier") {
    val lookup: Bench.Lookup = {
      case "q1_agg" => (_, _) => throw new IllegalStateException("planted sentinel failure")
      case n => SparkEntry.queries(n)
    }
    val tier = Bench.runTier(spark, sf(), Seq("q_topn"), lookup = lookup)
    assert(tier.times.toMap.apply("q_topn") > 0)
    assert(tier.sentinel.median == 0.0)
    assert(tier.sentinel.tierContaminated)
    val sentinel = mapper.readTree(tier.sentinel.json)
    assert(keys(sentinel) == Seq("every", "times", "median", "steady", "tier_contaminated"))
    assert(sentinel.get("times").size > 0 && sentinel.get("times").elements.asScala.forall(_.isNull))
    assert(sentinel.get("median").asDouble == 0.0)
    assert(sentinel.get("tier_contaminated").asBoolean)
    assert(tier.suspect == Seq("q_topn"))
  }

  test("scale tier on a fixture without embeddings fails only the queries that read it") {
    val fixture = Files.createTempDirectory("graft_bench_fixture")
    val scaled = Files.createTempDirectory("graft_bench_scaled")
    try {
      val ls = Files.list(Paths.get(sf()))
      try ls.iterator().asScala.filter(_.getFileName.toString != "embeddings.parquet")
        .foreach(p => Files.copy(p, fixture.resolve(p.getFileName)))
      finally ls.close()
      val names = Seq("q1_agg", "q_retrieval_metrics")
      val tier = Bench.scaleTier(spark, fixture.toString, scaled.toString, 1, names)
      val times = tier.times.toMap
      assert(times("q1_agg") > 0)
      assert(times("q_retrieval_metrics") == -1.0)
      val json = mapper.readTree(Bench.scaleJson(1, tier))
      assert(keys(json) == Seq("copies") ++ names ++ Seq("passes", "sentinel", "suspect", "shuffle"))
      assert(json.get("copies").asInt == 1 && json.get("q_retrieval_metrics").asDouble == -1.0)
    } finally {
      Fs.deleteRecursively(fixture)
      Fs.deleteRecursively(scaled)
    }
  }
}
