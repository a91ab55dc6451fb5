package graft

import java.nio.file.Files

import graft.catalog.RunCatalog
import graft.merge.MergeWriter
import graft.operators.Salting
import graft.streaming.StreamingPipeline
import graft.util.SparkMeter

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("file arrival drives catalog-tracked micro-batch runs into the merge target") {
    val work = Files.createTempDirectory("graft_spipe").toString
    val watch = Files.createTempDirectory("graft_watch")
    val cat = new RunCatalog(spark, s"$work/catalog")
    val pipe = new StreamingPipeline(spark, cat, work)

    Files.writeString(watch.resolve("a.csv"),
      "order_id,customer_id,amount,order_date\nS-1,C1,25,2024-01-01\nS-2,C2,250,2024-01-02\n")
    val q1 = pipe.start(watch.toString, availableNow = true)
    q1.awaitTermination(120000)

    val target1 = MergeWriter.readTarget(spark, s"$work/target_orders").get
    assert(target1.count() == 2)
    assert(cat.listRuns(status = Some("Success")).count() == 1)

    // second file arrives: S-2 updated, S-3 inserted — new micro-batch run
    Files.writeString(watch.resolve("b.csv"),
      "order_id,customer_id,amount,order_date\nS-2,C2X,10,2024-01-03\nS-3,C3,75,2024-01-04\n")
    val q2 = pipe.start(watch.toString, availableNow = true)
    q2.awaitTermination(120000)

    val target2 = MergeWriter.readTarget(spark, s"$work/target_orders").get
    assert(target2.count() == 3)
    val s2 = target2.filter($"order_id" === "S-2")
      .select($"customer_id", $"amount_category").as[(String, String)].head()
    assert(s2 == ("C2X", "Low"))
    assert(cat.listRuns(status = Some("Success")).count() == 2)
  }

  test("micro-batch fuses all stages into one action (counts ride on Observations)") {
    val work = Files.createTempDirectory("graft_spipe1").toString
    val cat = new RunCatalog(spark, s"$work/catalog")
    val pipe = new StreamingPipeline(spark, cat, work)
    val batch = Seq(
      ("S-1", "C1", "25", "2024-01-01"),
      ("S-2", "C2", "250", "2024-01-02"),
      ("S-3", "C3", "-5", "2024-01-03")) // rejected in Transform
      .toDF("order_id", "customer_id", "amount", "order_date")

    val jobs = SparkMeter.measure(spark)(pipe.processBatch(batch, 0L))._2.jobs.size

    // isEmpty + the merge's bucket-discovery pass (materializes the
    // update chain into cache; AQE splits its shuffle) + the bucket
    // write (reads the cache). ONE scan of the stage chain in total —
    // the pre-fusion shape ran three extra per-stage count actions
    // (8+ jobs) on top.
    assert(jobs <= 6, s"expected a fused single-scan batch, saw $jobs jobs")

    val target = MergeWriter.readTarget(spark, s"$work/target_orders").get
    assert(target.count() == 2)
    val stepRows = cat.steps(cat.listRuns().select($"run_id").as[String].head())
      .select($"step_number", $"rows_affected").as[(Int, Long)].collect().toMap
    assert(stepRows == Map(1 -> 3L, 2 -> 3L, 3 -> 2L, 4 -> 2L))
  }

  test("salted join and salted aggregate match their unsalted equivalents") {
    // heavy skew: 90% of rows share one key
    val skewed = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toDouble))
      .toDF("k", "v")
    val dim = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("k", "name")

    val salted = Salting.saltedJoin(skewed, dim, "k", saltFactor = 8)
      .groupBy($"k", $"name").count().as[(Long, String, Long)].collect().toSet
    val plain = skewed.join(dim, Seq("k"))
      .groupBy($"k", $"name").count().as[(Long, String, Long)].collect().toSet
    assert(salted == plain && plain.nonEmpty)

    val aggS = Salting.saltedCountSum(skewed, "k", "v", 8)
      .as[(Long, Long, Double)].collect().map { case (k, n, s) => k -> ((n, s)) }.toMap
    val aggP = skewed.groupBy($"k")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum($"v"))
      .as[(Long, Long, Double)].collect().map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(aggS.keySet == aggP.keySet)
    aggS.foreach { case (k, (n, s)) =>
      assert(n == aggP(k)._1 && math.abs(s - aggP(k)._2) < 1e-6)
    }
  }
}
