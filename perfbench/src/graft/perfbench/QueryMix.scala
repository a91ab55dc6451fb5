package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.util.CacheScope

/** `query_mix`: one client runs a closed loop of whole passes over the
  * query set in a seed-permuted order, until the run's time is up and at
  * least [[MinPasses]] passes are done, on generated tables. Every
  * execution runs inside `CacheScope.loan` and is forced with
  * `queryExecution.toRdd.count()`, as `graft.Bench` does.
  *
  * Output checks: the untimed warm-up pass computes each query's row
  * count and order-independent hash, which must equal the pinned values;
  * every timed execution's row count must equal the pinned count.
  */
object QueryMix {
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg", "q_window_rownum"),
    "graph" -> Seq("q_pagerank"),
    "text" -> Seq("q_minhash_lsh_pairs"),
    "merge" -> Seq("q_merge_sql"))
  val Names: Seq[String] = Families.flatMap(_._2)
  /** Timed passes at least, however short the window or slow the host. */
  val MinPasses = 1

  /** Scale factor of the generated tables, and the tables the set reads. */
  val Sf = 0.01
  val Tables = Set("lineitem", "orders", "events", "documents")

  /** Order-independent content hash of a result: per-row xxhash64 of the
    * columns (doubles rounded to 6 places, nested values as JSON), summed
    * modulo a prime. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _: ArrayType | _: StructType | _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tables = s"${ctx.work}/tables"
    val failures = Seq.newBuilder[String]
    val computed = Seq.newBuilder[(String, String)]

    val (_, genS) = ctx.spans.time("setup.generate", "setup")(Gen.tables(spark, tables, Sf, Tables))
    val (_, warmS) = ctx.spans.time("setup.warmup", "setup") {
      Names.foreach { q =>
        val (rows, hash) = CacheScope.loan(contentHash(SparkEntry.queries(q)(spark, tables)))
        computed += q -> s"$rows:$hash"
        ctx.pins.check("query_mix", q, s"$rows:$hash").foreach(failures += _)
      }
    }
    def pinnedRows(q: String): Option[Long] = ctx.pins.get("query_mix", q).map(_.split(":")(0).toLong)

    val order = new scala.util.Random(ctx.seed).shuffle(Names)
    val times = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    val perQuery = scala.collection.mutable.Map[String, Vector[(Long, Long, Double, Double)]]()
      .withDefaultValue(Vector.empty)
    var attempted = 0L
    var passes = 0
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    // whole passes only, so every query has the same number of samples;
    // more than MinPasses while the window lasts and the run is within
    // its time budget
    while (passes < MinPasses || (!ctx.overBudget && elapsedS < ctx.seconds)) {
      order.foreach { q =>
        val before = ctx.meter.map(_.snapshot().map(_.id).toSet)
        val (rows, dt) = ctx.spans.time(s"query.$q", "query_mix") {
          scala.util.Try(CacheScope.loan(SparkEntry.queries(q)(spark, tables).queryExecution.toRdd.count()))
        }
        rows match {
          case scala.util.Success(n) if pinnedRows(q).forall(_ == n) => ()
          case scala.util.Success(n) => failures += s"execution $attempted $q: $n rows, pinned ${pinnedRows(q)}"
          case scala.util.Failure(e) => failures += s"execution $attempted $q threw: $e"
        }
        attempted += 1
        times(q) = times(q) :+ dt
        ctx.meter.foreach { m =>
          val js = m.snapshot().filterNot(j => before.get.contains(j.id))
          js.foreach(j => ctx.spans.add(s"job-${j.id}", j.submitMs.toDouble, j.endMs.toDouble, s"query.$q"))
          perQuery(q) = perQuery(q) :+ JobMeter.totals(js)
        }
      }
      passes += 1
    }
    val wallS = elapsedS
    val med = Names.map(q => q -> Stats.median(times(q))).toMap
    val familyS = Families.map { case (f, qs) => s"query.${f}_s" -> qs.map(med).sum }
    val layers =
      if (!ctx.traced) Nil
      else {
        val runS = perQuery.values.flatten.map(_._4).sum
        familyS ++ Names.flatMap { q =>
          val xs = perQuery(q)
          Seq(s"query.$q.s" -> med(q),
            s"query.$q.jobs" -> Stats.median(xs.map(_._1.toDouble)),
            s"query.$q.shuffle_rows" -> Stats.median(xs.map(_._2.toDouble)),
            s"query.$q.executor_cpu_s" -> Stats.median(xs.map(_._3)))
        } :+ ("spark.driver_gap_frac" -> (1.0 - runS / (wallS * ctx.cores)))
      }
    Outcome(
      setupS = genS + warmS,
      opS = med.values.sum,
      workPerS = Names.size / med.values.sum,
      attempted = attempted + Names.size,
      failures = failures.result(),
      detail = familyS ++ Seq("info.passes" -> passes.toDouble, "info.setup_generate_s" -> genS,
        "info.setup_warmup_s" -> warmS),
      layers = layers,
      computed = computed.result())
  }
}
