package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic inputs for the benchmark.
  *
  * [[tables]] writes the star-schema + events + documents + embeddings
  * tables the query catalog reads, shaped like the repo's testdata (same
  * columns, types and cardinalities per scale factor). Every value is a
  * hash of the row id and a per-column salt, so the same `sf` always
  * yields byte-identical tables, whatever the partitioning.
  */
object Gen {

  /** Uniform [0, 1) from (id, salt). */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000003L)).cast("double") / 1000003.0

  /** Uniform integer in [0, n). */
  private def ui(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (ui(id, salt, values.size.toLong) + 1).cast("int"))

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")

  /** `nWords` words drawn from [[Vocab]], keyed by (`id`, `salt`). */
  def text(id: Column, salt: Int, nWords: Column): Column =
    array_join(transform(sequence(lit(1), nWords.cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(id, i, lit(salt)), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")

  /** Writes the tables named in `names` (all of them by default). */
  def tables(spark: SparkSession, dir: String, sf: Double, names: Set[String] = Set.empty): Unit = {
    def write(df: => DataFrame, name: String): Unit =
      if (names.isEmpty || names(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    all(spark, sf, write)
  }

  /** 1992-01-01 UTC plus `n` whole days. */
  private def days(n: Column): Column = timestamp_seconds(lit(694224000L) + n * 86400L)

  private def all(spark: SparkSession, sf: Double, write: (=> DataFrame, String) => Unit): Unit = {
    val nOrders = math.max(1500L, (150000 * sf).toLong)
    val nCust = math.max(150L, (150000 * sf).toLong)
    val nPart = math.max(200L, (200000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nEvents = math.max(1000L, (1000000 * sf).toLong)
    val nUsers = math.max(15L, (15000 * sf).toLong)
    val nDocs = math.max(500L, (50000 * sf).toLong)
    val nVecs = math.max(500L, (20000 * sf).toLong)
    val id = col("id")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")), "nation")
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10998.99 - 999.99, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "customer")
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(id, 4, 25).cast("int").as("s_nationkey"),
      round(u(id, 5) * 10998.99 - 999.99, 2).as("s_acctbal")), "supplier")
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 6, Seq("small", "large", "red", "blue", "green", "shiny", "matte")),
        pick(id, 7, Seq("ring", "widget", "bolt", "gear", "valve", "panel"))).as("p_name"),
      concat(lit("Brand#"), (ui(id, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")).as("p_type"),
      (ui(id, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(2000L)).cast("double") / 10.0, 2).as("p_retailprice")),
      "part")
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      ui(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, 13) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      days(ui(id, 14, 2400)).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "orders")
    val lines = spark.range(nOrders)
      .select(id.as("l_orderkey"), explode(sequence(lit(1), (ui(id, 16, 7) + 1).cast("int"))).as("l_linenumber"))
    val lk = xxhash64(col("l_orderkey"), col("l_linenumber"))
    write(lines.select(col("l_orderkey"),
      ui(lk, 17, nPart).as("l_partkey"),
      ui(lk, 18, nSupp).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      (ui(lk, 19, 50) + 1).cast("double").as("l_quantity"),
      round(u(lk, 20) * 99000.0 + 900.0, 2).as("l_extendedprice"),
      (ui(lk, 21, 11).cast("double") / 100.0).as("l_discount"),
      (ui(lk, 22, 9).cast("double") / 100.0).as("l_tax"),
      pick(lk, 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(lk, 24, Seq("F", "O")).as("l_linestatus"),
      days(ui(lk, 25, 3650)).as("l_shipdate")),
      "lineitem")
    // events arrive in time order: ts grows with event_id by a random gap
    val gapMs = (u(id, 26) * 520000.0).cast("long")
    write(spark.range(nEvents).select(id.as("event_id"),
      timestamp_millis(lit(1704067200000L) + id * 259000L + gapMs).as("ts"),
      ui(id, 27, nUsers).as("user_id"),
      pick(id, 28, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      greatest(lit(0.01), round(-log(lit(1.0) - u(id, 29)) * 50.0, 2)).as("value"),
      format_string("{\"k\": %d}", ui(id, 30, 100)).as("props")), "events")
    write(spark.range(nDocs).select(id.as("doc_id"),
      text(id, 31, ui(id, 32, 90) + 10).as("text"))
      .select(col("doc_id"), col("text"),
        pick(col("doc_id"), 33, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")
    write(spark.range(nVecs).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(xxhash64(id, i, lit(34)), lit(1000003L)).cast("double") / 1000003.0 - 0.5) / 2.0)
          .cast("float")).as("embedding"),
      ui(id, 35, 10).cast("int").as("label")), "embeddings")
  }
}
