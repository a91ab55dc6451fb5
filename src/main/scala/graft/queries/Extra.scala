package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.{decSum, decSumSql, t}

/** Coverage-completing queries: the remaining testdata tables
  * (part, supplier, region), scalar string/date function surface, and
  * aggregate-join shapes (above-average filter, median).
  */
object Extra {

  val all: Seq[Query] = Seq(

    // UNPIVOT (wide → long): the four lineitem measures melted into
    // (metric, value) rows, then aggregated per metric. Spark's
    // Unpivot node is a map-side Expand — no shuffle before the
    // per-metric aggregation; the oracle mirrors it as UNION ALL.
    q("q_unpivot")(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
            $"l_discount", $"l_tax")
          .unpivot(Array($"l_orderkey"),
            Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
            "metric", "value")
          .groupBy($"metric")
          .agg(count(lit(1)).as("cnt"), decSum($"value").as("total"))
          .orderBy($"metric")
      },
      s"""WITH u AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT metric, COUNT(*) AS cnt, ${decSumSql("value")} AS total
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin),

    // lineitem ⋈ part ⋈ supplier — broadcast both dims.
    q("q_part_supplier")(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")), $"l_partkey" === $"p_partkey")
          .join(broadcast(t(s, d, "supplier")), $"l_suppkey" === $"s_suppkey")
          .groupBy($"p_brand")
          .agg(count(lit(1)).as("n_items"),
            decSum($"l_extendedprice").as("total_price"),
            countDistinct($"s_suppkey").as("n_suppliers"))
          .orderBy($"p_brand")
      },
      s"""SELECT p_brand, COUNT(*) AS n_items, ${decSumSql("l_extendedprice")} AS total_price,
         |COUNT(DISTINCT s_suppkey) AS n_suppliers
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // region ⋈ nation ⋈ customer — the full dimension chain.
    q("q_region_rollup")(
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(count(lit(1)).as("n_customers"),
            countDistinct($"n_nationkey").as("n_nations"),
            decSum($"c_acctbal").as("total_balance"))
          .orderBy($"r_name")
      },
      s"""SELECT r_name, COUNT(*) AS n_customers, COUNT(DISTINCT n_nationkey) AS n_nations,
         |${decSumSql("c_acctbal")} AS total_balance
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin),

    // scalar string functions over part.
    q("q_string_funcs")(
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .select(
            $"p_partkey",
            upper($"p_name").as("name_upper"),
            substring($"p_type", 1, 5).as("type_prefix"),
            length($"p_name").as("name_len"),
            regexp_replace($"p_name", "a", "@").as("name_subst"),
            lpad($"p_brand", 12, "_").as("brand_padded"),
            concat_ws("|", $"p_brand", $"p_type").as("brand_type"))
          .orderBy($"p_partkey")
      },
      """SELECT p_partkey, upper(p_name) AS name_upper, substr(p_type, 1, 5) AS type_prefix,
        |length(p_name) AS name_len, regexp_replace(p_name, 'a', '@', 'g') AS name_subst,
        |lpad(p_brand, 12, '_') AS brand_padded, concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin),

    // scalar date/time functions over orders.
    q("q_date_funcs")(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .select(
            $"o_orderkey",
            year($"o_orderdate").as("y"),
            month($"o_orderdate").as("m"),
            dayofmonth($"o_orderdate").as("dom"),
            quarter($"o_orderdate").as("q"),
            date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
            datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date")).as("days_to_2002"))
          .orderBy($"o_orderkey")
      },
      """SELECT o_orderkey, CAST(date_part('year', o_orderdate) AS INT) AS y,
        |CAST(date_part('month', o_orderdate) AS INT) AS m,
        |CAST(date_part('day', o_orderdate) AS INT) AS dom,
        |CAST(date_part('quarter', o_orderdate) AS INT) AS q,
        |CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |CAST(DATE '2002-01-01' - CAST(o_orderdate AS DATE) AS INT) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // orders above their customer's average — aggregate-then-join
    // (the decorrelated form of a correlated scalar subquery).
    q("q_above_avg")(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val avgs = o.groupBy($"o_custkey".as("k"))
          .agg((decSum($"o_totalprice") / count(lit(1))).as("avg_price"))
        o.join(avgs, $"o_custkey" === $"k")
          .filter($"o_totalprice" > $"avg_price")
          // raw double avg: both engines divide the identical exact-decimal
          // sum by the identical count — bit-equal without rounding
          // (round() would diverge on .xxxx5 ties)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"avg_price")
          .orderBy($"o_orderkey")
      },
      s"""WITH avgs AS (SELECT o_custkey AS k, ${decSumSql("o_totalprice")} / COUNT(*) AS avg_price
         |FROM orders GROUP BY o_custkey)
         |SELECT o_orderkey, o_custkey, o_totalprice, avg_price
         |FROM orders JOIN avgs ON o_custkey = k
         |WHERE o_totalprice > avg_price ORDER BY o_orderkey""".stripMargin),

    // conditional-aggregation pivot (status columns per priority).
    q("q_pivot")(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .groupBy($"o_orderpriority")
          .pivot($"o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select($"o_orderpriority",
            coalesce($"F", lit(0L)).as("n_f"),
            coalesce($"O", lit(0L)).as("n_o"),
            coalesce($"P", lit(0L)).as("n_p"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority,
        |CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // fixed-width histogram over order totals.
    q("q_histogram")(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .groupBy(floor($"o_totalprice" / 50000).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"), decSum($"o_totalprice").as("total"))
          .orderBy($"bucket")
      },
      s"""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
         |COUNT(*) AS n, ${decSumSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),

    // median (interpolated) per segment — decimal-cast for determinism.
    q("q_median")(
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .groupBy($"c_mktsegment")
          .agg(round(expr("percentile(c_acctbal, 0.5)"), 4).as("median_balance"),
            count(lit(1)).as("n"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, round(quantile_cont(c_acctbal, 0.5), 4) AS median_balance, COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Salted two-phase aggregation must be RESULT-IDENTICAL to the
    // plain GROUP BY — that invariant is exactly what the oracle
    // checks (the plain SQL) while the Spark side runs the skew-proof
    // (key, salt) → key two-shuffle plan. Decimal addends keep the
    // re-associated sum exact.
    q("q_salted_agg")(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val li = t(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity".cast(DecimalType(18, 2)).as("qty"))
        graft.operators.Salting.saltedCountSum(li, "l_returnflag", "qty")
          .select($"l_returnflag", $"n", $"total".cast("double").as("sum_qty"))
          .orderBy($"l_returnflag")
      },
      s"""SELECT l_returnflag, COUNT(*) AS n, ${decSumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Salted fact join — the hot-key fan-out path
    // ([[graft.operators.Salting.saltedJoin]]: skewed side salted in
    // [0,f) by a whole-row hash, other side replicated f times, join
    // on (key, salt)) — verified against the PLAIN join oracle: the
    // salt must change the shuffle layout and nothing else.
    q("q_salted_join")(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem").select($"l_orderkey", $"l_quantity")
        val o = t(s, d, "orders")
          .select($"o_orderkey".as("l_orderkey"), $"o_orderstatus")
        graft.operators.Salting.saltedJoin(li, o, "l_orderkey", saltFactor = 8)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_items"), decSum($"l_quantity").as("sum_qty"))
          .orderBy($"o_orderstatus")
      },
      s"""SELECT o.o_orderstatus, COUNT(*) AS n_items,
         |${decSumSql("l.l_quantity")} AS sum_qty
         |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin),

    // Bloom-pruned anti join ([[graft.operators.BloomJoin.antiJoin]]):
    // fact rows whose key is a DEFINITE sketch miss are in the answer
    // with no join at all; only the might-contain sliver goes through
    // the exact anti join — on an ingest-dedup shape where most rows
    // are new, most of the fact side never shuffles. One-sided bloom
    // error means the output is bit-identical to the plain NOT EXISTS,
    // which is exactly what this oracle checks.
    q("q_bloom_anti_join")(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_partkey")
        val dim = t(s, d, "part").filter($"p_partkey" % 7 === 0)
          .select($"p_partkey")
        graft.operators.BloomJoin.antiJoin(li, dim, "l_partkey", "p_partkey",
            expectedItems = 100000L)
          .groupBy($"l_partkey")
          .agg(count(lit(1)).as("n_items"),
            sum($"l_orderkey").as("sum_okey"))
          .orderBy($"l_partkey")
      },
      """SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p
        |  WHERE p.p_partkey % 7 = 0 AND p.p_partkey = l.l_partkey)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin),

    // Golden-record fusion ([[graft.dedup.GoldenRecord.fuse]]): the
    // RESOLVE step after clustering — per duplicate cluster, each
    // attribute from the highest-VERSION member that has it non-null
    // (most-recent-non-null survivorship). The fixture plants v2
    // rows missing the address and v3 rows missing segment+phone, so
    // every survivorship branch (newest wins / newest-null falls
    // back / all-versions-null impossible here) is exercised. ONE
    // map-side-combinable aggregation fuses all attributes — no
    // per-attribute joins, no windows.
    q("q_golden_record")(
      (s, d) => {
        import s.implicits._
        val c = t(s, d, "customer")
        val v1 = c.select($"c_custkey".as("cluster"), lit(1L).as("version"),
          $"c_name", $"c_mktsegment", $"c_acctbal")
        val v2 = c.filter($"c_custkey" % 11 === 0)
          .select($"c_custkey".as("cluster"), lit(2L).as("version"),
            lit(null: String).as("c_name"), lit("SEGMENT-V2").as("c_mktsegment"),
            lit(null: String).cast("double").as("c_acctbal"))
        val v3 = c.filter($"c_custkey" % 13 === 0)
          .select($"c_custkey".as("cluster"), lit(3L).as("version"),
            concat(lit("renamed-"), $"c_name").as("c_name"),
            lit(null: String).as("c_mktsegment"),
            lit(null: String).cast("double").as("c_acctbal"))
        graft.dedup.GoldenRecord.fuse(
            v1.unionByName(v2).unionByName(v3), "cluster",
            Seq("c_name", "c_mktsegment", "c_acctbal"), col("version"))
          .orderBy($"cluster")
      },
      """WITH r AS (
        |  SELECT c_custkey AS cluster, 1 AS version,
        |    c_name, c_mktsegment, c_acctbal FROM customer
        |  UNION ALL SELECT c_custkey, 2, NULL, 'SEGMENT-V2', NULL
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL SELECT c_custkey, 3, 'renamed-' || c_name, NULL, NULL
        |  FROM customer WHERE c_custkey % 13 = 0),
        |a1 AS (SELECT cluster, c_name FROM (SELECT cluster, c_name,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY (c_name IS NOT NULL) DESC, version DESC) AS rn FROM r)
        |  WHERE rn = 1),
        |a2 AS (SELECT cluster, c_mktsegment FROM (SELECT cluster, c_mktsegment,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY (c_mktsegment IS NOT NULL) DESC, version DESC) AS rn FROM r)
        |  WHERE rn = 1),
        |a3 AS (SELECT cluster, c_acctbal FROM (SELECT cluster, c_acctbal,
        |  row_number() OVER (PARTITION BY cluster
        |    ORDER BY (c_acctbal IS NOT NULL) DESC, version DESC) AS rn FROM r)
        |  WHERE rn = 1),
        |n AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members FROM r GROUP BY 1)
        |SELECT n.cluster, a1.c_name, a2.c_mktsegment, a3.c_acctbal, n.n_members
        |FROM n JOIN a1 USING (cluster) JOIN a2 USING (cluster) JOIN a3 USING (cluster)
        |ORDER BY cluster""".stripMargin),

    // Declarative expectation suite ([[graft.ops.Expect.run]]): five
    // data-contract checks — null key, quantity range, flag regex,
    // composite-key uniqueness, FK integrity — with violation COUNTS
    // as evidence. All row-grain checks compile into ONE aggregation
    // over one corpus scan (pass-count, not check-count); only the FK
    // check costs an anti join. The fixture mutates every 1009th
    // order's rows to violate ALL five at once, so each counter is
    // pinned against the same planted set.
    q("q_expectations")(
      (s, d) => {
        import s.implicits._
        import graft.ops.Expect
        val li = t(s, d, "lineitem").select($"l_orderkey", $"l_linenumber",
          $"l_partkey", $"l_quantity", $"l_returnflag")
        val corpus = li.unionByName(li.filter($"l_orderkey" % 1009 === 0)
          .select($"l_orderkey", $"l_linenumber",
            ($"l_partkey" + 90000000L).as("l_partkey"),
            ($"l_quantity" * 1000).as("l_quantity"),
            lit(null: String).as("l_returnflag")))
        Expect.run(corpus, Seq(
            Expect.NotNull("l_returnflag"),
            Expect.InRange("l_quantity", 1L, 50L),
            Expect.Matches("l_returnflag", "[ARN]"),
            Expect.Unique(Seq("l_orderkey", "l_linenumber")),
            Expect.RefIntegrity("l_partkey", t(s, d, "part"), "p_partkey")))
          .orderBy($"check")
      },
      """WITH corpus AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey + 90000000,
        |    l_quantity * 1000, NULL
        |  FROM lineitem WHERE l_orderkey % 1009 = 0),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |  CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |    OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL
        |    OR NOT regexp_full_match(l_returnflag, '(?:[ARN])')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v_re,
        |  CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS v_uniq
        |  FROM corpus),
        |ref AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_ref FROM corpus c
        |  WHERE l_partkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
        |SELECT * FROM (
        |  SELECT 'not_null:l_returnflag' AS "check", n AS n_rows,
        |    v_null AS n_violations, v_null = 0 AS pass FROM agg
        |  UNION ALL SELECT 'in_range:l_quantity', n, v_range, v_range = 0 FROM agg
        |  UNION ALL SELECT 'matches:l_returnflag', n, v_re, v_re = 0 FROM agg
        |  UNION ALL SELECT 'unique:l_orderkey,l_linenumber', n, v_uniq, v_uniq = 0 FROM agg
        |  UNION ALL SELECT 'ref:l_partkey', n, v_ref, v_ref = 0 FROM agg, ref)
        |ORDER BY "check"""".stripMargin),

    // Exact-moment distribution statistics per group: mean, variance,
    // skewness derived from INTEGER power sums (quantities are
    // integer-valued, so Σq, Σq², Σq³ are exact longs — order-
    // independent under shuffle), then one mirrored fixed chain of
    // IEEE ops per statistic. Built-in skewness() is deliberately NOT
    // used: population-vs-sample conventions differ across engines,
    // exact sums don't.
    q("q_moments")(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity".cast("long").as("q"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), sum($"q").as("s1"),
            sum($"q" * $"q").as("s2"), sum($"q" * $"q" * $"q").as("s3"))
          .withColumn("nd", $"n".cast("double"))
          .withColumn("mean", $"s1".cast("double") / $"nd")
          .withColumn("ex2", $"s2".cast("double") / $"nd")
          .withColumn("ex3", $"s3".cast("double") / $"nd")
          .withColumn("variance", $"ex2" - $"mean" * $"mean")
          .withColumn("skewness",
            ($"ex3" - lit(3.0) * $"mean" * $"ex2"
              + lit(2.0) * $"mean" * $"mean" * $"mean")
              / ($"variance" * sqrt($"variance")))
          .select($"l_returnflag", $"n", $"mean", $"variance", $"skewness")
          .orderBy($"l_returnflag")
      },
      """WITH s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s1, CAST(SUM(q*q) AS BIGINT) AS s2,
        |  CAST(SUM(q*q*q) AS BIGINT) AS s3
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
        |  GROUP BY 1),
        |m AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS ex2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS ex3 FROM s),
        |v AS (SELECT *, ex2 - mean * mean AS variance FROM m)
        |SELECT l_returnflag, n, mean, variance,
        |  (ex3 - 3.0 * mean * ex2 + 2.0 * mean * mean * mean)
        |    / (variance * sqrt(variance)) AS skewness
        |FROM v ORDER BY l_returnflag""".stripMargin),

    // Pearson correlation per group from exact sums (quantity integer
    // long, price DECIMAL(18,2) — every sum order-independent), one
    // mirrored IEEE chain at the end. Built-in corr() has the same
    // cross-engine convention hazard as skewness().
    q("q_correlation")(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        t(s, d, "lineitem")
          .select($"l_returnflag", $"l_quantity".cast("long").as("x"),
            $"l_extendedprice".cast(DecimalType(18, 2)).as("y"))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
            sum($"y").as("sy"), sum($"y" * $"y").as("syy"),
            sum($"x" * $"y").as("sxy"))
          .withColumn("nd", $"n".cast("double"))
          .withColumn("r",
            ($"nd" * $"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double"))
              / (sqrt($"nd" * $"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double"))
                * sqrt($"nd" * $"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double"))))
          .select($"l_returnflag", $"n", $"r")
          .orderBy($"l_returnflag")
      },
      """WITH s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |  SUM(y) AS sy, SUM(y*y) AS syy, SUM(CAST(x AS DECIMAL(18,0)) * y) AS sxy
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y FROM lineitem)
        |  GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // full quantile profile per segment — interpolated percentiles
    // (Spark `percentile` == DuckDB `quantile_cont`), rounded so the
    // linear-interpolation double math can't diverge in the last bit.
    q("q_percentiles")(
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .groupBy($"c_mktsegment")
          .agg(
            round(expr("percentile(c_acctbal, 0.25)"), 4).as("p25"),
            round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
            round(expr("percentile(c_acctbal, 0.75)"), 4).as("p75"),
            round(expr("percentile(c_acctbal, 0.95)"), 4).as("p95"),
            count(lit(1)).as("n"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment,
        |round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
        |round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
        |round(quantile_cont(c_acctbal, 0.75), 4) AS p75,
        |round(quantile_cont(c_acctbal, 0.95), 4) AS p95,
        |COUNT(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // conversion funnel: first view → first click after it → first
    // purchase after that, per user; one summary row. Each stage is a
    // keyed min-aggregation + equi-join — no window over the full
    // event stream, so the shape holds at any event volume.
    q("q_funnel")(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "events")
        val v = e.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("view_ts"))
        val c = e.filter($"event_type" === "click").join(v, Seq("user_id"))
          .filter($"ts" >= $"view_ts")
          .groupBy($"user_id").agg(min($"ts").as("click_ts"))
        val p = e.filter($"event_type" === "purchase").join(c, Seq("user_id"))
          .filter($"ts" >= $"click_ts")
          .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_view"),
            count($"click_ts").as("n_click"),
            count($"purchase_ts").as("n_purchase"))
      },
      """WITH v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS click_ts FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts GROUP BY e.user_id)
        |SELECT COUNT(*) AS n_view, COUNT(c.user_id) AS n_click, COUNT(p.user_id) AS n_purchase
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin),

    // retention cohorts: users bucketed by first-seen week, counted
    // per weeks-since-cohort — the standard retention triangle. Week
    // = floor(epoch-seconds / 604800) on both engines (DuckDB's
    // fractional epoch can't move a week floor). Two shuffles: the
    // per-user min window and the (cohort, offset) distinct-count —
    // output is O(weeks²) rows at any event volume.
    q("q_retention")(
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
          .select($"user_id", floor($"ts".cast("long") / 604800L).as("week"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
        ev.withColumn("cohort_week", min($"week").over(w))
          .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort_week", $"week_offset")
      },
      """WITH ev AS (SELECT user_id,
        |  CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week FROM events),
        |c AS (SELECT user_id, week,
        |  MIN(week) OVER (PARTITION BY user_id) AS cohort_week FROM ev)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin),

    // RFM customer segmentation — the classic lifecycle scoring:
    // recency (days since last order, anchored to the corpus's max
    // order date so the query is reproducible), frequency (order
    // count), monetary (decimal-exact spend), each cut into exact
    // quintiles (1 = best). Three [[graft.operators.Ranking.globalNtile]]
    // passes over the CUSTOMER-grain frame — the partition-offset
    // machinery, never a single-task ORDER BY window; the frame being
    // ranked is |customers|, already 5-6 orders below the fact table.
    // Monetary is an exact DECIMAL(18,2) sum rendered as double, so
    // its sort order (and every tie) replays identically cross-engine.
    q("q_rfm")(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(max(to_date($"o_orderdate")).as("last_day"),
            count(lit(1)).as("frequency"),
            decSum($"o_totalprice").as("monetary"))
        val anchor = cust.agg(max($"last_day").as("anchor"))
        // pinned: three ntile passes (each with its range-partition +
        // offsets pass) would otherwise re-run the orders aggregation
        val base = graft.util.CacheScope.pin(cust.crossJoin(broadcast(anchor))
          .select($"o_custkey",
            datediff($"anchor", $"last_day").cast("long").as("recency_days"),
            $"frequency", $"monetary"))
        val r = graft.operators.Ranking.globalNtile(base, 5,
          Seq($"recency_days", $"o_custkey"), out = "r_score")
        val rf = graft.operators.Ranking.globalNtile(r, 5,
          Seq($"frequency".desc, $"o_custkey"), out = "f_score")
        val rfm = graft.operators.Ranking.globalNtile(rf, 5,
          Seq($"monetary".desc, $"o_custkey"), out = "m_score")
        rfm.withColumn("segment",
            when($"r_score" <= 2 && $"f_score" <= 2, "champion")
              .when($"r_score" <= 2, "recent")
              .when($"f_score" <= 2, "loyal_lapsing")
              .otherwise("hibernating"))
          .select($"o_custkey", $"recency_days", $"frequency", $"monetary",
            $"r_score", $"f_score", $"m_score", $"segment")
          .orderBy($"o_custkey")
      },
      s"""WITH cust AS (SELECT o_custkey,
         |  MAX(CAST(o_orderdate AS DATE)) AS last_day,
         |  CAST(COUNT(*) AS BIGINT) AS frequency,
         |  ${decSumSql("o_totalprice")} AS monetary
         |  FROM orders GROUP BY 1),
         |anchor AS (SELECT MAX(last_day) AS a FROM cust),
         |base AS (SELECT o_custkey,
         |  CAST(date_diff('day', last_day, anchor.a) AS BIGINT) AS recency_days,
         |  frequency, monetary FROM cust CROSS JOIN anchor),
         |scored AS (SELECT *,
         |  ntile(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
         |  ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         |  ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
         |  FROM base)
         |SELECT o_custkey, recency_days, frequency, monetary,
         |  r_score, f_score, m_score,
         |  CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
         |       WHEN r_score <= 2 THEN 'recent'
         |       WHEN f_score <= 2 THEN 'loyal_lapsing'
         |       ELSE 'hibernating' END AS segment
         |FROM scored ORDER BY o_custkey""".stripMargin),

    // Sketch aggregates (HLL distinct + count-min-style heavy hitters).
    // No oracle: approximation algorithms differ per engine, so the
    // result gets a rows-only check; exactness-adjacent invariants are
    // asserted in ScalaTest instead.
    Query("q_approx_distinct", (s, d) => {
      import s.implicits._
      t(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          approx_count_distinct($"l_orderkey").as("approx_orders"),
          approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }, None)
  )
}
