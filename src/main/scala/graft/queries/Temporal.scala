package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.TemporalJoins

/** Temporal-join operator surface over the events table. DuckDB has a
  * native ASOF JOIN — a strong independent oracle for our composed
  * implementation.
  */
object Temporal {

  // Shared CTE prelude of the two weighted-PageRank oracles: the
  // co-purchase graph with co-occurrence-count weights, 5 unrolled
  // integer iterations (MATERIALIZED per step — the q_bpe_merges
  // inline-blowup lesson). HUGEINT carries both the per-edge rank·w
  // product and the damping product (each overflows int64); `//`
  // floors them back — identical to Spark's `div` on these
  // nonnegative operands.
  private val weightedPrankCtes: String = {
    val iter = (1 to 5).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
         |  CAST(SUM(CAST(r.rank_micro AS HUGEINT) * e.w // d.w_out) AS BIGINT) AS s
         |  FROM r${k - 1} r JOIN wdeg d ON d.node = r.node
         |  JOIN e ON e.src = r.node GROUP BY 1),
         |r$k AS MATERIALIZED (SELECT n0.node,
         |  CAST((1000000000000 - 850000000000) // nn.n
         |    + CAST(COALESCE(c.s, 0) AS HUGEINT) * 850000000000 // 1000000000000
         |    AS BIGINT) AS rank_micro
         |  FROM nodes n0 LEFT JOIN c$k c ON c.node = n0.node CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT DISTINCT
       |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h, user_id
       |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0),
       |ud AS (SELECT a.user_id AS a, b.user_id AS b, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM p a JOIN p b ON b.h = a.h AND a.user_id < b.user_id GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM ud
       |  UNION ALL SELECT b, a, w FROM ud),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |wdeg AS MATERIALIZED (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS w_out
       |  FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT node,
       |  CAST(1000000000000 // nn.n AS BIGINT) AS rank_micro FROM nodes, nn),
       |$iter""".stripMargin
  }

  val all: Seq[Query] = Seq(

    // purchases ⟵ latest click at-or-before, per user
    q("q_asof_join")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max_by($"value", $"event_id").as("click_value"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      TemporalJoins.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        Map("click_value" -> "click_value"))
        .select($"event_id", $"user_id", $"ts", $"asof_ts", $"click_value")
        .orderBy($"event_id")
    },
      """WITH clicks AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_ts, c.click_value
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // purchases ⟵ EARLIEST click at-or-after, per user (the forward
    // as-of direction — next-reading/next-price lookup)
    q("q_asof_forward")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max_by($"value", $"event_id").as("click_value"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      TemporalJoins.asOfForward(purchases, clicks, Seq("user_id"), "ts", "ts",
        Map("click_value" -> "click_value"))
        .select($"event_id", $"user_id", $"ts", $"asof_ts", $"click_value")
        .orderBy($"event_id")
    },
      """WITH clicks AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |cand AS (SELECT event_id, asof_ts, click_value FROM (
        |  SELECT p.event_id, c.ts AS asof_ts, c.click_value,
        |    row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts) AS rn
        |  FROM purchases p JOIN clicks c
        |    ON c.user_id = p.user_id AND c.ts >= p.ts) WHERE rn = 1)
        |SELECT p.event_id, p.user_id, p.ts, cand.asof_ts, cand.click_value
        |FROM purchases p LEFT JOIN cand ON cand.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin),

    // purchases ⟵ NEAREST click within ±30 min, ties backward (pandas
    // merge_asof direction='nearest' + tolerance — the sensor-pairing
    // semantics); both directions' minimal deltas are exact, so the
    // choice is too
    q("q_asof_nearest")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max_by($"value", $"event_id").as("click_value"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      TemporalJoins.asOfNearest(purchases, clicks, Seq("user_id"), "ts", "ts",
        Map("click_value" -> "click_value"), toleranceUs = Some(1800000000L))
        .select($"event_id", $"user_id", $"ts", $"asof_ts", $"asof_dir", $"click_value")
        .orderBy($"event_id")
    },
      """WITH clicks AS (
        |  SELECT user_id, ts, max_by(value, event_id) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
        |purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |cand AS (SELECT event_id, asof_ts, click_value FROM (
        |  SELECT p.event_id, c.ts AS asof_ts, c.click_value,
        |    row_number() OVER (PARTITION BY p.event_id ORDER BY
        |      abs(epoch_us(c.ts) - epoch_us(p.ts)),
        |      CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END) AS rn
        |  FROM purchases p JOIN clicks c ON c.user_id = p.user_id
        |  WHERE abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 1800000000) WHERE rn = 1)
        |SELECT p.event_id, p.user_id, p.ts, cand.asof_ts,
        |  CASE WHEN cand.asof_ts IS NULL THEN NULL
        |       WHEN cand.asof_ts <= p.ts THEN 'backward' ELSE 'forward' END AS asof_dir,
        |  cand.click_value
        |FROM purchases p LEFT JOIN cand ON cand.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin),

    // events within 1 hour after each signup, per user
    q("q_range_join")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val signups = ev.filter($"event_type" === "signup")
        .select($"event_id", $"user_id", $"ts")
      val all = ev.select($"event_id", $"user_id", $"ts", $"event_type", $"value")
      TemporalJoins.bucketedRangeJoin(signups, all, Seq("user_id"), "ts", "ts",
        lowerUs = 0L, upperUs = 3600L * 1000000L)
        .select($"user_id", $"event_id", $"ts",
          $"r_event_id", $"r_ts", $"r_event_type", $"r_value")
        .orderBy($"event_id", $"r_event_id")
    },
      """SELECT s.user_id, s.event_id, s.ts, e.event_id AS r_event_id, e.ts AS r_ts,
        |e.event_type AS r_event_type, e.value AS r_value
        |FROM events s JOIN events e ON e.user_id = s.user_id
        |  AND epoch_us(e.ts) > epoch_us(s.ts)
        |  AND epoch_us(e.ts) <= epoch_us(s.ts) + 3600000000
        |WHERE s.event_type = 'signup'
        |ORDER BY s.event_id, r_event_id""".stripMargin),

    // Ordered conversion funnel view → click → purchase, earliest-
    // chain semantics: t1 = first view, t2 = first click AFTER t1,
    // t3 = first purchase AFTER t2 (strict order — a purchase before
    // the click does not convert). Exact per-step user counts + total
    // step-transition lag in integer micros. Scale shape: three
    // filtered per-user aggregates + two equi-joins on user_id — the
    // funnel frames shrink monotonically; no windows, no sequence
    // materialization.
    q("q_event_funnel")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events").select($"user_id", $"event_type", $"ts")
      val s1 = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1"))
      val s2 = ev.filter($"event_type" === "click").join(s1, "user_id")
        .filter($"ts" > $"t1")
        .groupBy($"user_id", $"t1").agg(min($"ts").as("t2"))
      val s3 = ev.filter($"event_type" === "purchase")
        .join(s2.select($"user_id", $"t2"), "user_id")
        .filter($"ts" > $"t2")
        .groupBy($"user_id", $"t2").agg(min($"ts").as("t3"))
      val r1 = s1.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("step"), lit("view").as("event_type"),
          $"n_users", lit(0L).as("sum_step_lag_us"))
      val r2 = s2.agg(count(lit(1)).as("n_users"),
          coalesce(sum(unix_micros($"t2") - unix_micros($"t1")), lit(0L))
            .as("sum_step_lag_us"))
        .select(lit(2L).as("step"), lit("click").as("event_type"),
          $"n_users", $"sum_step_lag_us")
      val r3 = s3.agg(count(lit(1)).as("n_users"),
          coalesce(sum(unix_micros($"t3") - unix_micros($"t2")), lit(0L))
            .as("sum_step_lag_us"))
        .select(lit(3L).as("step"), lit("purchase").as("event_type"),
          $"n_users", $"sum_step_lag_us")
      r1.unionByName(r2).unionByName(r3).orderBy($"step")
    },
      """WITH t1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, t1.t1, MIN(e.ts) AS t2
        |  FROM events e JOIN t1 ON t1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1, 2),
        |t3 AS (SELECT e.user_id, t2.t2, MIN(e.ts) AS t3
        |  FROM events e JOIN t2 ON t2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_users,
        |    CAST(0 AS BIGINT) AS sum_step_lag_us
        |  UNION ALL SELECT 2, 'click',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM t2),
        |    (SELECT CAST(COALESCE(SUM(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT) FROM t2)
        |  UNION ALL SELECT 3, 'purchase',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM t3),
        |    (SELECT CAST(COALESCE(SUM(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT) FROM t3)
        |) ORDER BY step""".stripMargin),

    // first-order Markov transition matrix of per-user event
    // sequences — the behavioral-sequence profile (and the anomaly
    // prior for q_event_spikes-style detectors). One shuffle on
    // user_id for the lag, then a tiny (|types|²) aggregate; the
    // per-prev totals ride a window over that already-small frame.
    q("q_event_transitions")((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tr = t(s, d, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("prev_type", lag($"event_type", 1).over(w))
        .filter($"prev_type".isNotNull)
      val counts = tr.groupBy($"prev_type", $"event_type".as("next_type"))
        .agg(count(lit(1)).as("n_trans"))
      counts
        .withColumn("n_from", sum($"n_trans").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"prev_type")))
        .orderBy($"prev_type", $"next_type")
    },
      """WITH seq AS (SELECT user_id, ts, event_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans,
        |  CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from
        |FROM c ORDER BY prev_type, next_type""".stripMargin),

    // Z-order (Morton) clustering key over (user bucket, hour bucket)
    // — the two-dimensional layout that lets BOTH a user-scoped and a
    // time-scoped scan prune row groups; emitted per event so the
    // bit-dilation math itself is oracle-pinned. Pure codegen'd
    // integer ops, map-only until the final ORDER BY.
    q("q_zorder")((s, d) => {
      import s.implicits._
      // hour bucket over micros OFFSET INTO the positive range (+500
      // years): Spark `div` truncates toward zero while DuckDB `//`
      // floors, so a pre-1970 timestamp would bucket differently —
      // on a positive operand every division convention agrees
      val ev = t(s, d, "events")
        .select($"event_id", ($"user_id" % 1024).as("x"),
          (expr("(unix_micros(ts) + 15778800000000000) div 3600000000") % 1024).as("y"))
      ev.withColumn("zcode", graft.operators.Layout.zorder2($"x", $"y"))
        .orderBy($"zcode", $"event_id")
    },
      """WITH b AS (SELECT event_id,
        |  CAST(user_id % 1024 AS BIGINT) AS x,
        |  CAST(((epoch_us(ts) + 15778800000000000) // 3600000000) % 1024 AS BIGINT) AS y
        |  FROM events),
        |s0 AS (SELECT event_id, x, y, x & 65535 AS xv, y & 65535 AS yv FROM b),
        |s1 AS (SELECT event_id, x, y, (xv | (xv << 8)) & 16711935 AS xv,
        |  (yv | (yv << 8)) & 16711935 AS yv FROM s0),
        |s2 AS (SELECT event_id, x, y, (xv | (xv << 4)) & 252645135 AS xv,
        |  (yv | (yv << 4)) & 252645135 AS yv FROM s1),
        |s3 AS (SELECT event_id, x, y, (xv | (xv << 2)) & 858993459 AS xv,
        |  (yv | (yv << 2)) & 858993459 AS yv FROM s2),
        |s4 AS (SELECT event_id, x, y, (xv | (xv << 1)) & 1431655765 AS xv,
        |  (yv | (yv << 1)) & 1431655765 AS yv FROM s3)
        |SELECT event_id, x, y, (xv | (yv << 1)) AS zcode FROM s4
        |ORDER BY zcode, event_id""".stripMargin),

    // exact triangle count of the same-hour co-purchase graph — the
    // graph-analytics representative (community density / collusion
    // signals). Degree-ordered node-iterator: see
    // [[graft.operators.Graphs.triangleCount]] for the skew argument.
    q("q_triangles")((s, d) => {
      import s.implicits._
      val p = t(s, d, "events")
        .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
        .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
          $"user_id")
        .distinct()
      val edges = p.as("x").join(p.as("y"),
          $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
        .select($"x.user_id".as("src"), $"y.user_id".as("dst"))
      graft.operators.Graphs.triangleCount(edges)
    },
      """WITH p AS (SELECT DISTINCT
        |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h, user_id
        |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0),
        |e AS (SELECT DISTINCT a.user_id AS a, b.user_id AS b FROM p a
        |  JOIN p b ON b.h = a.h AND a.user_id < b.user_id),
        |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT
        |  (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM
        |    (SELECT a AS v FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
        |  tri.n_triangles
        |FROM tri""".stripMargin),

    // INTEGER-exact PageRank over the symmetrized co-purchase graph —
    // the link-graph quality prior web-corpus curation ranks sources
    // by. Ranks are 1e-12 micro-units; every iteration is integer
    // div/sum plus one exact DECIMAL(38,0) damping product, so the
    // result is bit-identical on any engine/shuffle order — which is
    // what lets a SQL oracle reproduce 5 iterations EXACTLY (float
    // PageRank never replays bit-identically). See
    // [[graft.operators.Graphs.pageRankMicro]] for the scale shape.
    // 5 unrolled integer iterations (MATERIALIZED per step — the
    // q_bpe_merges inline-blowup lesson); HUGEINT carries the damping
    // product (s·D ≈ 8.5e23 overflows int64), `//` floors it back
    q("q_pagerank")((s, d) => {
      import s.implicits._
      val p = t(s, d, "events")
        .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
        .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
          $"user_id")
        .distinct()
      val und = p.as("x").join(p.as("y"),
          $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
        .select($"x.user_id".as("src"), $"y.user_id".as("dst"))
        .distinct()
      val edges = und.unionByName(und.select($"dst".as("src"), $"src".as("dst")))
      graft.operators.Graphs.pageRankMicro(edges, iters = 5)
        .orderBy($"node")
    }, {
      val iter = (1 to 5).map { k =>
        s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
           |  CAST(SUM(r.rank_micro // d.out_deg) AS BIGINT) AS s
           |  FROM r${k - 1} r JOIN deg d ON d.node = r.node
           |  JOIN e ON e.src = r.node GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT n0.node,
           |  CAST((1000000000000 - 850000000000) // nn.n
           |    + CAST(COALESCE(c.s, 0) AS HUGEINT) * 850000000000 // 1000000000000
           |    AS BIGINT) AS rank_micro
           |  FROM nodes n0 LEFT JOIN c$k c ON c.node = n0.node CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (SELECT DISTINCT
         |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h, user_id
         |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0),
         |ud AS (SELECT DISTINCT a.user_id AS a, b.user_id AS b FROM p a
         |  JOIN p b ON b.h = a.h AND a.user_id < b.user_id),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ud
         |  UNION ALL SELECT b, a FROM ud),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg
         |  FROM e GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         |r0 AS MATERIALIZED (SELECT node,
         |  CAST(1000000000000 // nn.n AS BIGINT) AS rank_micro FROM nodes, nn),
         |$iter
         |SELECT r5.node AS node, r5.rank_micro,
         |  COALESCE(deg.out_deg, CAST(0 AS BIGINT)) AS out_deg
         |FROM r5 LEFT JOIN deg ON deg.node = r5.node
         |ORDER BY r5.node""".stripMargin
    }),

    // PERSONALIZED PageRank from a trusted seed set — the graph-based
    // corpus-EXPANSION operator ("score everything by proximity to
    // what we already trust"): teleport mass restarts only at seed
    // nodes (node % 35 == 0 here), rank flows outward through edges.
    // Same integer-exact arithmetic as q_pagerank, so the 5 unrolled
    // oracle iterations reproduce it bit-for-bit.
    // the personalized variant: teleport only to seed nodes
    // (node % 35 == 0); same unrolled integer iterations
    q("q_seed_pagerank")((s, d) => {
      import s.implicits._
      val p = t(s, d, "events")
        .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
        .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
          $"user_id")
        .distinct()
      val und = p.as("x").join(p.as("y"),
          $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
        .select($"x.user_id".as("src"), $"y.user_id".as("dst"))
        .distinct()
      val edges = und.unionByName(und.select($"dst".as("src"), $"src".as("dst")))
      val seeds = edges.select($"src".as("node")).distinct()
        .filter($"node" % 35 === 0)
      graft.operators.Graphs.pageRankMicroSeeded(edges, seeds, iters = 5)
        .orderBy($"node")
    }, {
      val iter = (1 to 5).map { k =>
        s"""c$k AS MATERIALIZED (SELECT e.dst AS node,
           |  CAST(SUM(r.rank_micro // d.out_deg) AS BIGINT) AS s
           |  FROM r${k - 1} r JOIN deg d ON d.node = r.node
           |  JOIN e ON e.src = r.node GROUP BY 1),
           |r$k AS MATERIALIZED (SELECT n0.node,
           |  CAST(CASE WHEN n0.node % 35 = 0
           |      THEN (1000000000000 - 850000000000) // nn.n ELSE 0 END
           |    + CAST(COALESCE(c.s, 0) AS HUGEINT) * 850000000000 // 1000000000000
           |    AS BIGINT) AS rank_micro
           |  FROM nodes n0 LEFT JOIN c$k c ON c.node = n0.node CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH p AS (SELECT DISTINCT
         |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h, user_id
         |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0),
         |ud AS (SELECT DISTINCT a.user_id AS a, b.user_id AS b FROM p a
         |  JOIN p b ON b.h = a.h AND a.user_id < b.user_id),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ud
         |  UNION ALL SELECT b, a FROM ud),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_deg
         |  FROM e GROUP BY 1),
         |nn AS (SELECT CAST(SUM(CASE WHEN node % 35 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
         |  FROM nodes),
         |r0 AS MATERIALIZED (SELECT node,
         |  CAST(CASE WHEN node % 35 = 0 THEN 1000000000000 // nn.n ELSE 0 END AS BIGINT)
         |    AS rank_micro FROM nodes, nn),
         |$iter
         |SELECT r5.node AS node, r5.rank_micro,
         |  COALESCE(deg.out_deg, CAST(0 AS BIGINT)) AS out_deg
         |FROM r5 LEFT JOIN deg ON deg.node = r5.node
         |ORDER BY r5.node""".stripMargin
    }),

    // WEIGHTED PageRank over the same co-purchase graph — the edge
    // weight is the co-occurrence count (shared purchase hours), so
    // repeat co-activity carries proportionally more rank than a
    // one-off: contribution = rank·w div Σw_out in DECIMAL(38,0),
    // floored back to BIGINT — same integer exactness, so the 5
    // unrolled oracle iterations reproduce it bit-for-bit. See
    // [[graft.operators.Graphs.pageRankMicroWeighted]].
    q("q_pagerank_weighted")((s, d) => {
      import s.implicits._
      val p = t(s, d, "events")
        .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
        .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
          $"user_id")
        .distinct()
      val und = p.as("x").join(p.as("y"),
          $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
        .groupBy($"x.user_id".as("src"), $"y.user_id".as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = und.unionByName(und.select($"dst".as("src"), $"src".as("dst"), $"w"))
      graft.operators.Graphs.pageRankMicroWeighted(edges, iters = 5)
        .orderBy($"node")
    }, {
      s"""$weightedPrankCtes
         |SELECT r5.node AS node, r5.rank_micro,
         |  COALESCE(wdeg.w_out, CAST(0 AS BIGINT)) AS w_out
         |FROM r5 LEFT JOIN wdeg ON wdeg.node = r5.node
         |ORDER BY r5.node""".stripMargin
    }),

    // Convergence report for the weighted walk — per iteration, the
    // max absolute rank change and how many nodes moved: the frame
    // that says whether iters was enough instead of leaving the user
    // to guess. One extra node-keyed 1-row aggregate per iteration
    // over the already-checkpointed rank frames. Integer-exact, so
    // the unrolled oracle reproduces every delta bit-for-bit.
    q("q_pagerank_converge")((s, d) => {
      import s.implicits._
      val p = t(s, d, "events")
        .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
        .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
          $"user_id")
        .distinct()
      val und = p.as("x").join(p.as("y"),
          $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
        .groupBy($"x.user_id".as("src"), $"y.user_id".as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = und.unionByName(und.select($"dst".as("src"), $"src".as("dst"), $"w"))
      graft.operators.Graphs.pageRankConvergence(edges, iters = 5,
          weightCol = Some("w"))
        .orderBy($"iter")
    }, {
      val deltas = (1 to 5).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS iter,
           |  CAST(MAX(ABS(a.rank_micro - b.rank_micro)) AS BIGINT) AS max_delta_micro,
           |  CAST(SUM(CASE WHEN a.rank_micro <> b.rank_micro THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_changed
           |FROM r$k a JOIN r${k - 1} b ON b.node = a.node""".stripMargin
      }.mkString(" UNION ALL\n")
      s"""$weightedPrankCtes
         |SELECT * FROM (
         |$deltas
         |) ORDER BY iter""".stripMargin
    }),

    // SCD Type-2 history assembly: collapse each user's event-type
    // stream into validity intervals — keep only CHANGE rows
    // (lag(state) differs), then valid_to = the next change's
    // valid_from (NULL = current) — the slowly-changing-dimension
    // build every warehouse needs next to the as-of read side. Two
    // windows, both partitioned by user_id: fully parallel.
    // Event DEBOUNCE — telemetry jitter dedup: within each (user,
    // event_type) stream, collapse every gap-chained burst (each event
    // < 5s after its predecessor) to its FIRST event, reporting how
    // many rows it absorbed. This is keep-first-per-burst, NOT
    // lag-only dedup (a 2s+2s chain is ONE burst even though the
    // third event is 4s from the first) and NOT sessionization (which
    // aggregates; debounce keeps a representative row). Burst = the
    // classic gap-flag running sum, windowed per (user, type) key —
    // state never leaves its key partition. Fixture plants +2s and
    // +4s clones so chained absorption is exercised.
    q("q_event_debounce")((s, d) => {
      import s.implicits._
      val base = t(s, d, "events")
        .select($"event_id", $"user_id", $"event_type", $"ts")
      val ev = base
        .unionByName(base.filter($"event_id" % 17 === 0)
          .select(($"event_id" + 10000000L).as("event_id"), $"user_id",
            $"event_type", ($"ts" + expr("INTERVAL 2 SECONDS")).as("ts")))
        .unionByName(base.filter($"event_id" % 34 === 0)
          .select(($"event_id" + 20000000L).as("event_id"), $"user_id",
            $"event_type", ($"ts" + expr("INTERVAL 4 SECONDS")).as("ts")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
      ev.withColumn("prev", lag($"ts", 1).over(w))
        .withColumn("brk", when($"prev".isNull ||
          unix_micros($"ts") - unix_micros($"prev") >= 5000000L, 1L)
          .otherwise(0L))
        .withColumn("grp", sum($"brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"event_type", $"grp")
        .agg(min(struct($"ts", $"event_id")).as("first"),
          count(lit(1)).as("n_collapsed"))
        .select($"first.event_id".as("event_id"), $"user_id", $"event_type",
          $"first.ts".as("ts"), $"n_collapsed")
        .orderBy($"event_id")
    },
      """WITH base AS (SELECT event_id, user_id, event_type, ts FROM events),
        |ev AS (SELECT * FROM base
        |  UNION ALL SELECT event_id + 10000000, user_id, event_type,
        |    ts + INTERVAL 2 SECOND FROM base WHERE event_id % 17 = 0
        |  UNION ALL SELECT event_id + 20000000, user_id, event_type,
        |    ts + INTERVAL 4 SECOND FROM base WHERE event_id % 34 = 0),
        |lagged AS (SELECT *, lag(ts) OVER
        |  (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
        |  FROM ev),
        |flagged AS (SELECT *, CASE WHEN prev IS NULL
        |    OR epoch_us(ts) - epoch_us(prev) >= 5000000 THEN 1 ELSE 0 END AS brk
        |  FROM lagged),
        |grouped AS (SELECT *, SUM(brk) OVER
        |  (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS grp FROM flagged),
        |bursts AS (SELECT user_id, event_type, grp,
        |  MIN({'ts': ts, 'event_id': event_id}) AS first,
        |  CAST(COUNT(*) AS BIGINT) AS n_collapsed
        |  FROM grouped GROUP BY 1, 2, 3)
        |SELECT first.event_id AS event_id, user_id, event_type,
        |  first.ts AS ts, n_collapsed
        |FROM bursts ORDER BY event_id""".stripMargin),

    q("q_scd2")((s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val changes = t(s, d, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
        .withColumn("prev_state", lag($"state", 1).over(w))
        .filter($"prev_state".isNull || $"prev_state" =!= $"state")
      changes
        .withColumn("valid_to", lead($"ts", 1).over(w))
        .select($"user_id", $"ts".as("valid_from"), $"valid_to", $"state",
          $"valid_to".isNull.as("is_current"))
        .orderBy($"user_id", $"valid_from", $"state")
    },
      """WITH seq AS (SELECT user_id, ts, event_id, event_type AS state,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        |  FROM events),
        |chg AS (SELECT user_id, ts, event_id, state FROM seq
        |  WHERE prev_state IS NULL OR prev_state <> state)
        |SELECT user_id, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  state,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM chg ORDER BY user_id, valid_from, state""".stripMargin),

    // lag-1 autocorrelation of the hourly event-count series — the
    // time-series stationarity probe, from EXACT integer sums (counts
    // and their products stay integral; one mirrored IEEE chain at
    // the end, same contract as q_correlation). The consecutive-hour
    // pairing is an equi-join on h+1, not a global window.
    q("q_autocorr")((s, d) => {
      import s.implicits._
      val hourly = t(s, d, "events")
        .groupBy(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val pairs = hourly.as("x").join(hourly.as("y"),
          $"x.h" + 1 === $"y.h")
        .select($"x.c".as("cx"), $"y.c".as("cy"))
      pairs.agg(count(lit(1)).as("n"),
          sum($"cx").as("sx"), sum($"cy").as("sy"),
          sum($"cx" * $"cx").as("sxx"), sum($"cy" * $"cy").as("syy"),
          sum($"cx" * $"cy").as("sxy"))
        .withColumn("nd", $"n".cast("double"))
        .select($"n",
          (($"nd" * $"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double"))
            / (sqrt($"nd" * $"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double"))
              * sqrt($"nd" * $"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double"))))
            .as("r_lag1"))
    },
      """WITH hourly AS (SELECT
        |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |pr AS (SELECT x.c AS cx, y.c AS cy FROM hourly x
        |  JOIN hourly y ON y.h = x.h + 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
        |  CAST(SUM(cx*cx) AS BIGINT) AS sxx, CAST(SUM(cy*cy) AS BIGINT) AS syy,
        |  CAST(SUM(cx*cy) AS BIGINT) AS sxy FROM pr)
        |SELECT n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r_lag1
        |FROM s""".stripMargin),

    // Gaps-and-islands INTERVAL MERGE: each event opens a 10-minute
    // activity interval; overlapping/touching intervals per user merge
    // into islands (start, end, covered span, event count) — the
    // canonical coverage/uptime/session-span operator (and the span
    // form the dedup family's exact-substring spans use over byte
    // offsets, here over time). A new island starts exactly when an
    // interval's start exceeds the running max END of everything
    // before it — plain overlap-chaining (lag-based gap checks get
    // nested intervals wrong: a long interval can swallow several
    // short ones whose pairwise gaps look like breaks). All integer
    // micros; both windows stay inside the user_id partition — no
    // global window, fully parallel at any scale.
    q("q_interval_merge")((s, d) => {
      import s.implicits._
      val iv = t(s, d, "events")
        .select($"user_id", $"event_id", unix_micros($"ts").as("st"),
          (unix_micros($"ts") + 600000000L).as("en"))
      TemporalJoins.mergeIntervals(iv, Seq("user_id"), "st", "en", "event_id")
        .select($"user_id", $"island", $"start_us", $"end_us",
          $"covered_us", $"n_events")
        .orderBy($"user_id", $"island")
    },
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS st,
        |  epoch_us(ts) + 600000000 AS en FROM events),
        |pm AS (SELECT *, MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
        |br AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS brk
        |  FROM pm),
        |isl AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
        |    ROWS UNBOUNDED PRECEDING) AS island FROM br)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  CAST(MIN(st) AS BIGINT) AS start_us, CAST(MAX(en) AS BIGINT) AS end_us,
        |  CAST(MAX(en) - MIN(st) AS BIGINT) AS covered_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin),

    // INTERVAL OVERLAP JOIN: purchase attention windows (30 min) ×
    // click exposure windows (10 min) per user — interval-vs-interval
    // intersection, the join [[TemporalJoins.bucketedRangeJoin]]'s
    // point-in-range shape can't express. Bucketed equi-join with the
    // later-start-bucket dedup (each pair emitted exactly once);
    // recall exactly 1; work ∝ rows × buckets-per-interval + true
    // matches — never |L|×|R|.
    q("q_interval_join")((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val purch = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", unix_micros($"ts").as("st"),
          (unix_micros($"ts") + 1800000000L).as("en"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("st"),
          (unix_micros($"ts") + 600000000L).as("en"))
      TemporalJoins.intervalOverlapJoin(purch, clicks, Seq("user_id"),
          "st", "en", bucketWidth = 1800000000L)
        .select($"user_id", $"event_id", $"st", $"en",
          $"r_event_id", $"r_st", $"r_en")
        .orderBy($"event_id", $"r_event_id")
    },
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS st,
        |  epoch_us(ts) + 1800000000 AS en FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT event_id, user_id, epoch_us(ts) AS st,
        |  epoch_us(ts) + 600000000 AS en FROM events
        |  WHERE event_type = 'click')
        |SELECT l.user_id, l.event_id, l.st, l.en,
        |  r.event_id AS r_event_id, r.st AS r_st, r.en AS r_en
        |FROM l JOIN r ON r.user_id = l.user_id
        |  AND l.st <= r.en AND r.st <= l.en
        |ORDER BY l.event_id, r_event_id""".stripMargin),

    // PEAK CONCURRENCY — the capacity-planning sweep: the maximum
    // number of simultaneously-active 10-minute event intervals and
    // the FIRST instant it is reached. Classic endpoint sweep (+1 at
    // start, −1 at exclusive end, running sum), but the global
    // running sum routes through [[graft.operators.Ranking
    // .globalRunningSum]]'s range-partition + broadcast-offset
    // machinery — a bare SUM() OVER (ORDER BY t) moves every endpoint
    // into one task at corpus scale. Ordering (t, delta, event_id)
    // processes an exclusive end before a coincident start. All
    // integer micros.
    q("q_peak_concurrency")((s, d) => {
      import s.implicits._
      val iv = t(s, d, "events")
        .select($"event_id", unix_micros($"ts").as("st"),
          (unix_micros($"ts") + 600000000L).as("en"))
      val pts = iv.select($"st".as("t"), lit(1L).as("delta"), $"event_id")
        .unionByName(iv.select($"en".as("t"), lit(-1L).as("delta"), $"event_id"))
      val run = graft.util.CacheScope.pin(
        graft.operators.Ranking.globalRunningSum(pts, $"delta",
          Seq($"t", $"delta", $"event_id"), out = "active"))
      val mx = run.agg(max($"active").as("peak"))
      run.crossJoin(broadcast(mx))
        .filter($"active" === $"peak")
        .groupBy($"peak")
        .agg(min($"t").as("peak_at_us"))
        .select($"peak", $"peak_at_us")
    },
      """WITH iv AS (SELECT event_id, epoch_us(ts) AS st,
        |  epoch_us(ts) + 600000000 AS en FROM events),
        |pts AS (SELECT st AS t, CAST(1 AS BIGINT) AS delta, event_id FROM iv
        |  UNION ALL SELECT en, CAST(-1 AS BIGINT), event_id FROM iv),
        |run AS (SELECT t, SUM(delta) OVER (ORDER BY t, delta, event_id
        |  ROWS UNBOUNDED PRECEDING) AS active FROM pts),
        |mx AS (SELECT MAX(active) AS peak FROM run)
        |SELECT CAST(mx.peak AS BIGINT) AS peak,
        |  CAST(MIN(t) AS BIGINT) AS peak_at_us
        |FROM run, mx WHERE run.active = mx.peak GROUP BY mx.peak""".stripMargin),

    // OHLC bars per (event_type, day) — the time-series downsampling
    // operator (open/high/low/close + tick count): open/close are
    // min/max over a (ts, event_id, value) struct so ties on the
    // timestamp break on the unique event id — deterministic on every
    // engine; high/low/values pass through UNTOUCHED (no double
    // arithmetic, the q_asof_join click_value contract). One
    // partial-aggregated groupBy — map-side combine does almost all
    // the work; |types|·|days| result rows at any corpus size.
    q("q_ohlc")((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select($"event_type", to_date($"ts").as("day"),
          $"ts", $"event_id", $"value")
        .groupBy($"event_type", $"day")
        .agg(min(struct($"ts", $"event_id", $"value")).as("o"),
          max(struct($"ts", $"event_id", $"value")).as("c"),
          max($"value").as("high"), min($"value").as("low"),
          count(lit(1)).as("n_ticks"))
        .select($"event_type", $"day", $"o.value".as("open"), $"high",
          $"low", $"c.value".as("close"), $"n_ticks")
        .orderBy($"event_type", $"day")
    },
      """WITH bars AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  MIN({'ts': ts, 'event_id': event_id, 'value': value}) AS o,
        |  MAX({'ts': ts, 'event_id': event_id, 'value': value}) AS c,
        |  MAX(value) AS high, MIN(value) AS low,
        |  CAST(COUNT(*) AS BIGINT) AS n_ticks
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, o.value AS open, high, low, c.value AS close,
        |  n_ticks
        |FROM bars ORDER BY event_type, day""".stripMargin),

    // 7-day trailing event volume per type — the rolling window runs
    // on the COLLAPSED (type, day) frame (|types|·|days| rows after a
    // partial-agg shuffle), never on raw events; RANGE on the integer
    // day number so calendar gaps contribute zero instead of stealing
    // a row from the frame. Integer counts end-to-end.
    q("q_rolling_7d")((s, d) => {
      import s.implicits._
      val daily = t(s, d, "events")
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("day_num", datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"day_num")
        .rangeBetween(-6, 0)
      daily.withColumn("n_7d", sum($"n_events").over(w))
        .select($"event_type", $"day", $"n_events", $"n_7d")
        .orderBy($"event_type", $"day")
    },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
        |  FROM events GROUP BY 1, 2, 4)
        |SELECT event_type, day, n_events,
        |  CAST(SUM(n_events) OVER (PARTITION BY event_type ORDER BY day_num
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM daily ORDER BY event_type, day""".stripMargin)
  )
}
