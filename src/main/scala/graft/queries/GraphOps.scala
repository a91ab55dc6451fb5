package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{Graphs, Layout}

/** Graph/layout batch: HITS hubs & authorities (the dual ranking
  * PageRank's single score conflates), deterministic LPA community
  * detection, k-core peeling, bipartite co-occurrence projection
  * (the graph CONSTRUCTOR for the ranking family), multi-source BFS
  * reachability, exact degree-assortativity sufficient statistics,
  * the per-side degree histogram, the Hilbert-curve clustering key
  * (the strictly-better-locality sibling of q_zorder's Morton code),
  * and the join-key skew profiler (the pre-flight audit that
  * predicts which keys melt a reducer BEFORE the 100-TB shuffle).
  *
  * Reproducibility contracts: HITS runs the integer micro-unit /
  * DECIMAL(38,0) L1-normalization arithmetic of the PageRank family;
  * LPA/k-core/BFS/projection are pure integer fixpoints or counts
  * with total-order tie-breaks; assortativity ships hi/lo-split
  * DECIMAL(38,0) sums; Hilbert is positive-integer CASE/mask bit
  * walking; the skew profile's Gini is an exact integer
  * cross-multiplication — every query replays bit-identically on any
  * engine/shuffle order.
  */
object GraphOps {

  /** Unrolled-iteration CTE text for the [[Graphs.hitsMicro]] oracle:
    * per round, the authority half (sum hubs over in-edges, L1
    * normalize to 1e12) then the hub half (sum authorities over
    * out-edges, normalize). HUGEINT carries raw sums and the
    * `raw·Scale` product (≈1e33 at 1e9-node scale); `//` floors back
    * exactly as Spark's DECIMAL(38,0) `div`.
    */
  private def hitsIterSql(iters: Int): String =
    (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT e.dst AS node, SUM(h.h) AS raw
         |  FROM h${k - 1} h JOIN e ON e.src = h.node GROUP BY 1),
         |at$k AS (SELECT SUM(raw) AS t FROM ar$k),
         |a$k AS MATERIALIZED (SELECT n0.node,
         |  CAST(COALESCE(ar.raw, 0) * 1000000000000 // at$k.t AS BIGINT) AS a
         |  FROM nodes n0 LEFT JOIN ar$k ar ON ar.node = n0.node CROSS JOIN at$k),
         |hr$k AS MATERIALIZED (SELECT e.src AS node, SUM(a.a) AS raw
         |  FROM a$k a JOIN e ON e.dst = a.node GROUP BY 1),
         |ht$k AS (SELECT SUM(raw) AS t FROM hr$k),
         |h$k AS MATERIALIZED (SELECT n0.node,
         |  CAST(COALESCE(hr.raw, 0) * 1000000000000 // ht$k.t AS BIGINT) AS h
         |  FROM nodes n0 LEFT JOIN hr$k hr ON hr.node = n0.node CROSS JOIN ht$k)""".stripMargin
    }.mkString(",\n")

  /** floor(log2(deg)) as a pure integer CASE chain (deg ≥ 1), shared
    * verbatim by the engine (`expr`) and the DuckDB oracle — no
    * floating log2 whose last bit could disagree at exact powers.
    * Degrees ≥ 2048 fold into the top bucket.
    */
  private val degBucketSql: String =
    (1 to 11).map(i => s"WHEN deg < ${1L << i} THEN CAST(${i - 1} AS BIGINT)")
      .mkString("CASE ", " ", " ELSE CAST(11 AS BIGINT) END")

  val all: Seq[Query] = Seq(

    // INTEGER-exact HITS over the bipartite customer→part purchase
    // graph: authorities = consensus parts (bought by many broad
    // buyers), hubs = broad well-aligned customers — the dual signal
    // a single PageRank score conflates. 3 unrolled oracle rounds
    // reproduce the L1-normalized micro-unit scores bit-for-bit; see
    // [[graft.operators.Graphs.hitsMicro]] for the scale shape (two
    // partial-aggregated edge joins per round, map-side combine on
    // hot endpoints). Part keys are offset by 1e7 into their own id
    // space so the two sides never collide.
    q("q_hits")(
      (s, d) => {
        import s.implicits._
        val edges = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 0)
          .select($"o_custkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
        Graphs.hitsMicro(edges, iters = 3).orderBy($"node")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 0),
         |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
         |h0 AS MATERIALIZED (SELECT node,
         |  CAST(1000000000000 // nn.n AS BIGINT) AS h FROM nodes, nn),
         |${hitsIterSql(3)}
         |SELECT h3.node AS node, h3.h AS hub_micro, a3.a AS auth_micro
         |FROM h3 JOIN a3 ON a3.node = h3.node
         |ORDER BY node""".stripMargin),

    // Deterministic synchronous label propagation (LPA community
    // detection) over the symmetrized customer↔part purchase graph:
    // every node starts as its own community; each of 3 rounds adopts
    // the most frequent neighbor label with the smallest-label tie
    // break — the random-tie variant made a total order, which is
    // what lets the unrolled oracle replay the rounds bit-for-bit.
    // See [[graft.operators.Graphs.labelPropagate]] for the one-join
    // + two-level-aggregate round shape (hot nodes receive one row
    // per upstream partition per distinct neighbor label).
    q("q_label_prop")(
      (s, d) => {
        import s.implicits._
        val edges = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 1)
          .select($"o_custkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
        Graphs.labelPropagate(edges, iters = 3).orderBy($"node")
      },
      s"""WITH base AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 1),
         |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT src AS u, dst AS v FROM base
         |  UNION ALL SELECT dst, src FROM base) WHERE u <> v),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
         |${(1 to 3).map { k =>
            s"""c$k AS MATERIALIZED (SELECT e.v, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
               |  FROM e JOIN l${k - 1} l ON l.node = e.u GROUP BY 1, 2),
               |l$k AS MATERIALIZED (SELECT v AS node, label FROM (
               |  SELECT v, label,
               |    row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label) AS rk
               |  FROM c$k) WHERE rk = 1)""".stripMargin
          }.mkString(",\n")}
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin),

    // k-core of the symmetrized customer↔part purchase graph: peel
    // every node of degree < 9 until none remains — the maximal
    // subgraph of min degree ≥ 9, the consensus cluster that
    // one-off/bot-like interactions cannot enter. The fixpoint is
    // deletion-order-independent, so the engine's until-converged
    // loop and the oracle's 12 unrolled peels (identity once the
    // fixpoint is reached) land on the same subgraph; see
    // [[graft.operators.Graphs.kCore]] for the per-round degree-agg +
    // two-semi-join shape and the loud maxRounds guard.
    q("q_kcore")(
      (s, d) => {
        import s.implicits._
        val edges = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 2)
          .select($"o_custkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
        Graphs.kCore(edges, k = 9).orderBy($"node")
      },
      s"""WITH base AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 2),
         |g0 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT src AS u, dst AS v FROM base
         |  UNION ALL SELECT dst, src FROM base) WHERE u <> v),
         |${(1 to 12).map { i =>
            s"""k$i AS MATERIALIZED (SELECT u AS node FROM g${i - 1}
               |  GROUP BY 1 HAVING COUNT(*) >= 9),
               |g$i AS MATERIALIZED (SELECT e.u, e.v FROM g${i - 1} e
               |  JOIN k$i a ON a.node = e.u JOIN k$i b ON b.node = e.v)""".stripMargin
          }.mkString(",\n")}
         |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM g12
         |GROUP BY 1 ORDER BY node""".stripMargin),

    // Bipartite co-occurrence projection: customer↔part incidence →
    // weighted customer–customer co-purchase edges (weight = shared
    // parts), the graph CONSTRUCTOR feeding the weighted-PageRank /
    // k-core / LPA family. Right nodes above degree 50 are dropped
    // before pairing — the celebrity guard that keeps projection work
    // at maxDeg² per right node instead of d² on the hottest part
    // (mirrored in the oracle, so dropped-is-deterministic is itself
    // under test). minShared=2 keeps edges with real co-purchase
    // signal.
    q("q_copurchase")(
      (s, d) => {
        import s.implicits._
        val edges = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 0)
          .select($"o_custkey".as("src"), $"l_partkey".as("dst"))
        Graphs.cooccurrenceProject(edges, maxDeg = 50, minShared = 2L)
          .orderBy($"a", $"b")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS l,
         |  l.l_partkey AS r
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 0),
         |keep AS (SELECT r FROM e GROUP BY 1 HAVING COUNT(*) <= 50),
         |bd AS MATERIALIZED (SELECT e.l, e.r FROM e JOIN keep USING (r))
         |SELECT x.l AS a, y.l AS b, CAST(COUNT(*) AS BIGINT) AS w
         |FROM bd x JOIN bd y ON x.r = y.r AND x.l < y.l
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY a, b""".stripMargin),

    // Multi-source BFS reachability: minimum hops from the trusted
    // customer seed set (c_custkey % 30 = 0 — inside the filtered
    // graph's id space; TPC-H customers without orders stay detached
    // and pin the seeds-at-0 contract) over the symmetrized purchase
    // graph, 4 rounds. Per
    // round one frontier-edge join + an anti-join against settled
    // nodes — total work O(|E|) across rounds, not O(rounds·|E|); see
    // [[graft.operators.Graphs.bfsHops]].
    q("q_bfs_hops")(
      (s, d) => {
        import s.implicits._
        val fwd = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 0)
          .select($"o_custkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
        val edges = fwd.unionByName(
          fwd.select($"dst".as("src"), $"src".as("dst")))
        val seeds = t(s, d, "customer").filter($"c_custkey" % 30 === 0)
          .select($"c_custkey".as("node"))
        Graphs.bfsHops(edges, seeds, maxHops = 4).orderBy($"node")
      },
      s"""WITH base AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 0),
         |e AS MATERIALIZED (SELECT src AS u, dst AS v FROM base
         |  UNION ALL SELECT dst, src FROM base),
         |s0 AS MATERIALIZED (SELECT DISTINCT c_custkey AS node,
         |  CAST(0 AS BIGINT) AS hops FROM customer WHERE c_custkey % 30 = 0),
         |f0 AS (SELECT node FROM s0),
         |${(1 to 4).map { h =>
            s"""n$h AS MATERIALIZED (SELECT nd.node FROM (
               |  SELECT DISTINCT e.v AS node FROM f${h - 1} f
               |  JOIN e ON e.u = f.node) nd
               |  LEFT JOIN s${h - 1} st ON st.node = nd.node
               |  WHERE st.node IS NULL),
               |s$h AS MATERIALIZED (SELECT node, hops FROM s${h - 1}
               |  UNION ALL SELECT node, CAST($h AS BIGINT) FROM n$h),
               |f$h AS (SELECT node FROM n$h)""".stripMargin
          }.mkString(",\n")}
         |SELECT node, hops FROM s4 ORDER BY node""".stripMargin),

    // Degree assortativity as EXACT sufficient statistics — does the
    // graph wire hubs to hubs (assortative, r>0) or hubs to leaves
    // (disassortative, r<0)? The one-number wiring health check run
    // before trusting ranking/propagation output. Pearson r over the
    // (deg u, deg v) pairs of every directed edge end; by symmetry of
    // the symmetrized frame Σx=Σy and Σx²=Σy², so the stats ship once.
    // r's square root makes the division irrational → ship the exact
    // pieces (the q_kappa_gates precedent) in DECIMAL(38,0) computed
    // sums split hi/lo into driver-safe BIGINTs (the
    // q_spearman_signals idiom): r = (n·Σxy − Σx²ᵗᵒᵗ)/(n·Σx² − Σx²ᵗᵒᵗ)
    // reader-side. Scale: one degree agg + two vocab-grain joins +
    // one total agg; Σxy ≤ deg²·2|E| ≈ 10²⁴ at 10¹²-edge corpora —
    // inside DECIMAL(38,0) everywhere.
    q("q_assortativity")(
      (s, d) => {
        import s.implicits._
        val fwd = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 0)
          .select($"o_custkey".as("src"), ($"l_partkey" + 10000000L).as("dst"))
        val e = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
          .distinct()
        val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
        e.join(deg.select($"node".as("src"), $"deg".as("x")), "src")
          .join(deg.select($"node".as("dst"), $"deg".as("y")), "dst")
          .agg(count(lit(1)).as("n_ends"),
            sum($"x".cast("decimal(19,0)")).as("_sx"),
            sum($"x".cast("decimal(19,0)") * $"y").as("_sxy"),
            sum($"x".cast("decimal(19,0)") * $"x").as("_sx2"))
          .select($"n_ends",
            expr("cast(_sx div 1000000000000000000 as long)").as("sum_x_hi"),
            expr("cast(_sx % 1000000000000000000 as long)").as("sum_x_lo"),
            expr("cast(_sxy div 1000000000000000000 as long)").as("sum_xy_hi"),
            expr("cast(_sxy % 1000000000000000000 as long)").as("sum_xy_lo"),
            expr("cast(_sx2 div 1000000000000000000 as long)").as("sum_x2_hi"),
            expr("cast(_sx2 % 1000000000000000000 as long)").as("sum_x2_lo"))
      },
      s"""WITH base AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey + 10000000 AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 0),
         |e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT src AS u, dst AS v FROM base
         |  UNION ALL SELECT dst, src FROM base)),
         |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM e GROUP BY 1),
         |j AS (SELECT dx.deg AS x, dy.deg AS y FROM e
         |  JOIN deg dx ON dx.node = e.u JOIN deg dy ON dy.node = e.v),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ends,
         |  SUM(CAST(x AS HUGEINT)) AS sx,
         |  SUM(CAST(x AS HUGEINT) * y) AS sxy,
         |  SUM(CAST(x AS HUGEINT) * x) AS sx2 FROM j)
         |SELECT n_ends,
         |  CAST(sx // 1000000000000000000 AS BIGINT) AS sum_x_hi,
         |  CAST(sx % 1000000000000000000 AS BIGINT) AS sum_x_lo,
         |  CAST(sxy // 1000000000000000000 AS BIGINT) AS sum_xy_hi,
         |  CAST(sxy % 1000000000000000000 AS BIGINT) AS sum_xy_lo,
         |  CAST(sx2 // 1000000000000000000 AS BIGINT) AS sum_x2_hi,
         |  CAST(sx2 % 1000000000000000000 AS BIGINT) AS sum_x2_lo
         |FROM t""".stripMargin),

    // Log2-bucketed degree histogram per bipartite side — the
    // distribution read BEFORE any graph work: is the part side
    // heavy-tailed (celebrity hazard for projections/joins) and how
    // wide is the customer fan-out? The bucket CASE is ONE shared SQL
    // text evaluated by both engines (pure integer compares), so the
    // histogram replays exactly.
    q("q_degree_hist")(
      (s, d) => {
        import s.implicits._
        val e = t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"o_custkey" % 3 === 0)
          .select($"o_custkey".as("src"), $"l_partkey".as("dst"))
          .distinct()
        val deg = e.select(lit("cust").as("side"), $"src".as("node"))
          .unionByName(e.select(lit("part").as("side"), $"dst".as("node")))
          .groupBy($"side", $"node").agg(count(lit(1)).as("deg"))
        deg.groupBy($"side", expr(degBucketSql).as("bucket"))
          .agg(count(lit(1)).as("n_nodes"),
            min($"deg").as("min_deg"), max($"deg").as("max_deg"))
          .orderBy($"side", $"bucket")
      },
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src,
         |  l.l_partkey AS dst
         |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         |  WHERE o.o_custkey % 3 = 0),
         |deg AS (SELECT side, node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |  SELECT 'cust' AS side, src AS node FROM e
         |  UNION ALL SELECT 'part', dst FROM e) GROUP BY 1, 2)
         |SELECT side, $degBucketSql AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  MIN(deg) AS min_deg, MAX(deg) AS max_deg
         |FROM deg GROUP BY 1, 2 ORDER BY side, bucket""".stripMargin),

    // Hilbert-curve clustering key over the same (user bucket, hour
    // bucket) plane as q_zorder — consecutive Hilbert codes are
    // ALWAYS grid neighbors where Morton order teleports across the
    // plane at power-of-two boundaries, so the sorted layout's row
    // groups carry tighter x/y min-max for the same sort cost. Per
    // event so the 10-round quadrant-rotation bit walk itself is
    // oracle-pinned (positive-integer CASE/mask ops, identical on
    // both engines); map-only until the final ORDER BY.
    q("q_hilbert_layout")(
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
          .select($"event_id", ($"user_id" % 1024).as("x"),
            (expr("(unix_micros(ts) + 15778800000000000) div 3600000000") % 1024).as("y"))
        ev.withColumn("hkey", Layout.hilbert2($"x", $"y", bits = 10))
          .orderBy($"hkey", $"event_id")
      },
      s"""WITH b AS (SELECT event_id,
         |  CAST(user_id % 1024 AS BIGINT) AS x,
         |  CAST(((epoch_us(ts) + 15778800000000000) // 3600000000) % 1024 AS BIGINT) AS y
         |  FROM events),
         |${Layout.hilbert2Sql("SELECT event_id, x, y FROM b", Seq("event_id"), bits = 10)}
         |SELECT event_id, x, y, d AS hkey FROM hb10
         |ORDER BY hkey, event_id""".stripMargin),

    // Exact join-cardinality prediction — q_key_skew's sibling audit:
    // the EXACT output size of lineitem ⋈ lineitem on l_partkey
    // (Σ_k cntA·cntB over two count aggregations and a vocab-grain
    // join — never the join itself), the worst key's single-reducer
    // output, and the top-20 contributors. The number AQE can only
    // react to after the shuffle is already on disk; hi/lo-split
    // DECIMAL(38,0) total, loud int64 guard on the per-key product.
    // See [[graft.ops.Profile.joinCardinality]].
    q("q_join_cardinality")(
      (s, d) => {
        val li = t(s, d, "lineitem")
        graft.ops.Profile.joinCardinality(li, li, "l_partkey", "l_partkey",
          topK = 20)
      },
      """WITH ca AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt_a
        |  FROM lineitem GROUP BY 1),
        |per AS (SELECT k, cnt_a, cnt_a AS cnt_b,
        |  CAST(cnt_a AS HUGEINT) * cnt_a AS o FROM ca),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
        |  CAST(SUM(o) // 1000000000000000000 AS BIGINT) AS out_total_hi,
        |  CAST(SUM(o) % 1000000000000000000 AS BIGINT) AS out_total_lo FROM per),
        |top AS (SELECT k, cnt_a, cnt_b, CAST(o AS BIGINT) AS out_rows,
        |  CAST(row_number() OVER (ORDER BY o DESC, k) AS BIGINT) AS rank
        |  FROM per QUALIFY rank <= 20)
        |SELECT t.rank, t.k, t.cnt_a, t.cnt_b, t.out_rows,
        |  g.out_total_hi, g.out_total_lo, g.n_join_keys
        |FROM top t CROSS JOIN tot g ORDER BY t.rank""".stripMargin),

    // Join-key skew profiler — the pre-flight audit run BEFORE
    // shuffling 100 TB on a key: per-key counts, the top-20 heavy
    // hitters with their row share, and the exact Gini coefficient of
    // the key distribution (0 = uniform, →1 = one key owns the
    // table), in ppm. A key with share_ppm ≫ 10⁶/numPartitions is
    // the one that melts a reducer and wants salting
    // ([[graft.operators.Salting]]) or AQE skew handling. See
    // [[graft.ops.Profile.keySkewProfile]] for the exact-Gini
    // arithmetic and the range-partitioned ranking shape.
    q("q_key_skew")(
      (s, d) => graft.ops.Profile.keySkewProfile(
        t(s, d, "events"), keyCol = "user_id", topK = 20),
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |rk AS (SELECT user_id, cnt,
        |  row_number() OVER (ORDER BY cnt, user_id) AS r FROM c),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  SUM(CAST(cnt AS HUGEINT)) AS s,
        |  SUM(CAST(r AS HUGEINT) * cnt) AS s1 FROM rk),
        |gini AS (SELECT n_keys, s,
        |  CAST((2 * s1 - (n_keys + 1) * s) * 1000000 // (n_keys * s) AS BIGINT)
        |    AS gini_ppm FROM st),
        |top AS (SELECT user_id, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank
        |  FROM c QUALIFY rank <= 20)
        |SELECT t.rank, t.user_id, t.cnt,
        |  CAST(CAST(t.cnt AS HUGEINT) * 1000000 // g.s AS BIGINT) AS share_ppm,
        |  g.n_keys, g.gini_ppm
        |FROM top t CROSS JOIN gini g ORDER BY t.rank""".stripMargin),

    // Connected components by the ALTERNATING big-star algorithm on a
    // planted HIGH-DIAMETER graph — the case a min-label propagation
    // loop is wrong for (labels crawl one hop per round): within-segment
    // doc-id paths (diameter 49 per 50-doc segment) bridged every
    // 1000 docs into ~100-node chains. The engine runs
    // [[Graphs.connectedComponents]] (O(log²) rounds, spec-pinned
    // round count); the oracle replays the closure with a
    // recursive CTE — component ids are exact integers, so the frames
    // hash-match bit-for-bit. Output mirrors q_dedup_clusters:
    // (doc_id, cluster_id, n_members).
    q("q_cc_bigstar")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select($"doc_id")
        val e1 = docs.as("a").join(docs.as("b"),
            col("b.doc_id") === col("a.doc_id") + 1 && col("a.doc_id") % 50 =!= 49)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val e2 = docs.as("a").join(docs.as("b"),
            col("b.doc_id") === col("a.doc_id") + 250 && col("a.doc_id") % 1000 === 0)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val comp = Graphs.connectedComponents(e1.unionByName(e2))
        comp.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
          .join(comp, "cluster_id")
          .select($"id".as("doc_id"), $"cluster_id", $"n_members")
          .orderBy($"doc_id")
      },
      """WITH RECURSIVE
        |e1 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 50 <> 49),
        |e2 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 250 WHERE a.doc_id % 1000 = 0),
        |edges AS MATERIALIZED (SELECT src, dst FROM e1
        |  UNION ALL SELECT dst, src FROM e1
        |  UNION ALL SELECT src, dst FROM e2
        |  UNION ALL SELECT dst, src FROM e2),
        |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
        |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.id AS doc_id, c.cluster_id, n.n_members
        |FROM comp c JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM comp GROUP BY cluster_id) n USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),

    // Per-node triangle participation + degree over the hourly
    // co-purchase graph (q_triangles' fixture) — the sufficient
    // statistics of the LOCAL clustering coefficient
    // (2·n_tri/(deg·(deg−1)); the irrational division stays
    // reader-side, the q_kappa_gates convention), the per-node
    // cohesion signal the one-row global count cannot express. See
    // [[Graphs.nodeTriangles]] for the degree-ordered enumeration
    // that keeps a celebrity's wedge work at O(√|E|) per node. The
    // oracle enumerates each triangle once via the canonical
    // edge-closure join and counts all three corners.
    q("q_node_triangles")(
      (s, d) => {
        import s.implicits._
        val p = t(s, d, "events")
          .filter($"event_type" === "purchase" && $"user_id" % 7 === 0)
          .select(expr("(unix_micros(ts) + 15778800000000000) div 3600000000").as("h"),
            $"user_id")
          .distinct()
        val edges = p.as("x").join(p.as("y"),
            $"x.h" === $"y.h" && $"x.user_id" < $"y.user_id")
          .select($"x.user_id".as("src"), $"y.user_id".as("dst"))
        Graphs.nodeTriangles(edges).orderBy($"node")
      },
      """WITH p AS (SELECT DISTINCT
        |  (epoch_us(ts) + 15778800000000000) // 3600000000 AS h, user_id
        |  FROM events WHERE event_type = 'purchase' AND user_id % 7 = 0),
        |e AS MATERIALIZED (SELECT DISTINCT a.user_id AS a, b.user_id AS b FROM p a
        |  JOIN p b ON b.h = a.h AND a.user_id < b.user_id),
        |tri AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) GROUP BY 1),
        |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
        |SELECT d.v AS node, d.degree, COALESCE(pn.n_tri, CAST(0 AS BIGINT)) AS n_tri
        |FROM deg d LEFT JOIN pn ON pn.v = d.v
        |ORDER BY node""".stripMargin),

    // INCREMENTAL component maintenance under the driver gate
    // ([[Graphs.mergeComponents]]): cluster the within-segment paths
    // FIRST (batch 1), then fold the bridge edges in as a second
    // batch against the LABELS ONLY — the accumulated pair set is
    // read zero times, the streaming-dedup lifecycle shape. The
    // result must equal the from-scratch closure of ALL edges, which
    // is exactly q_cc_bigstar's oracle — a star forest is
    // connectivity-equivalent to every edge set that produced it.
    q("q_cc_incremental")(
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents").select($"doc_id")
        val e1 = docs.as("a").join(docs.as("b"),
            col("b.doc_id") === col("a.doc_id") + 1 && col("a.doc_id") % 50 =!= 49)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val e2 = docs.as("a").join(docs.as("b"),
            col("b.doc_id") === col("a.doc_id") + 250 && col("a.doc_id") % 1000 === 0)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val batch1 = Graphs.connectedComponents(e1)
        val comp = Graphs.mergeComponents(batch1, e2)
        comp.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
          .join(comp, "cluster_id")
          .select($"id".as("doc_id"), $"cluster_id", $"n_members")
          .orderBy($"doc_id")
      },
      """WITH RECURSIVE
        |e1 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 50 <> 49),
        |e2 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 250 WHERE a.doc_id % 1000 = 0),
        |edges AS MATERIALIZED (SELECT src, dst FROM e1
        |  UNION ALL SELECT dst, src FROM e1
        |  UNION ALL SELECT src, dst FROM e2
        |  UNION ALL SELECT dst, src FROM e2),
        |reach(id, r) AS (SELECT DISTINCT src AS id, src AS r FROM edges
        |  UNION SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.id AS doc_id, c.cluster_id, n.n_members
        |FROM comp c JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM comp GROUP BY cluster_id) n USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),

    // Association rules over order baskets (market-basket mining):
    // support / confidence / lift for every part pair co-purchased in
    // ≥ 2 orders. Confidence and lift are integer ppm via the
    // DECIMAL(38,0)-product `div` idiom (q_pagerank_weighted's), so
    // the ratios replay bit-identically — 1e6·n_ab·n_orders ≈ 1.5e21
    // at 100 TB, far inside DECIMAL(38,0). Scale shape: baskets above
    // 100 DISTINCT items drop before pairing (the co-occurrence
    // family's celebrity guard — pair work stays Σ m² ≤ cap·|rows|,
    // a no-op on TPC-H's ≤13-item baskets but the bound that survives
    // a pathological mega-basket), the 1-row order count broadcasts,
    // and everything else is partial-aggregated equi-joins.
    q("q_assoc_rules")(
      (s, d) => {
        import s.implicits._
        Graphs.assocRules(
            t(s, d, "lineitem").select($"l_orderkey", $"l_partkey"),
            basketCol = "l_orderkey", itemCol = "l_partkey",
            maxBasketSize = 100, minSupport = 2L)
          .orderBy($"item_a", $"item_b")
      },
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |keep AS (SELECT l_orderkey FROM li GROUP BY 1 HAVING COUNT(*) <= 100),
        |b AS MATERIALIZED (SELECT li.* FROM li JOIN keep USING (l_orderkey)),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM b),
        |item AS MATERIALIZED (SELECT l_partkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_item FROM b GROUP BY 1),
        |pairs AS MATERIALIZED (SELECT a.l_partkey AS item_a,
        |  b2.l_partkey AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM b a JOIN b b2 ON b2.l_orderkey = a.l_orderkey
        |    AND a.l_partkey < b2.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        |  n.n_baskets,
        |  1000000 * p.n_ab // ia.n_item AS conf_ppm,
        |  CAST(CAST(1000000 AS HUGEINT) * p.n_ab * n.n_baskets
        |    // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_ppm
        |FROM pairs p JOIN item ia ON ia.l_partkey = p.item_a
        |JOIN item ib ON ib.l_partkey = p.item_b CROSS JOIN n
        |ORDER BY item_a, item_b""".stripMargin))
}
