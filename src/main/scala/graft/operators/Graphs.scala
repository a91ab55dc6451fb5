package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge frames: exact triangle
  * counting by the degree-ordered node-iterator (Schank/Wagner; the
  * MapReduce classic from Suri/Vassilvitskii's "Counting Triangles and
  * the Curse of the Last Reducer"), label propagation, k-core, BFS,
  * PageRank/HITS, and the engine's one connected-components operator —
  * the dedup family's transitive clustering runs on it too.
  */
object Graphs {

  /** Exact global triangle count. `edges` is an undirected edge list
    * (`srcCol`, `dstCol`) — canonicalized, self-loops dropped, and
    * deduped here, so multigraph input is fine.
    *
    * Scale shape — why this survives skew: wedges are generated from
    * each node's OUT-neighbors under the (degree, id) orientation
    * (every edge points low→high), so a celebrity node with degree d
    * contributes wedges bounded by its out-degree ≤ O(√|E|), not d²
    * — the "last reducer" on a power-law graph does O(|E|) work
    * instead of O(d_max²). Three shuffles total: canonicalize+dedup,
    * degree aggregation, and the wedge/closing equi-joins. Each
    * triangle is counted exactly once, at its lowest-(degree, id)
    * apex.
    */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val (tris, deg, canon) = triangleTuples(edges, srcCol, dstCol)
    val tri = tris.agg(count(lit(1)).as("n_triangles"))
    val stats = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Per-node triangle participation + degree — the sufficient
    * statistics of the LOCAL clustering coefficient
    * (2·n_tri / (deg·(deg−1)); the division stays reader-side so the
    * frame is integer-exact on any engine): a per-node cohesion
    * signal where [[triangleCount]] is the one-row global. Same
    * degree-ordered enumeration (each triangle materializes exactly
    * once, at its lowest-(degree, id) apex), then each triangle's
    * three corners take one count each — one explode + one
    * map-side-combinable aggregation over the triangle tuples, which
    * are already bounded by the orientation's O(|E|^1.5) wedge work.
    * Triangle-free nodes report 0, never disappear.
    */
  def nodeTriangles(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val (tris, deg, _) = triangleTuples(edges, srcCol, dstCol)
    val perNode = tris
      .select(explode(array(col("u"), col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("v").as("node"), col("d").as("degree"), col("n_tri"))
  }

  /** The shared degree-ordered triangle enumeration behind
    * [[triangleCount]] and [[nodeTriangles]] — see triangleCount's
    * scaladoc for the skew argument. Returns (triangles (u, a, b) with
    * u the apex, degrees (v, d), canonical edges (a, b)). */
  private def triangleTuples(edges: DataFrame, srcCol: String,
                             dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    val canon = graft.util.CacheScope.pin(
      edges.select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct())
    val deg = canon.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient each edge from the lower (degree, id) endpoint
    val withDeg = canon
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val oriented = graft.util.CacheScope.pin(withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
        .otherwise(col("a")).as("w")))
    // wedges: unordered pairs of out-neighbors of the same apex
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.w") < col("y.w"))
      .select(col("x.u").as("u"), least(col("x.w"), col("y.w")).as("a"),
        greatest(col("x.w"), col("y.w")).as("b"))
    val tris = wedges.join(canon, Seq("a", "b"), "left_semi")
    (tris, deg, canon)
  }

  /** Synchronous label propagation (Raghavan et al.'s LPA) made fully
    * deterministic — the near-linear community detector that segments
    * a co-occurrence graph into interaction clusters without a K or a
    * distance metric. Every node starts labeled with its own id; each
    * round, every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — the classic
    * random-tie-break variant replaced with a total order so the
    * result replays bit-identically on any engine and shuffle order
    * (what makes the unrolled SQL oracle possible). Fixed `iters`
    * synchronous rounds (the asynchronous/until-fixpoint variant is
    * order-dependent by construction; synchronous LPA can oscillate
    * on bipartite structure, so communities are read at a declared
    * round, not a fixpoint).
    *
    * Scale shape: edges symmetrized + deduped once (cached); each
    * round is ONE label join on the src side + a two-level aggregate
    * — (dst, label) partial counts, then the per-dst argmax via a
    * single min(struct(inv_cnt, label)) (map-side combinable; a hot
    * node receives one row per upstream partition per distinct
    * neighbor label, not per edge). Lineage cut per round. Isolated
    * nodes cannot occur (nodes are induced from edges).
    *
    * Output: (node, label) for every node of the symmetrized graph.
    */
  def labelPropagate(edges: DataFrame, iters: Int = 3,
                     srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"labelPropagate needs iters >= 1, got $iters")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = graft.util.CacheScope.pin(
      fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct())
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    // lineage cut every few rounds, not every round: a ≤3-round chain
    // (one join + two aggs per level) is a shallow plan, and each
    // skipped checkpoint saves a materialization barrier; the final
    // round is consumed exactly once by the caller's action, so it
    // never needs a cut of its own
    for (it <- 1 to iters) {
      labels = sym.join(labels, sym("u") === labels("node"))
        .groupBy(col("v"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, label asc) as ONE min-aggregate:
        // inv = Long.Max - cnt is exact and keeps the struct order
        // integer-only, so the combiner runs map-side
        .groupBy(col("v"))
        .agg(min(struct((lit(Long.MaxValue) - col("cnt")).as("inv"),
          col("label"))).as("m"))
        .select(col("v").as("node"), col("m.label").as("label"))
      if (it % 3 == 0 && it != iters) labels = labels.localCheckpoint()
    }
    labels
  }

  /** k-core of an undirected graph by synchronous peeling — the
    * dense-subgraph extractor (spam/bot rings, consensus clusters):
    * repeatedly delete EVERY node whose current degree is below `k`
    * until none remains below. The peeling fixpoint is unique (the
    * k-core is the maximal subgraph with min degree ≥ k regardless of
    * deletion order), so the result is engine- and
    * shuffle-order-independent even though the round count is
    * data-dependent.
    *
    * Scale shape: edges symmetrized + deduped once; each round is one
    * degree aggregation + two semi-joins restricting the edge frame
    * to surviving endpoints, with a lineage cut per round. The frame
    * only shrinks. Rounds are bounded by `maxRounds` (the synchronous
    * peel converges in O(√|E|) rounds on real graphs — typically a
    * handful); the loop stops early at the fixpoint via one cached
    * edge count per round (control-grain scalar). Fails loudly if the
    * bound is hit before the fixpoint rather than returning a
    * not-yet-core frame.
    *
    * Output: (node, deg) for every k-core member, `deg` its degree
    * INSIDE the core (≥ k by construction); empty frame when the core
    * is empty.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(maxRounds >= 1, s"kCore needs maxRounds >= 1, got $maxRounds")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val obs0 = new org.apache.spark.sql.Observation()
    var g = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .observe(obs0, count(lit(1)).as("n_edges")).localCheckpoint()
    var nEdges = graft.util.Metrics.long(obs0, "n_edges", g.count())
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val deg = g.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("node"))
      // the fixpoint count rides the checkpoint's own materialization
      // job via an Observation (the merge writer's idiom) — one job
      // per round instead of checkpoint + count. Fallback to an
      // explicit count only if the observation never fires.
      val obs = new org.apache.spark.sql.Observation()
      g = g.join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .observe(obs, count(lit(1)).as("n_edges"))
        .localCheckpoint()
      val n = graft.util.Metrics.long(obs, "n_edges", g.count())
      converged = n == nEdges
      nEdges = n
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore: no fixpoint within $maxRounds rounds (edges still shrinking " +
          s"at $nEdges) — raise maxRounds")
    g.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Bipartite co-occurrence projection — the graph CONSTRUCTOR for
    * the ranking family: project a (left, right) incidence frame onto
    * weighted left-left edges, weight = number of shared right
    * neighbors (co-purchases, co-citations, shared n-grams). The
    * output feeds [[pageRankMicro]]'s weighted variant, [[kCore]],
    * and [[labelPropagate]] directly.
    *
    * Scale shape — the celebrity-right-node hazard is the whole
    * problem: a right node of degree d yields d² pairs, so `maxDeg`
    * DROPS right nodes above the bound (the standard projection
    * guard: a part bought by everyone says nothing about taste
    * anyway — same argument as the stopword cut and the LSH hot-
    * bucket cap). Dropped = deterministic, documented, and mirrored
    * in the oracle; pair generation is then one self-join on the
    * right key bounded by maxDeg² per group.
    *
    * Output: (a, b, w) with a < b, w ≥ minShared.
    */
  def cooccurrenceProject(edges: DataFrame, leftCol: String = "src",
                          rightCol: String = "dst", maxDeg: Int = 1000,
                          minShared: Long = 1L): DataFrame = {
    require(maxDeg >= 2, s"cooccurrenceProject needs maxDeg >= 2, got $maxDeg")
    // ONE exchange on the right key feeds the whole projection:
    // HashPartitioning(r) satisfies the distinct's (l, r) clustering,
    // the degree aggregation's (r) grouping, the semi-join's and the
    // pairing self-join's (r) keys — so after this repartition none of
    // them exchanges again (previously: distinct at (l,r) grain, then
    // the self-join re-exchanged the cached frame by r on both sides).
    // Only the (a, b) pair aggregation still shuffles — that one is
    // fundamental.
    val e = edges.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .repartition(col("r")).distinct()
    val keep = e.groupBy(col("r")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg).select(col("r"))
    // pinned: the guarded incidence frame feeds BOTH sides of the
    // pairing self-join — without the pin the scan + distinct + degree
    // guard subtree plans twice (the assocRules precedent; exchange
    // reuse is not guaranteed across the two aliased sides)
    val bounded = graft.util.CacheScope.pin(e.join(keep, Seq("r"), "left_semi"))
    bounded.as("x").join(bounded.as("y"),
        col("x.r") === col("y.r") && col("x.l") < col("y.l"))
      .groupBy(col("x.l").as("a"), col("y.l").as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minShared)
  }

  /** Association rules over (basket, item) incidence — market-basket
    * mining's support / confidence / lift for every item pair
    * co-occurring in at least `minSupport` baskets. Confidence and
    * lift come out as integer PPM via the DECIMAL(38,0)-product `div`
    * idiom (the [[pageRankMicroWeighted]] exactness contract), so the
    * ratios replay bit-identically on any engine and shuffle order:
    * conf(a→b) = 1e6·n_ab div n_a, lift = 1e6·n_ab·n_baskets div
    * (n_a·n_b) — 1e6·1e6·1.5e9 ≈ 1.5e21 at 100 TB, far inside
    * DECIMAL(38,0).
    *
    * Scale shape: baskets holding more than `maxBasketSize` DISTINCT
    * items are dropped BEFORE pairing (the [[cooccurrenceProject]]
    * celebrity guard — pair work stays Σ m² ≤ cap·|rows| instead of
    * d² on one mega-basket; dropped = deterministic and mirrored in
    * the oracle); the 1-row basket count broadcasts; everything else
    * is partial-aggregated equi-joins on the basket / item keys.
    *
    * Output: (item_a, item_b, n_ab, n_a, n_b, n_baskets, conf_ppm,
    * lift_ppm) with item_a < item_b, n_ab ≥ minSupport. conf_ppm is
    * the a→b direction; the b→a confidence is n_ab/n_b, derivable
    * from the shipped counts.
    */
  def assocRules(items: DataFrame, basketCol: String = "basket",
                 itemCol: String = "item", maxBasketSize: Int = 100,
                 minSupport: Long = 2L): DataFrame = {
    require(maxBasketSize >= 2, s"assocRules needs maxBasketSize >= 2, got $maxBasketSize")
    // ONE exchange on the basket key feeds the whole mining pass:
    // HashPartitioning(bk) satisfies the distinct's (bk, it)
    // clustering, the size guard's (bk) grouping, the semi-join's and
    // the pairing self-join's (bk) keys, and the basket count — so
    // after this repartition none of them exchanges again
    // (previously: distinct at (bk, it) grain, then the self-join
    // re-exchanged the cached frame by bk on both sides). The item
    // counts and the (item_a, item_b) pair aggregation still shuffle —
    // item-keyed by nature.
    val li = items.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .repartition(col("bk")).distinct()
    val keep = li.groupBy(col("bk")).agg(count(lit(1)).as("m"))
      .filter(col("m") <= maxBasketSize).select(col("bk"))
    // pinned: the guarded basket frame feeds four consumers (basket
    // count, item counts, both self-join sides). The self-join shape
    // is deliberate: both sides are the SAME plan, so Spark reuses one
    // exchange and the pairing stays whole-stage-codegen'd — the
    // collect-sorted-array + higher-order-function pair explode was
    // measured 1.5-1.7× SLOWER here (HOF lambdas run interpreted),
    // with no shuffle-row savings.
    val b = graft.util.CacheScope.pin(li.join(keep, Seq("bk"), "left_semi"))
    val nBaskets = b.agg(countDistinct(col("bk")).as("n_baskets"))
    val item = b.groupBy(col("it")).agg(count(lit(1)).as("n_item"))
    val pairs = b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(item.select(col("it").as("item_a"), col("n_item").as("n_a")), "item_a")
      .join(item.select(col("it").as("item_b"), col("n_item").as("n_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_baskets"),
        expr("1000000 * n_ab div n_a").as("conf_ppm"),
        expr("""CAST(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_baskets
               | div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"""
          .stripMargin).as("lift_ppm"))
  }

  /** Multi-source BFS: the minimum hop distance from any seed within
    * `maxHops` rounds — the reachability audit (how much of the link
    * graph do the trusted seeds cover, and how fast). Unreachable-
    * within-bound nodes are absent from the output (their distance is
    * not 0 or ∞-as-a-sentinel — they simply don't appear, the
    * frame-native encoding).
    *
    * Scale shape: per round ONE frontier-edge join + a min-distance
    * merge (map-side combinable), frontier = nodes first reached that
    * round only — already-settled nodes never rejoin (the standard
    * frontier pruning, anti-join against the settled frame), so total
    * work is O(|E|) across all rounds on a connected expansion, not
    * O(rounds·|E|). Lineage cut per round. Directed: edges are
    * followed src→dst; symmetrize upstream for undirected reach.
    *
    * Output: (node, hops) for every node within `maxHops` of a seed
    * (seeds at 0). Seeds not present in the graph still appear at 0 —
    * reachability FROM them is what's being measured.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int,
              srcCol: String = "src", dstCol: String = "dst",
              seedCol: String = "node"): DataFrame = {
    require(maxHops >= 1, s"bfsHops needs maxHops >= 1, got $maxHops")
    val e = graft.util.CacheScope.pin(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct())
    var settled = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("hops")).localCheckpoint()
    var frontier = settled
    var h = 1
    // the checkpointed frontier makes the empty test a control-grain
    // scalar; an exhausted frontier ends the walk early
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("node") === e("u"))
        .select(col("v").as("node")).distinct()
        .join(settled.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
        .localCheckpoint()
      settled = settled.unionByName(next).localCheckpoint()
      frontier = next
      h += 1
    }
    settled
  }

  /** PageRank scale: ranks are integers in units of 1e-12 of the total
    * probability mass. */
  val RankScale: Long = 1000000000000L

  /** INTEGER-exact PageRank — the link-graph quality prior web-corpus
    * curation pipelines rank sources/pages by. All arithmetic is
    * integer micro-units (ranks in 1e-12 of the mass, [[RankScale]]):
    * per-edge contribution = `rank div out_deg` (integral division),
    * damping applied as an exact DECIMAL(38,0) product divided back to
    * BIGINT (the [[graft.curation.Sampling.waterFill]] idiom) — so
    * every iteration is order-independent integer math, bit-identical
    * on any engine and any shuffle order, with NO float anywhere.
    * That determinism is what lets a SQL oracle (and a re-run on a
    * different cluster) reproduce ranks EXACTLY — float PageRank never
    * replays bit-identically under reduction reorder.
    *
    * Semantics (the standard simple variant, documented): damping d
    * (as `dampingMicro`/[[RankScale]]); every node gets the uniform
    * base `(Scale − D) div N` each round; dangling-node mass is
    * DROPPED, not redistributed, and integral divisions shave ≤1 unit
    * each — ranks sum to slightly under [[RankScale]] and are a
    * ranking signal, not a calibrated distribution (at 1e-12 grain
    * the shave is far below any ranking decision).
    *
    * Scale shape: per iteration ONE equi-join of the rank frame onto
    * the edge list (shuffle on the node key) + one partial-aggregated
    * sum shuffle on the destination; degrees computed once; N is a
    * 1-row broadcast. Lineage is cut per round (`localCheckpoint`),
    * so the plan stays O(1) deep instead of O(iters) — the
    * [[graft.sim.Similarity.kmeansFit]] precedent. Power-law skew: a
    * celebrity DESTINATION is one hot reducer key per iteration —
    * partial aggregation combines map-side, so the hot key receives
    * one row per upstream partition, not per in-edge.
    *
    * Output: (node, rank_micro, out_deg) — one row per node that
    * appears in `edges` (either side).
    */
  def pageRankMicro(edges: DataFrame, iters: Int = 5,
                    dampingMicro: Long = 850000000000L,
                    srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    pageRankCore(edges, iters, dampingMicro, srcCol, dstCol, seeds = None, "node")

  /** PERSONALIZED [[pageRankMicro]]: the teleport mass restarts at the
    * `seeds` node set instead of uniformly — the seed-set EXPANSION
    * operator a curation pipeline runs over its similarity/link graph
    * ("score everything by proximity to the docs/sources we already
    * trust"). Seeds get the initial mass and the per-round base
    * `(Scale − D) div |seeds∩nodes|`; every other node starts (and
    * teleports) at zero, so rank flows outward from the seeds only
    * through edges — same integer exactness, same per-iteration cost.
    * Seeds outside the graph's node set are ignored.
    */
  def pageRankMicroSeeded(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                          dampingMicro: Long = 850000000000L,
                          srcCol: String = "src", dstCol: String = "dst",
                          seedCol: String = "node"): DataFrame =
    pageRankCore(edges, iters, dampingMicro, srcCol, dstCol, Some(seeds), seedCol)

  /** WEIGHTED-edge [[pageRankMicro]] — real link/co-occurrence graphs
    * carry multiplicities (shared hours, anchor counts, co-purchase
    * counts), and an unweighted walk throws that evidence away. Each
    * edge's contribution is `rank·w div Σw_out(src)` (the per-source
    * weight total replacing the out-degree): the product runs in
    * DECIMAL(38,0) — rank ≤ 1e12 times an int64 weight overflows
    * int64 — and `div` floors it back to BIGINT, the same
    * exact-arithmetic contract as the damping product, so weighted
    * ranks keep the bit-identical-across-engines/shuffle-orders
    * property the SQL oracle depends on. Uniform weights reproduce
    * [[pageRankMicro]] EXACTLY (`rank·1 div Σ1 = rank div out_deg` —
    * pinned by spec). Weights must be positive integers (asserted
    * in-plan, per edge); same per-iteration cost and skew behavior as
    * the unweighted core.
    *
    * Output: (node, rank_micro, w_out) — `w_out` the node's total
    * outgoing weight (0 for dangling nodes).
    */
  def pageRankMicroWeighted(edges: DataFrame, iters: Int = 5,
                            dampingMicro: Long = 850000000000L,
                            srcCol: String = "src", dstCol: String = "dst",
                            weightCol: String = "w"): DataFrame =
    pageRankCore(edges, iters, dampingMicro, srcCol, dstCol, seeds = None,
      "node", weight = Some(weightCol))

  /** Per-iteration convergence report for the PageRank family — the
    * frame that tells a user whether `iters` was enough instead of
    * leaving them to guess: one row per iteration with the max
    * absolute rank change and how many nodes moved at all. Runs the
    * same integer-exact loop (optionally weighted / seeded) and adds
    * ONE node-keyed join + 1-row aggregate per iteration over the
    * already-checkpointed rank frames — the report costs one extra agg
    * per round, never a second PageRank.
    *
    * Output: (iter 1-based, max_delta_micro, n_changed) — a converged
    * walk shows max_delta_micro collapsing toward 0; readers pick the
    * first iteration under their tolerance.
    */
  def pageRankConvergence(edges: DataFrame, iters: Int = 5,
                          dampingMicro: Long = 850000000000L,
                          srcCol: String = "src", dstCol: String = "dst",
                          weightCol: Option[String] = None,
                          seeds: Option[DataFrame] = None,
                          seedCol: String = "node"): DataFrame = {
    val sink = scala.collection.mutable.Buffer.empty[DataFrame]
    // the returned rank frame is discarded — the checkpointed
    // per-iteration frames the sink captured are what the report reads
    pageRankCore(edges, iters, dampingMicro, srcCol, dstCol, seeds, seedCol,
      weight = weightCol, deltaSink = Some(sink))
    sink.reduce(_ unionByName _).orderBy(col("iter"))
  }

  /** INTEGER-exact HITS (Kleinberg hubs & authorities) — the
    * bipartite-graph ranking that separates "links to many good
    * things" (hub) from "is linked by many good hubs" (authority):
    * on a customer→item purchase graph the authorities are the
    * consensus items and the hubs the broad, well-aligned buyers —
    * the dual signal PageRank's single score conflates. Same
    * exact-arithmetic contract as [[pageRankMicro]]: scores are
    * BIGINT micro-units of [[RankScale]], each half-iteration sums
    * the opposite score over edges in DECIMAL(38,0) (an int64 raw
    * sum would overflow at ~9·10⁶ nodes × full mass) and then
    * L1-normalizes by `raw·Scale div Σraw` — an exact
    * DECIMAL(38,0) product floored back to BIGINT, so the scores
    * replay bit-identically on any engine and shuffle order (the
    * classic L2-normalized float HITS never does; L1 keeps the
    * ranking and makes the SQL oracle possible).
    *
    * Scale shape: per iteration TWO edge-keyed equi-joins + partial-
    * aggregated sums (authority: shuffle on dst; hub: shuffle on
    * src) and two 1-row broadcast totals; lineage cut per round
    * (`localCheckpoint`), hot endpoints receive one row per upstream
    * partition thanks to map-side combine — the [[pageRankMicro]]
    * skew argument, both directions.
    *
    * Output: (node, hub_micro, auth_micro) for every node on either
    * side of `edges`; pure sources carry auth 0, pure sinks hub 0.
    * Fails loudly on an empty edge frame — driver-side, on the pinned
    * edge frame: an in-plan assert cannot fire when zero rows flow
    * (empty-relation propagation silently returns an empty result
    * instead), and the check forces the cached dedup every iteration
    * reuses anyway, so it costs no extra pass.
    */
  def hitsMicro(edges: DataFrame, iters: Int = 3,
                srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1, s"hitsMicro needs iters >= 1, got $iters")
    val e = graft.util.CacheScope.pin(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    if (e.isEmpty)
      throw new IllegalArgumentException(
        "hitsMicro: empty edge frame — no nodes to score")
    val nodes = graft.util.CacheScope.pin(
      e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node")))
        .distinct())
    // node count once, as a driver scalar (it is iteration-invariant):
    // the per-round plans carry it as a literal instead of re-aggregating
    // + broadcasting a 1-row frame every half-step
    val n = nodes.count()
    // SPARSE half-step frames: a node absent from a raw frame scores 0,
    // and a 0 score contributes nothing to the next half-step's edge sum
    // or to the L1 total — so the per-round node-grain completion joins
    // (and their checkpoints) are pure overhead. Scores stay sparse
    // through the loop; the zero-fill to node grain happens ONCE at the
    // end. Values are bit-identical to the dense loop.
    // dense init off the already-materialized node cache (sinks carry
    // h0 too but never match an src, so aRaw is unchanged) — no extra
    // distinct or checkpoint for the initial frame
    var hubs = nodes.select(col("node"), lit(RankScale / n).as("h"))
    var auths: DataFrame = null
    // L1 total of a checkpointed raw frame, as an exact decimal literal
    // for the normalization expression (1-row aggregate read)
    def totalOf(raw: DataFrame): java.math.BigDecimal = {
      val t = raw.agg(sum(col("raw"))).head.getDecimal(0)
      require(t != null && t.signum > 0,
        "hitsMicro: zero score mass — normalization would divide by zero")
      t
    }
    for (_ <- 1 to iters) {
      // authority update: sum of hub scores over in-edges, L1-normalized.
      // The raw frame is read twice (total + normalize) — checkpoint it
      // so the edge join/aggregate runs once per half-step, not twice.
      val aRaw = hubs.join(e, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("raw"))
        .select(col("dst").as("node"), col("raw"))
        .localCheckpoint()
      val at = totalOf(aRaw)
      auths = aRaw.select(col("node"),
        expr(s"raw * 1000000000000 div cast('${at.toPlainString}' as decimal(38,0))")
          .cast("long").as("a"))
      // hub update: sum of authority scores over out-edges, L1-normalized
      val hRaw = auths.join(e, col("node") === col("dst"))
        .groupBy(col("src"))
        .agg(sum(col("a").cast("decimal(38,0)")).as("raw"))
        .select(col("src").as("node"), col("raw"))
        .localCheckpoint()
      val ht = totalOf(hRaw)
      hubs = hRaw.select(col("node"),
        expr(s"raw * 1000000000000 div cast('${ht.toPlainString}' as decimal(38,0))")
          .cast("long").as("h"))
    }
    nodes.join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .na.fill(0L, Seq("h", "a"))
      .select(col("node"), col("h").as("hub_micro"), col("a").as("auth_micro"))
  }

  private def pageRankCore(edges: DataFrame, iters: Int, dampingMicro: Long,
                           srcCol: String, dstCol: String,
                           seeds: Option[DataFrame], seedCol: String,
                           weight: Option[String] = None,
                           deltaSink: Option[scala.collection.mutable.Buffer[DataFrame]] = None): DataFrame = {
    require(iters >= 1, s"pageRankMicro needs iters >= 1, got $iters")
    require(dampingMicro >= 0L && dampingMicro <= RankScale,
      s"dampingMicro must be in [0, $RankScale], got $dampingMicro")
    val e = graft.util.CacheScope.pin(weight match {
      // a zero/negative weight would silently zero (or sign-flip) the
      // floored contribution — refuse loudly, per edge, in-plan
      case Some(wc) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(wc).cast("long").as("w"))
        .filter(assert_true(col("w") > 0L,
          lit("pageRankMicroWeighted: edge weights must be positive integers")).isNull)
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    })
    // ONE pass over the edge frame builds the node frame WITH the
    // contribution denominator (out-degree, or Σw_out when weighted)
    // attached: each edge emits its src counting toward the
    // denominator and its dst counting 0 — one partial-aggregated
    // exchange instead of the former distinct + degree agg +
    // node-grain join (three exchanges). The denominator is
    // iteration-invariant, so attaching it here removes the per-round
    // deg join too (dangling nodes carry 0 but never match an src, so
    // the floored division never sees it); is_seed rides only in
    // seeded mode — in uniform mode it was a constant column shuffled
    // for nothing.
    val degName = if (weight.isDefined) "w_out" else "out_deg"
    val srcC = weight match {
      case Some(_) => col("w")
      case None => lit(1L)
    }
    val withDeg = e.select(explode(array(
        struct(col("src").as("node"), srcC.as("c")),
        struct(col("dst").as("node"), lit(0L).as("c")))).as("x"))
      .groupBy(col("x.node").as("node")).agg(sum(col("x.c")).as(degName))
    val nodes = graft.util.CacheScope.pin(seeds match {
      case Some(sd) => withDeg.join(
        sd.select(col(seedCol).as("node")).distinct()
          .withColumn("is_seed", lit(true)),
        Seq("node"), "left").na.fill(false, Seq("is_seed"))
      case None => withDeg
    })
    // teleport-target count once, as a driver scalar (it is
    // iteration-invariant): the per-round plans carry the base as a
    // literal instead of re-aggregating + broadcasting a 1-row frame
    // every round; the count also materializes the pinned node cache
    // every iteration reuses. An EMPTY GRAPH flows through as before
    // (empty frames all the way — the historical in-plan assert never
    // saw a row there and returned empty silently; ContractSpec runs
    // every query at sf0.001 where this graph IS empty); the loud
    // guard fires only for the one case the old assert could actually
    // raise — a NON-empty graph whose seed set misses every node,
    // where integer div by 0 would otherwise NULL every rank.
    val nNodes = nodes.count()
    val n = seeds match {
      case Some(_) => nodes.filter(col("is_seed")).count()
      case None => nNodes
    }
    require(n > 0 || nNodes == 0,
      "pageRankMicro: empty teleport set — no seed intersects the " +
        "graph's nodes")
    val nSafe = math.max(n, 1L) // divisor only; n=0 ⇒ zero rows flow
    // Scala / == `div` on non-negative longs (floor), so the driver-side
    // constants replay the in-plan integral divisions exactly
    def gated(v: Long): Column = seeds match {
      case Some(_) => when(col("is_seed"), lit(v)).otherwise(0L)
      case None => lit(v)
    }
    val carry: Seq[Column] = Seq(col("node"), col(degName)) ++
      (if (seeds.isDefined) Seq(col("is_seed")) else Nil)
    var ranks = nodes
      .select(carry :+ gated(RankScale / nSafe).as("rank_micro"): _*)
    // per-edge contribution: rank div out_deg, or (weighted)
    // rank·w div Σw_out — rank ≤ Scale times an int64 weight needs
    // DECIMAL(38,0); `div` floors back to BIGINT, exact either way
    val contribExpr = weight match {
      case Some(_) =>
        sum(expr("cast(rank_micro as decimal(38,0)) * w div w_out").cast("long")).as("s")
      case None => sum(expr("rank_micro div out_deg")).as("s")
    }
    val baseRank = (RankScale - dampingMicro) / nSafe
    // lineage cut every few rounds, not every round: a 3-round chain
    // (one edge join + one agg + one node join each) is a shallow plan,
    // and each skipped checkpoint saves a full materialization barrier
    // — measured ~10% off the 5-iteration walk at sf0.1. The
    // convergence report keeps per-round cuts: its delta rows re-read
    // BOTH surrounding rank frames, so uncut rounds would re-execute.
    val ckptEvery = if (deltaSink.isDefined) 1 else 3
    for (it <- 1 to iters) {
      val prev = ranks
      // ONE edge join per round (ranks already carries the denominator);
      // dangling nodes contribute nothing (they never match an src)
      val contrib = ranks.join(e, ranks("node") === e("src"))
        .groupBy(col("dst"))
        .agg(contribExpr)
        .select(col("dst").as("node"), col("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .na.fill(0L, Seq("s"))
        .select(carry :+
          // base (teleport, seeds only) + damped inflow; the product
          // runs in DECIMAL(38,0) (s ≤ Scale, so s·D ≈ 8.5e23
          // overflows int64) and `div` floors it back to BIGINT —
          // exact, engine-identical
          (gated(baseRank) +
            expr(s"cast(s as decimal(38,0)) * ${dampingMicro}L div ${RankScale}L")
              .cast("long")).as("rank_micro"): _*)
      // (the final round is consumed exactly once by the caller's
      // action, so it never needs a cut of its own — EXCEPT in
      // convergence-report mode, where the final round's delta row
      // reads the frame too: cut it there so the delta row and the
      // caller's action both read the checkpoint instead of
      // re-executing the last join)
      if (it % ckptEvery == 0 && (it != iters || deltaSink.isDefined))
        ranks = ranks.localCheckpoint()
      // convergence row: one node-keyed join + 1-row agg over the two
      // CHECKPOINTED frames — cheap, and lazy consumers re-read the
      // checkpoints, never re-run the walk
      deltaSink.foreach { sink =>
        sink += ranks.select(col("node"), col("rank_micro").as("_r_new"))
          .join(prev.select(col("node"), col("rank_micro").as("_r_old")), Seq("node"))
          .agg(max(abs(col("_r_new") - col("_r_old"))).as("max_delta_micro"),
            sum(when(col("_r_new") =!= col("_r_old"), 1L).otherwise(0L)).as("n_changed"))
          .select(lit(it.toLong).as("iter"), col("max_delta_micro"), col("n_changed"))
      }
    }
    ranks.select(col("node"), col("rank_micro"), col(degName))
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): provably O(log² n) rounds on ANY graph, where
    * min-label propagation needs Ω(diameter) rounds — a 10⁶-hop chain
    * would mean 10⁶ shuffles. Each round:
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its closed neighborhood (keeps components intact,
    *    strictly shrinks large-id chains);
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * Both are one neighborhood aggregation (min per node — map-side
    * combinable) + one equi-join + dedup; lineage cut per round; the
    * fixpoint is a star forest whose centers are the component minima.
    * Convergence costs no job of its own: two exact counters ride the
    * round's two checkpoint jobs (see [[bigStarWithRounds]]). The loop
    * fails loudly past [[MaxRounds]] rather than return a partial
    * labeling.
    *
    * `pairs` carries (id_a, id_b) undirected edges and is read once;
    * returns (id, cluster_id) for every node, cluster_id = the
    * component's minimum member id (a node whose only edge is a
    * self-loop labels itself).
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    bigStarWithRounds(pairs)._1

  /** INCREMENTAL component maintenance: fold a batch of new edges
    * into an existing (id, cluster_id) labeling WITHOUT recomputing
    * from the full pair set — the lifecycle step a streaming dedup
    * index needs (its clusters grow batch by batch; re-clustering
    * 100 TB of accumulated pairs per micro-batch is not a plan).
    * The existing labels ARE a star forest (member → component min),
    * so they re-enter [[connectedComponents]] as edges next to
    * the new pairs: the alternating rounds then run over
    * |labels| + |batch| rows — the accumulated PAIR SET (arbitrarily
    * larger than the label set) is read zero times. Equals the
    * from-scratch clustering of (old pairs ∪ new pairs) exactly,
    * because a component's star is connectivity-equivalent to every
    * edge set that produced it (spec-pinned, and driver-gated via
    * `q_cc_incremental`'s full-closure oracle).
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame): DataFrame =
    connectedComponents(labels.select(col("id").as("id_a"), col("cluster_id").as("id_b"))
      .unionByName(newPairs.select(col("id_a"), col("id_b"))))

  /** Round bound of [[connectedComponents]], a loud failure and never
    * a partial labeling: the specs' 300-node path converges in 10
    * rounds. */
  private val MaxRounds = 50

  /** [[connectedComponents]] plus the converged round count —
    * the quantity the O(log²) claim is spec-pinned on.
    *
    * A round has converged when large-star rewired no edge (no
    * neighbor row (u, v > u) with m(u) < u — it returned its input)
    * and small-star met no node with two smaller neighbors (no row
    * (u, v < u) with v != m(u) — it returned large-star's output).
    * Both counts are exact and observed on the checkpoint jobs that
    * build the round's frames; an explicit count of the same rows runs
    * only if an observation never arrives.
    */
  private[graft] def bigStarWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // undirected edges (u ≤ v) without duplicates, self-loops dropped
    def canonical(e: DataFrame): DataFrame =
      e.select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    // the one read of `pairs`; self-loops stay in it so a node whose
    // only edge is a self-loop is still labelled, and large-star's
    // v > u filter ignores them
    val canon = pairs
      .select(least(col("id_a"), col("id_b")).as("u"), greatest(col("id_a"), col("id_b")).as("v"))
      .distinct()
      .localCheckpoint()

    // min over the closed neighborhood Γ⁺(u), per endpoint direction;
    // the min is map-side combinable — a celebrity node's aggregation
    // is one row per upstream partition, never per edge
    def nbrs(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    def minOf(n: DataFrame): DataFrame =
      n.groupBy(col("u")).agg(min(least(col("v"), col("u"))).as("m"))
    // checkpoint `step(rows)`, counting the `rows` where `hit` holds on
    // that checkpoint's own job
    def checkpointCounting(rows: DataFrame, hit: Column)(
        step: DataFrame => DataFrame): (DataFrame, Long) = {
      val obs = new org.apache.spark.sql.Observation()
      val out = step(rows.observe(obs, count(when(hit, true)).as("n"))).localCheckpoint()
      (out, graft.util.Metrics.long(obs, "n", rows.filter(hit).count()))
    }

    var edges = canon
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxRounds) {
      // large-star: every edge {u,v}, u<v, rewires to (v, m(u)) — each
      // original edge is emitted exactly once, from its smaller
      // endpoint's perspective (Kiveris Lemma: preserves components)
      val n1 = nbrs(edges)
      val (large, rewired) = checkpointCounting(
          n1.filter(col("v") > col("u")).join(minOf(n1), "u"), col("m") < col("u")) {
        r => canonical(r.select(col("v").as("a"), col("m").as("b")))
      }
      // small-star: (v, m(u)) for every neighbor v < u, plus (u, m(u))
      val n2 = nbrs(large)
      val m2 = minOf(n2)
      val (small, spread) = checkpointCounting(
          n2.filter(col("v") < col("u")).join(m2, "u"), col("v") =!= col("m")) {
        r => canonical(r.select(col("v").as("a"), col("m").as("b"))
          .unionByName(m2.select(col("u").as("a"), col("m").as("b"))))
      }
      converged = rewired == 0 && spread == 0
      edges = small
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxRounds rounds — " +
      "O(log²) convergence makes this unreachable on any physical graph; " +
      "the edge frame is likely being mutated mid-run")
    // fixpoint = star forest: every edge is (center, member) with
    // center the component min; each node of `canon` also offers
    // itself, so one min per node labels members, centers and
    // self-loop-only nodes alike
    val self = canon.select(explode(array(col("u"), col("v"))).as("u"))
      .select(col("u"), col("u").as("v"))
    (nbrs(edges).unionByName(self)
      .groupBy(col("u").as("id")).agg(min(col("v")).as("cluster_id")),
      rounds)
  }
}
