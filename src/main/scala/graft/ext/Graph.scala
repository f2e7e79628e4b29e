package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-analysis over edge lists — the graph tier of the curation
  * stack: domain authority for crawl prioritization, co-purchase
  * influence, citation weighting. Complements [[Dedup]]'s connected
  * components (cluster EXTRACTION) with importance SCORING.
  *
  * 100 TB shape: the classic Pregel-as-joins loop. Per iteration the
  * rank frame (|V| rows, two skinny columns) joins the edge list
  * shuffled on `src`, contributions aggregate on `dst` with map-side
  * partial sums, and the dangling-node left join restores zero-indegree
  * vertices. Nothing driver-side but the node count (one long); edge
  * and rank frames never collect. Iterations are a fixed small k —
  * each one a self-contained shuffle stage pair, which is how every
  * production PageRank runs (convergence-to-epsilon is a driver loop
  * over the same stages).
  *
  * Determinism (what makes an ITERATIVE float computation
  * oracle-gateable at all): the 9-dp-round-and-DECIMAL-sum discipline
  * (t25/x16) is NOT enough here — iterating pushes values onto round's
  * .5-ulp boundaries, where Spark's BigDecimal HALF_UP and a pure-
  * floating-point `round(x*1e9)/1e9` disagree in the last digit (seen
  * live: 3 of 2000 nodes off by 1e-9 after 3 iterations). So ranks run
  * in FIXED-POINT: longs in units of 1e-9, truncating integer division
  * for the out-degree split and the damping multiply, exact long sums.
  * Positive operands make Spark's `div` (truncate) and the oracle's
  * `//` (floor) identical, so every intermediate is the same integer
  * in both engines — no rounding mode exists to disagree about. The
  * one float op is the final display division, identical IEEE on
  * identical longs.
  *
  * MEASURED SERIAL BOTTLENECK (r22, `plans/r22/scaling_sf0.4x.json`):
  * at sf0.1 AND at a 4×-replicated corpus, the iterative operators here
  * (x38/x48/x54/x58/x74 and the rank loops) gain ≤1.5× from 8→32 cores
  * — some anti-scale — because each round is a separate pinned job and
  * the fixed rounds × job-latency product, not data volume, sets the
  * wall clock at these scales. Four restructurings were measured and
  * reverted in r22 (partitioned edge caches, successor pre-aggregation,
  * barrier batching, size-based AQE coalescing — see
  * OPTIMIZATION_r22.md); the floor moves only when per-round volume
  * dominates job latency, i.e. at corpus scales well beyond the test
  * SFs. Follow-up: re-profile on the first ≥10× corpus the driver
  * provides before touching these loops again.
  */
object Graph {

  /** 1e-9 fixed-point unit shared by every scorer in this tier. */
  private val U = 1000000000L

  /** The one Pregel-as-joins loop behind [[pageRank]],
    * [[weightedPageRank]] and [[personalizedPageRank]] — the three are
    * the SAME iteration differing only in (a) the per-source out-mass
    * frame (`out`: degree or weight sum), (b) the contribution split
    * (`contrib`: uniform `div` or weight-proportional), (c) the seed
    * vector (`init` over the node frame) and (d) the per-node teleport
    * term (`teleport`: uniform base or seed-restricted). Everything
    * scale- and determinism-critical — per-iteration pinning, exact
    * long sums, truncating `div`, the dangling left join — lives here
    * exactly once.
    *
    * `nodes` may carry extra columns (e.g. the `_seed` flag) — the
    * loop only ever selects `node` and the rank expression, so wrappers
    * can fold per-node state into `init`/`teleport` columns.
    */
  private def pageRankLoop(e: DataFrame, nodes: DataFrame,
                           out: DataFrame, contrib: Column,
                           init: Column, teleport: Column,
                           iterations: Int,
                           dampingPerMille: Int): DataFrame = {
    var ranks = nodes.select(col("node"), init.as("rank_e9"))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(out, Seq("src"))
        .select(col("dst").as("node"), contrib.as("_c"))
      val sums = contribs.groupBy("node").agg(sum(col("_c")).as("_s"))
      ranks = graft.std.Materialize.once(
        nodes.join(sums, Seq("node"), "left_outer")
          .select(col("node"),
            (teleport +
              expr(s"coalesce(_s, 0L) * $dampingPerMille div 1000"))
              .as("rank_e9")))
    }
    ranks.select(col("node"), col("rank_e9"),
      (col("rank_e9").cast("double") / lit(U.toDouble)).as("rank"))
  }

  private def requireRankParams(iterations: Int,
                                dampingPerMille: Int): Unit = {
    require(iterations >= 1, "need at least one iteration")
    require(dampingPerMille > 0 && dampingPerMille < 1000,
      "damping must be in (0, 1000) per-mille")
  }

  /** PageRank over a directed edge list (`src`, `dst` columns;
    * duplicates and self-loops are dropped). Dangling mass (nodes with
    * no out-edges) is not redistributed — the standard simplification
    * when ranking within a corpus slice; ranks then sum to < 1 (the
    * fixed-point truncation shaves at most 1e-9 per term, same side).
    *
    * `damping` is a per-mille integer (850 = 0.85) so the damping
    * multiply stays in exact long arithmetic.
    *
    * Returns (node, rank_e9, rank): the exact fixed-point rank in 1e-9
    * units and its double form for human consumption.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
               dampingPerMille: Int = 850): DataFrame = {
    requireRankParams(iterations, dampingPerMille)
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count() // the one driver scalar
    // an empty graph must yield an empty ranking, not a division by
    // zero in the U/n seed below
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("rank_e9"),
        lit(0.0).as("rank"))
    val outdeg = graft.std.Materialize.once(
      e.groupBy("src").agg(count(lit(1)).as("_outdeg")))
    pageRankLoop(e, nodes, outdeg,
      contrib = expr("rank_e9 div _outdeg"),
      init = lit(U / n),
      teleport = lit((1000L - dampingPerMille) * U / 1000L / n),
      iterations, dampingPerMille)
  }

  /** Weighted PageRank (x46): [[pageRank]] where each edge carries a
    * positive integer weight and a node's rank splits across its
    * out-edges PROPORTIONALLY to weight instead of uniformly — the
    * co-purchase graph's natural form (an edge traversed 40 times
    * should carry 40× the influence of a one-off), and the form every
    * production link-graph rank runs (crawl frequency, citation
    * counts, traffic shares).
    *
    * Parallel edges in the input collapse by summation, so feeding the
    * RAW (non-distinct) co-purchase chain makes multiplicity the
    * weight. Same fixed-point discipline as [[pageRank]]; the split is
    * `rank_e9 · w div W(src)` in exact longs — safe while
    * `w < 2^63 / 10^9` (~9·10⁹ traversals of one edge), far beyond any
    * real multiplicity. Uniform weights reduce EXACTLY to [[pageRank]]
    * (spec-pinned).
    *
    * Returns (node, rank_e9, rank).
    */
  def weightedPageRank(edges: DataFrame, iterations: Int = 3,
                       dampingPerMille: Int = 850,
                       weightCol: Option[String] = None): DataFrame = {
    requireRankParams(iterations, dampingPerMille)
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e = graft.std.Materialize.once(
      edges
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .select(col("src"), col("dst"), w.as("_w"))
        .filter(col("_w") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("_w")).as("w")))
    val nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    if (n == 0)
      return nodes.select(col("node"), lit(0L).as("rank_e9"),
        lit(0.0).as("rank"))
    val outw = graft.std.Materialize.once(
      e.groupBy("src").agg(sum(col("w")).as("_outw")))
    // the loop's edge join carries `w` alongside (src, dst), so the
    // proportional split reads it straight off the joined row
    pageRankLoop(e, nodes, outw,
      contrib = expr("rank_e9 * w div _outw"),
      init = lit(U / n),
      teleport = lit((1000L - dampingPerMille) * U / 1000L / n),
      iterations, dampingPerMille)
  }

  /** Personalized PageRank (TrustRank shape): teleport mass is
    * restricted to a SEED set instead of spread uniformly — rank flows
    * outward from the seeds, so a node scores high only if it is
    * reachable from trusted sources in few hops. The crawl-curation
    * scorer (seed trusted domains, rank the frontier by propagated
    * trust) and the related-items scorer (seed one basket, rank the
    * catalog by proximity).
    *
    * Same Pregel-as-joins / fixed-point discipline as [[pageRank]] —
    * exact longs in 1e-9 units, truncating division everywhere — plus
    * one twist: the per-node teleport term is `seedBase` for seed
    * nodes and ZERO elsewhere, where seedBase =
    * `(1000−d) · (U div nSeed) div 1000` is computed driver-side in
    * exact long arithmetic (nSeed = seeds present in the graph; seeds
    * pointing nowhere in the edge list are dropped with the rest of
    * the isolated vertices). Iteration 0 starts AT the teleport
    * distribution (U div nSeed on seeds), the standard PPR seed.
    *
    * Returns (node, rank_e9, rank); non-seed nodes unreachable from
    * any seed rank exactly 0.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 3,
                           dampingPerMille: Int = 850): DataFrame = {
    requireRankParams(iterations, dampingPerMille)
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val s = seeds.select(col("node")).filter(col("node").isNotNull)
      .distinct()
    val nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(s.select(col("node"), lit(1).as("_seed")), Seq("node"),
          "left_outer")
        .select(col("node"), coalesce(col("_seed"), lit(0)).as("_seed")))
    val nSeed = nodes.filter(col("_seed") === 1).count()
    if (nodes.isEmpty || nSeed == 0)
      return nodes.select(col("node"), lit(0L).as("rank_e9"),
        lit(0.0).as("rank"))
    val seedRank = U / nSeed // exact long truncation, = DuckDB //
    val seedBase = (1000L - dampingPerMille) * seedRank / 1000L
    val outdeg = graft.std.Materialize.once(
      e.groupBy("src").agg(count(lit(1)).as("_outdeg")))
    // the node frame carries `_seed`, so seed-restricted init and
    // teleport are per-node columns over it — the loop never knows
    // personalization exists
    pageRankLoop(e, nodes, outdeg,
      contrib = expr("rank_e9 div _outdeg"),
      init = col("_seed").cast("long") * lit(seedRank),
      teleport = col("_seed").cast("long") * lit(seedBase),
      iterations, dampingPerMille)
  }

  /** HITS hubs & authorities over a directed edge list — the second
    * classic link-analysis scorer: a node is a good AUTHORITY when
    * good hubs point at it, a good HUB when it points at good
    * authorities (domain catalogs vs canonical pages in a crawl
    * corpus; co-purchase anchors vs connectors in x20's graph).
    * Same Pregel-as-joins shape as [[pageRank]]: per half-iteration
    * one join of the edge list with a skinny score frame and one
    * partially-aggregated sum; nothing driver-side but three scalars.
    *
    * Determinism: the mutual recursion runs UNNORMALIZED in exact long
    * arithmetic — seeds are 1, every update is an integer sum, so
    * there is no rounding to disagree about — and normalizes once at
    * the end to 1e-9-unit fixed point (score·1e9 div Σscores, the
    * truncating division both engines share; the multiply rides
    * DECIMAL(38,0) because score·1e9 can exceed a long). Unnormalized
    * scores grow like d_max^(2·iterations); a guard requires that
    * envelope to fit a long, which holds for any real-world degree
    * distribution at small fixed iteration counts (d_max 10^4 allows
    * 3 iterations; per-iteration DECIMAL renormalization is the
    * escape hatch if ever needed).
    *
    * Returns (node, auth_e9, hub_e9, auth, hub): L1-normalized
    * fixed-point scores (each column sums to ≤ 1e9, truncation shaves
    * < 1 ulp per node) and their double displays.
    */
  def hits(edges: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 8,
      "iterations must be in [1, 8]")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val empty = nodes.select(col("node"), lit(0L).as("auth_e9"),
      lit(0L).as("hub_e9"), lit(0.0).as("auth"), lit(0.0).as("hub"))
    if (nodes.isEmpty) return empty
    // overflow guard: total degree bounds both in- and out-degree
    val maxDeg = e.select(col("src").as("n"))
      .unionAll(e.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("_d"))
      .agg(max(col("_d"))).head().getLong(0)
    require(2 * iterations * math.log(math.max(maxDeg, 2).toDouble) <
      62 * math.log(2.0),
      s"unnormalized HITS would overflow a long: max degree $maxDeg " +
        s"over $iterations iterations")
    var hub = nodes.select(col("node"), lit(1L).as("v"))
    var auth = hub
    for (_ <- 1 to iterations) {
      auth = graft.std.Materialize.once(
        e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("v")).as("v")))
      hub = graft.std.Materialize.once(
        e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum(col("v")).as("v")))
    }
    val sA = auth.agg(sum(col("v"))).head().getLong(0)
    val sH = hub.agg(sum(col("v"))).head().getLong(0)
    nodes
      .join(auth.withColumnRenamed("v", "_a"), Seq("node"), "left_outer")
      .join(hub.withColumnRenamed("v", "_h"), Seq("node"), "left_outer")
      .select(col("node"),
        expr(s"CAST(coalesce(_a, 0L) AS DECIMAL(38,0)) * 1000000000 " +
          s"div ${sA}L").as("auth_e9"),
        expr(s"CAST(coalesce(_h, 0L) AS DECIMAL(38,0)) * 1000000000 " +
          s"div ${sH}L").as("hub_e9"))
      .select(col("node"), col("auth_e9"), col("hub_e9"),
        (col("auth_e9").cast("double") / lit(1e9)).as("auth"),
        (col("hub_e9").cast("double") / lit(1e9)).as("hub"))
  }

  /** Per-node triangle counts and local clustering coefficients over
    * an UNDIRECTED view of the edge list (direction, duplicates, and
    * self-loops are dropped) — the local-density companion to
    * [[pageRank]]/[[hits]]'s global importance: a high-coefficient
    * node sits in a tight community (parts always bought as a set, a
    * link farm in a crawl graph); a high-degree low-coefficient node
    * is a broker between communities.
    *
    * 100 TB shape — degree-ordered orientation, the standard
    * O(m^1.5) bound: every undirected edge is oriented from its
    * lower-(degree, id) endpoint to the higher, so each node's
    * oriented OUT-degree is at most O(sqrt m) regardless of how
    * skewed the raw degree distribution is (a 10^7-degree celebrity
    * vertex contributes no wedges from its own row — its edges point
    * INTO it). Wedges are the self-join of the oriented list on the
    * low endpoint, closure is one hash join of the wedge frame back
    * to the oriented list, and per-node counts are an explode +
    * partial-agg sum. Three shuffles total, all on node keys; nothing
    * driver-side, no iteration.
    *
    * Determinism: counts are exact integers (identical in any
    * engine); the clustering coefficient lcc = 2·T(v) / (deg·(deg−1))
    * runs in 1e-9 fixed point with the truncating `div` both engines
    * share (the [[pageRank]] discipline), so the doubles derive from
    * identical longs. Orientation order does not affect the result —
    * any total order enumerates each triangle exactly once, so the
    * oracle may orient by plain node id while this side orients by
    * degree; only the COUNTS are compared.
    *
    * Returns (node, degree, triangles, lcc_e9, lcc); nodes with
    * degree < 2 have lcc 0 by convention.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = graft.std.Materialize.once(
      edges.select(
          least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("u") =!= col("v"))
        .distinct())
    val deg = graft.std.Materialize.once(
      und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")))
    // orient u--v from lower (degree, id) to higher; carry the high
    // endpoint's degree so the wedge join can order b vs c without
    // another degree lookup
    val oriented = graft.std.Materialize.once(
      und
        .join(deg.select(col("node").as("u"), col("degree").as("_du")),
          Seq("u"))
        .join(deg.select(col("node").as("v"), col("degree").as("_dv")),
          Seq("v"))
        .select(
          when(col("_du") < col("_dv") ||
            (col("_du") === col("_dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("lo"),
          when(col("_du") < col("_dv") ||
            (col("_du") === col("_dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("hi"),
          greatest(col("_du"), col("_dv")).as("_dhi")))
    // wedge (lo -> b, lo -> c) with b < c in the same (degree, id)
    // order; the closing edge, if present, is then exactly b -> c in
    // the oriented list
    val e1 = oriented.select(col("lo"), col("hi").as("b"),
      col("_dhi").as("_db"))
    val e2 = oriented.select(col("lo"), col("hi").as("c"),
      col("_dhi").as("_dc"))
    val wedges = e1.join(e2, Seq("lo"))
      .filter(col("_db") < col("_dc") ||
        (col("_db") === col("_dc") && col("b") < col("c")))
    val triangles = wedges.join(
      oriented.select(col("lo").as("b"), col("hi").as("c")),
      Seq("b", "c"))
    val perNode = triangles
      .select(explode(array(col("lo"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("_t"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        expr("coalesce(_t, 0L)").as("triangles"),
        expr("CAST(CASE WHEN degree >= 2 THEN " +
          "CAST(coalesce(_t, 0L) AS DECIMAL(38,0)) * 2000000000 " +
          "div (degree * (degree - 1)) ELSE 0 END AS BIGINT)")
          .as("lcc_e9"))
      .select(col("node"), col("degree"), col("triangles"),
        col("lcc_e9"),
        (col("lcc_e9").cast("double") / lit(1e9)).as("lcc"))
  }

  /** Synchronous label propagation (x34): community detection by
    * majority vote — every node starts as its own label; each
    * iteration, every node simultaneously adopts the most frequent
    * label among its NEIGHBORS (ties → smallest label). The cheap
    * communities pass of the curation stack (domain families in a link
    * graph, product families in a co-purchase graph) — where
    * [[Dedup]]'s connected components find REACHABILITY clusters, LPA
    * finds DENSITY clusters inside them.
    *
    * Direction is ignored (community is a symmetric notion): the edge
    * list is canonicalized to its undirected support, self-loops and
    * duplicates dropped. A fixed `iterations` count with SYNCHRONOUS
    * updates keeps the operator deterministic and oracle-expressible —
    * asynchronous LPA (the convergence-fast variant) is
    * update-order-dependent, which no cross-engine gate could pin.
    * Everything is integer arithmetic on (node, label, count) — no
    * float exists anywhere.
    *
    * Returns (node, community, community_size).
    *
    * 100 TB shape: the [[pageRank]] Pregel-as-joins loop — per
    * iteration, labels (|V| skinny rows) join the undirected edge list
    * on one side, votes aggregate with map-side partial counts, and
    * the winner is a partial-aggregable `min(struct(-votes, label))`
    * argmin (the t65 discipline) — no per-node window sort anywhere;
    * the label frame is pinned per iteration to cut lineage. No
    * driver-side state at all.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val dir = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = graft.std.Materialize.once(
      dir.select(col("src").as("u"), col("dst").as("v"))
        .union(dir.select(col("dst").as("u"), col("src").as("v")))
        .distinct())
    var labels = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iterations) {
      // winner = most votes, ties to the smallest label — the
      // lexicographic MIN of (-votes, label), which partial-aggregates
      // map-side (a window would sort every node's vote list)
      labels = graft.std.Materialize.once(und
        .join(labels.withColumnRenamed("node", "v"), Seq("v"))
        .groupBy(col("u").as("node"), col("label"))
        .agg(count(lit(1)).as("_votes"))
        .groupBy(col("node"))
        .agg(min(struct((-col("_votes")).as("_nv"),
          col("label").as("_l"))).as("_w"))
        .select(col("node"), col("_w._l").as("label")))
    }
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("community_size"))
    labels.select(col("node"), col("label").as("community"))
      .join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("community_size"))
  }

  /** Multi-source bounded BFS (x38): for every seed, how many distinct
    * nodes become reachable at each hop ≤ `hops` along DIRECTED edges
    * — the influence-radius / crawl-frontier-size query ([[pageRank]]
    * scores importance; this measures reach). Hop h counts nodes whose
    * shortest directed distance from the seed is EXACTLY h; the seed
    * itself is distance 0 and never counted.
    *
    * 100 TB shape: all seeds expand in ONE batched frontier loop — the
    * frontier frame carries (seed, node) pairs, so a thousand seeds
    * cost one job series, not a thousand. Each hop is frontier ⋈ edges
    * (shuffle on the join key) + distinct + an anti-join against the
    * visited set, which keeps frontiers minimal and terminates
    * re-expansion of anything already reached; frames are pinned per
    * hop ([[graft.std.Materialize]]) to cut lineage exactly like the
    * other iterative operators. All integer counts — nothing to round.
    *
    * Returns (seed, hop, n_reached) for every seed × hop ∈ [1, hops],
    * zeros included (a dead-end seed reports 0 at every hop).
    */
  def kHopReach(edges: DataFrame, seeds: DataFrame,
                hops: Int = 3, repinEvery: Int = 4): DataFrame = {
    require(hops >= 1, "need at least one hop")
    require(repinEvery >= 1, "repinEvery must be positive")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val s0 = graft.std.Materialize.once(
      seeds.select(col("seed")).filter(col("seed").isNotNull).distinct())
    var visited = s0.select(col("seed"), col("seed").as("node"))
    var frontier = visited
    val spark = edges.sparkSession
    var perHop = List.empty[DataFrame]
    for (h <- 1 to hops) {
      frontier = graft.std.Materialize.once(
        frontier.join(e, frontier("node") === e("src"))
          .select(col("seed"), col("dst").as("node"))
          .distinct()
          .join(visited, Seq("seed", "node"), "left_anti"))
      // every constituent (seeds, prior frontiers) is already pinned,
      // so the union is lineage-shallow — but it is a union of h
      // frames, and each hop's anti-join re-scans ALL of them: O(hops²)
      // scan volume as the traversal deepens. At the small fixed hop
      // counts the batch queries use, re-pinning would cost more (a
      // checkpoint job over the whole reach set per hop) than the
      // re-scans save, so the collapse only kicks in every
      // `repinEvery` hops — deep traversals get a bounded plan width
      // without taxing the shallow ones.
      visited =
        if (h % repinEvery == 0)
          graft.std.Materialize.once(visited.unionAll(frontier))
        else visited.unionAll(frontier)
      perHop ::= frontier.groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"))
        .withColumn("hop", lit(h))
    }
    import spark.implicits._
    val hopFrame = (1 to hops).toDF("hop")
    val counts = perHop.reverse.reduce(_ unionAll _)
      .select(col("seed"), col("hop"), col("n_reached"))
    s0.crossJoin(broadcast(hopFrame))
      .join(counts, Seq("seed", "hop"), "left_outer")
      .select(col("seed"), col("hop").cast("int").as("hop"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"))
  }

  /** Multi-source weighted shortest paths — bounded Bellman-Ford, the
    * DISTANCE complement of [[kHopReach]]'s boolean reach: cheapest
    * total edge cost from each node back to its NEAREST seed, using at
    * most `iterations` edges (the classic k-relaxation semantics; a
    * cheaper path needing more hops than the bound is reported at the
    * best ≤k-edge cost, exactly like every production Pregel SSSP that
    * runs a fixed superstep budget).
    *
    * Input: `edges(src, dst, w)` with `w` an integral cost — parallel
    * edges collapse to MIN(w) up front, so raw event/chain multiplicity
    * is tolerated; `seeds(seed)` start at distance 0 (and appear in the
    * output at 0 even when isolated — a seed IS reachable from itself).
    *
    * 100 TB shape: per relaxation ONE join (dist ⋈ edges on `src`,
    * both shuffled on the join key) and ONE groupBy-MIN whose partial
    * aggregation collapses candidate distances map-side before the
    * shuffle — the [[pageRankLoop]] stage pair with MIN replacing SUM.
    * The dist frame is |reached| rows of two longs; lineage is pinned
    * per iteration (x20 discipline). Determinism is free: every
    * distance is an exact long sum and MIN has no rounding mode, so
    * the unrolled DuckDB twin matches integer-for-integer.
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "need at least one relaxation round")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("w").isNotNull && col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = graft.std.Materialize.once(
      seeds.select(col("seed").as("node"))
        .filter(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L)))
    for (_ <- 1 to iterations) {
      val cand = dist.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (dist("dist") + e("w")).as("dist"))
      dist = graft.std.Materialize.once(
        dist.unionByName(cand)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    dist.select(col("node").as("node_id"), col("dist").as("min_cost"))
  }

  /** Degree power-law readout (x55): the degree histogram of the
    * undirected support plus a log-log least-squares fit of
    * `ln(n_nodes)` on `ln(degree)` — the graph-tier sibling of t56's
    * Zipf fit (same regression discipline, token ranks swapped for
    * degree buckets). The slope is the planning number for every
    * other graph operator here: a steep power law predicts the
    * hub-key skew that x17/x1-style salting and the d2/m5 bucket caps
    * exist for, BEFORE running the expensive pass.
    *
    * 100 TB shape: edges collapse to per-node degrees (one distinct +
    * one partial-agg shuffle), degrees collapse to |distinct degrees|
    * histogram rows, and the regression runs over THAT tiny frame —
    * the fit row is a broadcast back onto the histogram.
    *
    * Determinism: degrees and bucket counts are exact longs; the
    * t56 discipline for the float part (9-dp rounded logs, DECIMAL
    * moment sums, one 6-dp round on slope/intercept/r²).
    *
    * Returns one row per degree bucket, fit columns repeated (the t57
    * within-share style): (degree, n_nodes, pl_slope, pl_intercept,
    * r2).
    */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val hist = graft.std.Materialize.once(
      und.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")))
    val x = round(log(col("degree").cast("double")), 9)
    val y = round(log(col("n_nodes").cast("double")), 9)
    val dec = "decimal(38,12)"
    val m = hist
      .select(x.as("_x"), y.as("_y"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_x").cast("decimal(28,9)")).as("_sx"),
        sum(col("_y").cast("decimal(28,9)")).as("_sy"),
        sum((col("_x") * col("_x")).cast(dec)).as("_sxx"),
        sum((col("_y") * col("_y")).cast(dec)).as("_syy"),
        sum((col("_x") * col("_y")).cast(dec)).as("_sxy"))
    val n = col("_n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN = n * d("_sxy") - d("_sx") * d("_sy")
    val varX = n * d("_sxx") - d("_sx") * d("_sx")
    val varY = n * d("_syy") - d("_sy") * d("_sy")
    val slope = round(covN / varX, 6)
    val fit = m.select(
      when(varX > 0, slope).as("pl_slope"),
      when(varX > 0, round((d("_sy") - slope * d("_sx")) / n, 6))
        .as("pl_intercept"),
      when(varX > 0 && varY > 0, round(covN * covN / (varX * varY), 6))
        .as("r2"))
    hist.crossJoin(broadcast(fit))
      .select(col("degree"), col("n_nodes"),
        col("pl_slope"), col("pl_intercept"), col("r2"))
  }

  /** Sampled-source harmonic centrality (x54): for each node, the sum
    * of 1/d(s, node) over a SEED SAMPLE s — the Eppstein–Wang
    * estimator shape for closeness-family centrality, the only form
    * that survives scale (exact closeness is all-pairs; a fixed seed
    * sample keeps error bounded and cost linear in |V|·|S|). Harmonic
    * (Σ 1/d) rather than classic closeness (1/Σ d) because it is
    * defined on DISCONNECTED graphs — unreachable pairs contribute 0
    * instead of poisoning the sum, no ∞ handling.
    *
    * Unlike [[shortestPaths]] (one merged frontier — distances to the
    * NEAREST seed), the state here is per-(seed, node): hop distances
    * from EVERY sampled seed, which is what the harmonic sum needs.
    * `iterations` bounds hops, so terms are 1/d for d ≤ iterations —
    * the truncated-horizon estimator (far pairs contribute ≤ 1/k
    * each; the bound is part of the contract, like x38/x50).
    *
    * 100 TB shape: the x38/x58 frontier discipline — per hop ONE join
    * (frontier ⋈ edges) + a distinct + an anti-join against the
    * reached set, so hop h's work is sized by the FRONTIER (new
    * arrivals), never by the accumulated |S| × |reached| state (first
    * arrival IS the shortest distance on unweighted edges, so the
    * frontier slices are exact level frames and no groupBy-MIN over
    * the full state exists). The sampled |S| is the knob that keeps
    * the state bounded as |V| grows. The final rollup is one
    * partial-agg shuffle to |V| rows.
    *
    * Determinism: hop distances are exact longs; each term is
    * `1e9 div d` (truncating integer div on positive operands); the
    * harmonic sum is an order-free integer sum. Nothing rounds until
    * the final display double.
    *
    * Returns (node_id, n_sources, harmonic_e9, harmonic) — seeds'
    * self-distance 0 is excluded (a node is not central for reaching
    * itself).
    */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
                         iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "need at least one hop")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    var frontier = graft.std.Materialize.once(
      seeds.select(col("seed")).filter(col("seed").isNotNull)
        .distinct()
        .select(col("seed"), col("seed").as("node")))
    var reached = frontier
    var levels = List.empty[DataFrame]
    for (h <- 1 to iterations) {
      frontier = graft.std.Materialize.once(
        frontier.join(e, frontier("node") === e("src"))
          .select(frontier("seed"), e("dst").as("node"))
          .distinct()
          .join(reached, Seq("seed", "node"), "left_anti"))
      // constituents are pinned, so the union is lineage-shallow (the
      // x38 pattern; at the fixed shallow hop counts used here the
      // O(hops²) anti-join re-scan is cheaper than re-pinning)
      reached = reached.unionAll(frontier)
      levels ::= frontier.withColumn("dist", lit(h.toLong))
    }
    levels.reverse.reduce(_ unionAll _)
      .groupBy(col("node").as("node_id"))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr("1000000000 div dist")).as("harmonic_e9"))
      .select(col("node_id"), col("n_sources"), col("harmonic_e9"),
        (col("harmonic_e9").cast("double") / lit(1e9)).as("harmonic"))
  }

  /** Temporal reachability (x62): earliest-arrival BFS on a graph
    * whose edges carry ACTIVATION TIMES — a path is valid only if its
    * edge times never decrease, which is how influence, contagion,
    * and supply actually propagate (x38 answers "is there a route";
    * this answers "could anything have FLOWED along it": a Tuesday
    * edge cannot carry what arrives Wednesday). The standard
    * earliest-arrival recurrence: arrive(w) = MIN over edges
    * (v, w, t) with t ≥ arrive(v) of t, seeds reached at the epoch.
    *
    * Relaxation is monotone (arrival estimates only decrease, and a
    * decrease can only unlock EARLIER onward edges), so `iterations`
    * rounds give the exact earliest arrival for paths of ≤ that many
    * hops — the x38/x50 bounded-frontier contract.
    *
    * 100 TB shape: per round ONE join of the |reached| frontier with
    * the timed edge list (the time predicate rides the join) + one
    * partial-agg MIN — the x50 shape with a DATE in place of a cost.
    * Exact date MINs, nothing rounds.
    *
    * Returns (node_id, first_reach) — seeds at the epoch date.
    */
  def temporalReach(edges: DataFrame, seeds: DataFrame,
                    iterations: Int = 4,
                    epoch: String = "1992-01-01"): DataFrame = {
    require(iterations >= 1, "need at least one hop")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"), col("etime"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("etime").isNotNull && col("src") =!= col("dst"))
        .distinct())
    var reach = graft.std.Materialize.once(
      seeds.select(col("seed")).filter(col("seed").isNotNull)
        .distinct()
        .select(col("seed").as("node"),
          to_date(lit(epoch)).as("first_reach")))
    for (_ <- 1 to iterations) {
      val cand = reach.join(e,
          reach("node") === e("src") &&
            e("etime") >= reach("first_reach"))
        .select(e("dst").as("node"), e("etime").as("first_reach"))
      reach = graft.std.Materialize.once(
        reach.unionByName(cand)
          .groupBy(col("node"))
          .agg(min(col("first_reach")).as("first_reach")))
    }
    reach.select(col("node").as("node_id"), col("first_reach"))
  }

  /** PageRank convergence report (x61): the x20 loop replayed with
    * each iteration priced — per round, the L1 and max rank movement
    * (|r_i − r_{i−1}| in exact e9 units) and the total mass. This is
    * the iteration-count sizing readout for the whole x20 family
    * (x20/x33/x46 all fix small iteration counts; this is the
    * evidence that the count is ENOUGH — the same role s20/s26 play
    * for the ANN index): a flattening L1 delta says further rounds
    * buy re-ranking nobody reads, and the mass column watches the
    * dangling-node shave the x20 doc documents.
    *
    * Arithmetic is bit-identical to [[pageRank]]'s (same seed,
    * teleport, truncating contrib split); the deltas are order-free
    * integer sums of exact longs. Per iteration: the x20 join/agg
    * pair plus ONE |V|-row join for the delta — the readout adds no
    * corpus-sized work.
    *
    * Returns one row per iteration: (iteration, l1_delta_e9,
    * max_delta_e9, mass_e9, l1_delta).
    */
  def pageRankConvergence(edges: DataFrame, iterations: Int = 3,
                          dampingPerMille: Int = 850): DataFrame = {
    requireRankParams(iterations, dampingPerMille)
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    val empty = nodes.select(lit(0L).as("iteration"),
      lit(0L).as("l1_delta_e9"), lit(0L).as("max_delta_e9"),
      lit(0L).as("mass_e9"), lit(0.0).as("l1_delta")).limit(0)
    if (n == 0) return empty
    val outdeg = graft.std.Materialize.once(
      e.groupBy("src").agg(count(lit(1)).as("_outdeg")))
    val teleport = (1000L - dampingPerMille) * U / 1000L / n
    var ranks = graft.std.Materialize.once(
      nodes.select(col("node"), lit(U / n).as("rank_e9")))
    val rows = (1 to iterations).map { i =>
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"),
          expr("rank_e9 div _outdeg").as("_c"))
      val sums = contribs.groupBy("node").agg(sum(col("_c")).as("_s"))
      val next = graft.std.Materialize.once(
        nodes.join(sums, Seq("node"), "left_outer")
          .select(col("node"),
            (lit(teleport) +
              expr(s"coalesce(_s, 0L) * $dampingPerMille div 1000"))
              .as("rank_e9")))
      val prev = ranks.select(col("node"), col("rank_e9").as("_p"))
      val row = next.join(prev, Seq("node"))
        .agg(sum(abs(col("rank_e9") - col("_p"))).as("l1_delta_e9"),
          max(abs(col("rank_e9") - col("_p"))).as("max_delta_e9"),
          sum(col("rank_e9")).as("mass_e9"))
        .select(lit(i.toLong).as("iteration"), col("l1_delta_e9"),
          col("max_delta_e9"), col("mass_e9"),
          (col("l1_delta_e9").cast("double") / lit(U.toDouble))
            .as("l1_delta"))
      ranks = next
      row
    }
    rows.reduce(_ unionByName _)
  }

  /** Degree assortativity (x59): Pearson correlation of the degrees
    * at the two ends of every edge of the undirected support — the
    * mixing diagnostic next to x55's power-law fit: x55 says whether
    * hubs EXIST, this says whether they attach to each other
    * (assortative, r > 0 — social graphs) or to leaves
    * (disassortative, r < 0 — the hub-and-spoke shape most
    * co-occurrence graphs have). The sign decides which skew guard a
    * pipeline needs: disassortative hubs concentrate one key per
    * partition (salting); assortative cores concentrate whole
    * NEIGHBORHOODS (bucket caps).
    *
    * Both edge directions enter the pair set (the undirected
    * convention), so r is symmetric by construction. Exact-moment
    * Pearson ([[Features.pearson]] — DECIMAL sums, NULL on zero
    * variance); degrees collapse from edges in one partial agg and
    * attach back by node-keyed equi-joins (a |V|-row frame — AQE may
    * broadcast it when small, at scale it shuffles like every other
    * per-node attach).
    *
    * Returns one row: (n_pairs, assortativity).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = graft.std.Materialize.once(
      e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    // the degree frame is |V| rows — an equi-join, NOT a broadcast
    // (AQE may still choose one when |V| is small; at scale it
    // shuffles on the node key like every other per-node attach)
    val pairs = und
      .join(deg.select(col("node").as("src"),
        col("degree").as("_x")), Seq("src"))
      .join(deg.select(col("node").as("dst"),
        col("degree").as("_y")), Seq("dst"))
      .withColumn("_g", lit(1))
    Features.pearson(pairs, "_g", "_x", "_y")
      .select(col("n").as("n_pairs"),
        col("pearson_r").as("assortativity"))
  }

  /** k-core peel (x60): iteratively remove nodes whose degree in the
    * SURVIVING subgraph falls below k — the dense-subgraph extractor
    * (the standard spam/bot-ring and community-core primitive: a
    * k-core survives only on mutual support, which no star or chain
    * can fake). `rounds` bounds the peel like x20 bounds iterations —
    * peeling is monotone (the alive set only shrinks), so R rounds
    * give the exact k-core whenever the peel converges within R, and
    * a documented over-approximation otherwise (the x38/x50/x54
    * horizon contract).
    *
    * Per round: ONE degree count over the alive-induced edge set (two
    * semi-joins + a partial agg) and a threshold filter — all exact
    * integers, nothing to round, both engines peel identically.
    *
    * Returns the survivors with their degree in the final induced
    * subgraph: (node_id, core_degree).
    */
  def kCore(edges: DataFrame, k: Int = 3, rounds: Int = 4): DataFrame = {
    require(k >= 1, "need k >= 1")
    require(rounds >= 1, "need at least one peel round")
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = graft.std.Materialize.once(
      e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    def degrees(alive: DataFrame): DataFrame =
      und.join(alive.select(col("node").as("src")), Seq("src"))
        .join(alive.select(col("node").as("dst")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("degree"))
    var alive = graft.std.Materialize.once(
      und.select(col("src").as("node")).distinct())
    for (_ <- 1 to rounds) {
      alive = graft.std.Materialize.once(
        degrees(alive).filter(col("degree") >= k)
          .select(col("node")))
    }
    degrees(alive)
      .select(col("node").as("node_id"),
        col("degree").as("core_degree"))
  }

  /** Sampled-source betweenness centrality (x58): Brandes'
    * accumulation over a SEED SAMPLE with a hop horizon — the
    * who-sits-on-the-paths readout completing the centrality shelf
    * (x20 prices endorsement flow, x54 prices reach, this prices
    * BROKERAGE: the nodes whose removal disconnects shortest routes).
    * Exact betweenness is all-pairs; the sampled-source form (the
    * standard estimator, same contract as x54's Eppstein–Wang shape)
    * keeps cost linear in |S|·|reached| with |S| the error/cost knob,
    * and the hop horizon truncates like x38/x50 — both bounds are
    * part of the contract.
    *
    * Two passes, all Pregel-as-joins at (seed, node) grain:
    * 1. FORWARD level-synchronous BFS whose frontier CARRIES the
    *    shortest-path counts σ — level l's σ is the sum of level
    *    l−1 predecessors' σ across edges (exact longs), and a
    *    candidate already reached at an earlier level anti-joins
    *    away, so the frontier slices ARE the level frames and no
    *    separate distance pass exists (fusing σ into the BFS cut
    *    the operator from three corpus-scale passes to two);
    * 2. BACKWARD dependency δ by decreasing level:
    *    δ(v) = Σ_{(v,w), d(w)=d(v)+1} σ_v·(1e9 + δ_w) div σ_w —
    *    Brandes' recurrence in the x20 e9 fixed-point discipline
    *    (one truncation per term, order-free integer sums; the
    *    σ·(1e9+δ) product stays inside long range on the sparse
    *    chain graph — DuckDB runs the same values in overflow-checked
    *    BIGINT, the x30 twin discipline).
    * Betweenness(v) = Σ over seeds of δ(v), sources excluded from
    * their own rollup (a node brokers paths BETWEEN others).
    *
    * 100 TB shape: per pass-iteration ONE join + one partial-agg
    * shuffle on |S| × |reached| narrow rows; σ and δ frames are
    * level-sliced so each level's work touches only its own frontier.
    *
    * Round-16 audit of the backward sweep (the can-two-joins-fold-
    * into-one question): NO, at fixed oracle arithmetic. The per-term
    * integer div binds σ_v INSIDE `σ_v·(1e9+δ_w) div σ_w`, so σ_v
    * cannot factor out of the Σ_w and must attach per (v, w) pair —
    * and attaching it IS the second join (σ_v lives at (seed, v)
    * grain on the level slice). Moving the pair filter into the
    * forward pass (pinning predecessor-pair frames) trades the
    * backward 2M-row exchange for an identical forward one plus an
    * extra pin per level — measured a wash. Plain pins report no
    * partitioning, so pre-partitioned edge copies elided nothing; keyed
    * pins keep it, and are not yet re-measured here. Remaining cost is
    * the estimator's honest price; |S| stays the knob.
    *
    * Returns (node_id, n_sources, betweenness_e9, betweenness).
    */
  def betweennessCentrality(edges: DataFrame, seeds: DataFrame,
                            iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "need at least one hop")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    // ---- pass 1: BFS frontier carrying σ (levels = frontiers) ----
    var frontier = graft.std.Materialize.once(
      seeds.select(col("seed")).filter(col("seed").isNotNull)
        .distinct()
        .select(col("seed"), col("seed").as("node"),
          lit(1L).as("sigma")))
    // the visited set is a LAZY union over the already-pinned level
    // slices — re-pinning the growing union each hop (the pre-r15
    // shape) copied up to |S|·|reached| rows per iteration just to
    // feed one anti-join that can read the pinned parts directly
    var reachedParts = Vector(frontier.select(col("seed"), col("node")))
    var sigLevels = Vector(frontier)
    for (_ <- 1 to iterations) {
      // σ sums over ALL edges out of the previous frontier; arrivals
      // at already-reached (earlier-level) nodes anti-join away, so
      // what survives is exactly the next level with its exact σ
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(frontier("seed"), e("dst").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
      frontier = graft.std.Materialize.once(
        cand.join(reachedParts.reduce(_ unionByName _),
          Seq("seed", "node"), "left_anti"))
      reachedParts :+= frontier.select(col("seed"), col("node"))
      sigLevels :+= frontier
    }
    // ---- pass 2: backward dependency accumulation (each level's
    // frame carries ITS σ, so the successor attach is one join) ----
    var delta = graft.std.Materialize.once(
      sigLevels(iterations)
        .select(col("seed"), col("node"), col("sigma"),
          lit(0L).as("delta_e9")))
    var deltas = Vector(
      delta.select(col("seed"), col("node"), col("delta_e9")))
    for (l <- (iterations - 1) to 0 by -1) {
      val dw = delta.select(col("seed").as("_ws"),
        col("node").as("_wn"), col("sigma").as("_sw"),
        col("delta_e9").as("_dw"))
      // successors one level deeper, with their σ and δ attached
      val succ = e.join(dw, e("dst") === col("_wn"))
        .select(col("_ws").as("_ss"), e("src").as("_sn"),
          col("_sw"), col("_dw"))
      val sv = sigLevels(l)
      val next = sv.join(succ,
          sv("seed") === col("_ss") && sv("node") === col("_sn"),
          "left_outer")
        .groupBy(sv("seed"), sv("node"), sv("sigma"))
        .agg(coalesce(sum(
          expr("CAST(sigma * (1000000000 + _dw) div _sw AS BIGINT)")),
          lit(0L)).as("delta_e9"))
        .select(col("seed"), col("node"), col("sigma"),
          col("delta_e9"))
      delta = graft.std.Materialize.once(next)
      deltas :+= delta.select(col("seed"), col("node"),
        col("delta_e9"))
    }
    // ---- rollup: sources excluded from their own accumulation ----
    deltas.reduce(_ unionByName _)
      .filter(col("node") =!= col("seed"))
      .groupBy(col("node").as("node_id"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("delta_e9")).as("betweenness_e9"))
      .select(col("node_id"), col("n_sources"), col("betweenness_e9"),
        (col("betweenness_e9").cast("double") / lit(1e9))
          .as("betweenness"))
  }

  /** Newman modularity (x63): scores HOW GOOD a community assignment
    * is — the fraction of edges falling inside communities minus the
    * fraction expected under a degree-preserving random rewiring:
    * Q = Σ_c [ e_c/m − (d_c/(2m))² ] over communities c, with m the
    * undirected edge count, e_c the edges internal to c, d_c the
    * total degree of c's nodes. The acceptance gate for [[
    * labelPropagation]] (x34) / [[Dedup.connectedComponentsStars]]
    * (x48) output: Q ≈ 0 means the partition is no better than
    * random (the whole graph as ONE community scores exactly 0), and
    * curation pipelines use precisely this readout to decide whether
    * community structure is real before acting on it.
    *
    * Takes the assignment as DATA (`labels(node, community)`) rather
    * than computing it, so one scorer serves every partitioner —
    * the s13/s17 recall-readout discipline applied to communities.
    * Nodes present in `labels` but isolated in `edges` contribute no
    * degree and no edges (they cannot change Q); nodes in `edges`
    * but missing from `labels` are dropped by the inner join — the
    * label frame is the contract, like x34's output.
    *
    * 100 TB shape: the edge list joins the skinny label frame twice
    * (both shuffled on the node key) and collapses straight to
    * per-community counters; degrees are one partial-agg pass. The
    * per-community frame and the two scalars (m, ΣQ) broadcast back —
    * nothing corpus-sized survives the aggregation.
    *
    * Determinism: counts and degree sums are exact longs; each Q
    * term is two fixed-point subterms in the x31 lcc discipline —
    * DECIMAL(38,0) products, ONE truncating `div` per subterm
    * (`e_c·1e9 div m` and `d_c²·1e9 div 4m²`), order-free long sums.
    * Nothing rounds until the display double.
    *
    * Returns one row per community:
    * (community, n_nodes, internal_edges, degree_sum, q_term_e9,
    * modularity_e9, modularity) — the global Q repeated per row (the
    * x55 fit-column style).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // oriented undirected support: each edge once as (u < v)
    val eu = graft.std.Materialize.once(
      e0.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val und = eu.unionAll(eu.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree"))
    val lab = labels.select(col("node"), col("community"))
      .filter(col("node").isNotNull && col("community").isNotNull)
    val mRow = eu.agg(count(lit(1)).as("m"))
    val ein = eu
      .join(lab.select(col("node").as("u"), col("community").as("_cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("_cv")),
        Seq("v"))
      .filter(col("_cu") === col("_cv"))
      .groupBy(col("_cu").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val dsum = deg.join(lab, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("degree")).as("degree_sum"))
    val terms = dsum
      .join(ein, Seq("community"), "left_outer")
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"))
      .crossJoin(broadcast(mRow))
      .withColumn("q_term_e9",
        expr("CAST(internal_edges AS DECIMAL(38,0)) * 1000000000 div m") -
          expr("CAST(CAST(degree_sum AS DECIMAL(38,0)) * degree_sum " +
            "* 1000000000 div (CAST(4 AS DECIMAL(38,0)) * m * m) " +
            "AS BIGINT)"))
    val tot = terms.agg(sum(col("q_term_e9")).as("modularity_e9"))
    terms.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"), col("q_term_e9"), col("modularity_e9"),
        (col("modularity_e9").cast("double") / lit(1e9))
          .as("modularity"))
  }

  /** One synchronous Louvain-style refinement sweep (x64): every node
    * greedily considers moving to the community of one of its
    * neighbors, picking the target that maximizes the [[modularity]]
    * gain, and ALL winning moves apply simultaneously — the
    * partition-improvement half of the community shelf ([[
    * labelPropagation]] proposes, [[modularity]] scores, this
    * refines). One sweep, not a loop: the caller chains sweeps and
    * re-scores between them, exactly how Louvain's level-1 phase is
    * driven in production.
    *
    * Synchronous-and-simultaneous is the deterministic contract (the
    * x34 argument verbatim): async Louvain is update-order-dependent,
    * which no cross-engine gate could pin. Each node's decision is
    * individually optimal against the FROZEN input assignment;
    * simultaneous application of independent decisions is the
    * oracle-expressible variant, and adjacent nodes may swap — the
    * spec pins that behavior rather than hiding it.
    *
    * The comparator is EXACT — no fixed point at all: maximizing
    * ΔQ(v→c) = k_{v,c}/m − k_v·d'_c/(2m²) over c is equivalent to
    * maximizing score(c) = 2m·k_{v,c} − k_v·d'_c (multiply through by
    * 2m², all non-negative integers; d'_c excludes v's own degree
    * when c is v's current community). Ties break to the smallest
    * community id; a node moves only if the best score STRICTLY beats
    * staying. DECIMAL(38,0) products keep the comparison exact at any
    * m.
    *
    * 100 TB shape: neighbor-community counts are one edge⋈label join
    * + a partial agg at (node, community) grain (≤ degree rows per
    * node); per-community degree sums and m broadcast back; the
    * winner is the t65 `min(struct)` argmin — no window sort. Nothing
    * iterates: one sweep is a fixed five-join dataflow.
    *
    * Same input/output contract as [[labelPropagation]]:
    * `labels(node, community)` in, (node, community, community_size)
    * out — so sweeps compose with x34/x48 output and feed x63.
    */
  def modularityRefine(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val eu = graft.std.Materialize.once(
      e0.select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val und = eu.unionAll(eu.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree"))
    val lab = graft.std.Materialize.once(
      labels.select(col("node"), col("community"))
        .filter(col("node").isNotNull && col("community").isNotNull))
    val mRow = eu.agg(count(lit(1)).as("m"))
    // k_{v,c}: edges from each node into each neighboring community
    val kvc = und
      .join(lab.select(col("node").as("v"), col("community").as("cand")),
        Seq("v"))
      .groupBy(col("u").as("node"), col("cand"))
      .agg(count(lit(1)).as("k_c"))
    // the node's own community is always a candidate, even with no
    // internal neighbor (k=0); MAX collapses the duplicate onto the
    // true count
    val allCand = kvc.unionByName(
        lab.select(col("node"), col("community").as("cand"),
          lit(0L).as("k_c")))
      .groupBy(col("node"), col("cand"))
      .agg(max(col("k_c")).as("k_c"))
    val dsum = deg.join(lab, Seq("node"))
      .groupBy(col("community").as("cand"))
      .agg(sum(col("degree")).as("d_c"))
    val scored = graft.std.Materialize.once(allCand
      .join(lab, Seq("node"))
      .join(deg, Seq("node"))
      .join(dsum, Seq("cand"))
      .crossJoin(broadcast(mRow))
      .select(col("node"), col("cand"), col("community").as("own"),
        expr("CAST(2 AS DECIMAL(38,0)) * m * k_c " +
          "- CAST(degree AS DECIMAL(38,0)) " +
          "* (d_c - CASE WHEN cand = community THEN degree ELSE 0 END)")
          .as("score")))
    val best = scored.groupBy(col("node"))
      .agg(min(struct((-col("score")).as("_ns"), col("cand").as("_c")))
        .as("_w"))
      .select(col("node"), (-col("_w._ns")).as("best_sc"),
        col("_w._c").as("best_c"))
    val stay = scored.filter(col("cand") === col("own"))
      .select(col("node"), col("own"), col("score").as("stay_sc"))
    val newLab = best.join(stay, Seq("node"))
      .select(col("node"),
        when(col("best_sc") > col("stay_sc"), col("best_c"))
          .otherwise(col("own")).as("community"))
    val sizes = newLab.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    newLab.join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("community_size"))
  }

  /** Bounded k-truss peel (x65): the EDGE-level cohesion complement
    * of [[kCore]]'s node peel — each round drops every edge whose
    * triangle SUPPORT (count of triangles through it) in the current
    * graph is below k−2, which is how "strong ties live inside
    * triangles" is operationalized: a k-truss edge has at least k−2
    * common-neighbor witnesses, so truss subgraphs are the
    * community-core skeletons LPA/modularity coarsen over. A fixed
    * `rounds` budget truncates the fixpoint exactly like x60's peel
    * (an edge surviving the last round may report support < k−2
    * against the final graph — the bounded contract, spec-pinned).
    *
    * Per round the support pass is [[triangleStats]]'s skew-proof
    * kernel re-run on the CURRENT edge set: re-orient by (degree, id)
    * — degrees change as edges drop — so oriented out-degree stays
    * O(√m) under any hub skew, wedge self-join on the low endpoint,
    * one closure join, then each triangle explodes to its three
    * undirected edges for a partial-agg support count. Three shuffles
    * per round plus the prune join; frames pinned per round (x20
    * lineage discipline). All exact integer counts — orientation
    * order never changes the triangle set, so the oracle may orient
    * by plain id while this side orients by degree.
    *
    * Returns the surviving edges with their support in the FINAL
    * graph: (src, dst, support), id-ordered src < dst.
    */
  def kTruss(edges: DataFrame, k: Int = 3, rounds: Int = 2): DataFrame = {
    require(k >= 3, "a truss needs k >= 3 (support threshold k-2 >= 1)")
    require(rounds >= 1, "need at least one peel round")
    def support(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("u").as("node"))
        .unionAll(cur.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val oriented = cur
        .join(deg.select(col("node").as("u"), col("degree").as("_du")),
          Seq("u"))
        .join(deg.select(col("node").as("v"), col("degree").as("_dv")),
          Seq("v"))
        .select(
          when(col("_du") < col("_dv") ||
            (col("_du") === col("_dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("lo"),
          when(col("_du") < col("_dv") ||
            (col("_du") === col("_dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("hi"),
          greatest(col("_du"), col("_dv")).as("_dhi"))
      val e1 = oriented.select(col("lo"), col("hi").as("b"),
        col("_dhi").as("_db"))
      val e2 = oriented.select(col("lo"), col("hi").as("c"),
        col("_dhi").as("_dc"))
      val tris = e1.join(e2, Seq("lo"))
        .filter(col("_db") < col("_dc") ||
          (col("_db") === col("_dc") && col("b") < col("c")))
        .join(oriented.select(col("lo").as("b"), col("hi").as("c")),
          Seq("b", "c"))
      tris.select(explode(array(
          struct(least(col("lo"), col("b")).as("u"),
            greatest(col("lo"), col("b")).as("v")),
          struct(least(col("lo"), col("c")).as("u"),
            greatest(col("lo"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("support"))
    }
    var e = graft.std.Materialize.once(
      edges.select(
          least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("u") =!= col("v"))
        .distinct())
    for (_ <- 1 to rounds) {
      val sup = support(e)
      e = graft.std.Materialize.once(
        e.join(sup, Seq("u", "v"), "left_outer")
          .filter(coalesce(col("support"), lit(0L)) >= lit((k - 2).toLong))
          .select(col("u"), col("v")))
    }
    e.join(support(e), Seq("u", "v"), "left_outer")
      .select(col("u").as("src"), col("v").as("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Directed triad census (x70): per node, how often it sits in a
    * feedback CYCLE (a→b→c→a) vs each role of a FEED-FORWARD
    * triangle (a→b→c with the a→c shortcut) — the two directed
    * motifs x31's undirected counts cannot tell apart, and the
    * distinction is the point: the feed-forward loop is the
    * overwhelmingly over-represented motif in real information
    * networks (Milo et al.'s motif census) while cycles mark
    * feedback/collusion (x69's rings, at triangle grain). A node's
    * FFL role matters separately — sources originate, middles relay,
    * sinks aggregate — so the census reports all three.
    *
    * Instances are arc-set occurrences, counted independently (the
    * standard subgraph census): a cycle whose chord also closes a
    * feed-forward triangle contributes to BOTH counts, and
    * reciprocal edges yield both rotations as distinct cycles.
    * Cycles canonicalize on their minimum node so each instance
    * counts once.
    *
    * 100 TB shape: ONE two-hop path join (Σ_b in(b)·out(b) rows —
    * the same wedge volume x47's transition census pays; a motif
    * census at planetary scale samples wedges, which composes here
    * by pre-sampling the edge frame) closed by ONE arc equi-join per
    * motif, then per-node partial-agg rollups. No state beyond the
    * pinned edge list.
    *
    * Returns (node_id, n_cycles, n_ffl_source, n_ffl_middle,
    * n_ffl_sink) for nodes appearing in at least one motif.
    */
  def triadCensus(edges: DataFrame): DataFrame = {
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val paths = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .filter(col("a") =!= col("c"))
    val ffl = graft.std.Materialize.once(
      paths.join(e.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c")))
    val cyc = graft.std.Materialize.once(
      paths.join(e.select(col("src").as("c"), col("dst").as("a")),
          Seq("c", "a"))
        .filter(col("a") <= least(col("b"), col("c"))))
    val cycCounts = cyc
      .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_cycles"))
    val fflCounts = ffl.select(col("a").as("node_id"),
        lit(1L).as("_s"), lit(0L).as("_m"), lit(0L).as("_k"))
      .unionByName(ffl.select(col("b").as("node_id"),
        lit(0L).as("_s"), lit(1L).as("_m"), lit(0L).as("_k")))
      .unionByName(ffl.select(col("c").as("node_id"),
        lit(0L).as("_s"), lit(0L).as("_m"), lit(1L).as("_k")))
      .groupBy(col("node_id"))
      .agg(sum(col("_s")).as("n_ffl_source"),
        sum(col("_m")).as("n_ffl_middle"),
        sum(col("_k")).as("n_ffl_sink"))
    cycCounts.join(fflCounts, Seq("node_id"), "full_outer")
      .select(col("node_id"),
        coalesce(col("n_cycles"), lit(0L)).as("n_cycles"),
        coalesce(col("n_ffl_source"), lit(0L)).as("n_ffl_source"),
        coalesce(col("n_ffl_middle"), lit(0L)).as("n_ffl_middle"),
        coalesce(col("n_ffl_sink"), lit(0L)).as("n_ffl_sink"))
  }

  /** Bounded strongly connected components (x69): the DIRECTED
    * complement of x48's undirected components — a directed cycle is
    * mutual reachability, which no undirected component can certify
    * (x48 merges a retweet chain and its audience into one blob; the
    * SCC is the actual feedback ring). One round of the distributed
    * coloring algorithm with a hop horizon, the standard scalable
    * shape (Hong et al.'s coloring / FW-BW without recursion):
    *
    * 1. FORWARD min-label: `lab(u)` = the smallest node id that
    *    reaches u within `hops` (including u itself) — x48's
    *    min-propagation run along edge direction;
    * 2. BACKWARD confirmation: each color ROOT m (`lab(m) = m`)
    *    flags itself, and the flag walks edges BACKWARD for `hops`
    *    rounds, but only across nodes of the SAME color — a flagged
    *    node both reaches m (it holds m's label... no: m reaches it,
    *    by the label) and reaches back to m (the backward walk), so
    *    flagged nodes of color m are exactly members of m's SCC
    *    within the horizon.
    *
    * Bounded contract (the x38/x50/x60 horizon discipline, honest
    * and spec-pinned): members whose mutual paths exceed `hops` are
    * missed, and a node whose color root lies OUTSIDE its own SCC
    * resolves only in later peel rounds of the full algorithm —
    * this operator reports the FIRST round's confirmed members
    * (every reported (node, scc) pair is correct; completeness is
    * what the horizon trades). [[stronglyConnectedPeel]] (x71) is
    * the iterative completion when those shadowed rings matter.
    *
    * 100 TB shape: label state is |V| rows of two longs; per round
    * ONE equi-join + one groupBy-MIN (forward) or one equi-join +
    * distinct (backward), all map-side-collapsible. No per-node
    * reach sets, no all-pairs state — the coloring trick exists
    * precisely to avoid x54-style (seed, node) grain on all nodes.
    *
    * Returns (node_id, scc_id, scc_size) for confirmed members,
    * scc_size ≥ 2 filterable by the caller (roots always confirm
    * themselves, so singleton rows are the no-cycle-found verdict).
    */
  def stronglyConnected(edges: DataFrame, hops: Int = 4): DataFrame = {
    require(hops >= 1, "need at least one hop")
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val flagged = colorConfirmRound(e, nodes, hops)
    val sizes = flagged.groupBy(col("lab"))
      .agg(count(lit(1)).as("scc_size"))
    flagged.join(sizes, Seq("lab"))
      .select(col("node").as("node_id"), col("lab").as("scc_id"),
        col("scc_size"))
  }

  /** One coloring round of the SCC algorithm (the x69 kernel, shared
    * with [[stronglyConnectedPeel]]): forward min-label for `hops`
    * rounds, then backward same-color confirmation from each root.
    * Returns the confirmed (node, lab) frame, materialized.
    */
  private def colorConfirmRound(e: DataFrame, nodes: DataFrame,
                                hops: Int): DataFrame = {
    var lab = graft.std.Materialize.once(
      nodes.withColumn("lab", col("node")))
    for (_ <- 1 to hops) {
      val stepped = lab.join(e, lab("node") === e("src"))
        .select(e("dst").as("node"), col("lab"))
      lab = graft.std.Materialize.once(
        lab.unionByName(stepped)
          .groupBy(col("node")).agg(min(col("lab")).as("lab")))
    }
    var flagged = graft.std.Materialize.once(
      lab.filter(col("node") === col("lab")))
    for (_ <- 1 to hops) {
      val back = flagged.join(e, flagged("node") === e("dst"))
        .select(e("src").as("node"), flagged("lab"))
        .join(lab.withColumnRenamed("lab", "_vl"), Seq("node"))
        .filter(col("lab") === col("_vl"))
        .select(col("node"), col("lab"))
      flagged = graft.std.Materialize.once(
        flagged.unionByName(back).distinct())
    }
    flagged
  }

  /** Iterative-peel strongly connected components (x71): the FW-BW/
    * coloring completion of [[stronglyConnected]]. One coloring round
    * confirms exactly the SCCs whose color root lies INSIDE them; a
    * ring whose min-label arrives from an external feeder node (the
    * high-in-degree-hub case — precisely the fraud/feedback rings the
    * operator exists for) stays silent. The standard completion PEELS:
    * remove every confirmed node (roots always confirm themselves, so
    * each round removes at least the minimum remaining node — progress
    * is guaranteed), restrict edges to the remainder, recolor, confirm
    * again, for a bounded number of rounds.
    *
    * Bounded contract (two knobs, both honest): `hops` truncates
    * long mutual paths exactly as x69 documents; `peelRounds` bounds
    * how many layers of external-root shadowing resolve. Every
    * reported (node, scc) pair is correct; completeness is what the
    * two horizons trade. `peel_round` in the output says which round
    * confirmed each member — a direct observability readout of how
    * deep the shadowing ran.
    *
    * 100 TB shape: each peel round is the x69 kernel unchanged (per
    * hop ONE equi-join + groupBy-MIN forward, one equi-join + distinct
    * backward; label state two longs per node) plus TWO anti/semi
    * joins to shrink the node and edge frames — and the frames only
    * ever SHRINK, so round r+1 is strictly cheaper than round r. The
    * early exit on an empty remainder costs one count on a pinned
    * frame.
    *
    * Returns (node_id, scc_id, scc_size, peel_round).
    */
  def stronglyConnectedPeel(edges: DataFrame, hops: Int = 4,
                            peelRounds: Int = 3): DataFrame = {
    require(hops >= 1, "need at least one hop")
    require(peelRounds >= 1, "need at least one peel round")
    var e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    var nodes = graft.std.Materialize.once(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct())
    val perRound = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var exhausted = false
    while (r <= peelRounds && !exhausted) {
      val flagged = colorConfirmRound(e, nodes, hops)
      perRound += flagged.select(col("node"), col("lab"),
        lit(r).as("peel_round"))
      if (r < peelRounds) {
        nodes = graft.std.Materialize.once(
          nodes.join(flagged.select(col("node")), Seq("node"),
            "left_anti"))
        if (nodes.isEmpty) exhausted = true
        else e = graft.std.Materialize.once(
          e.join(nodes.select(col("node").as("src")), Seq("src"))
            .join(nodes.select(col("node").as("dst")), Seq("dst"))
            .select(col("src"), col("dst")))
      }
      r += 1
    }
    // labs are disjoint across rounds (a round's roots are remaining
    // nodes, and every root was itself confirmed and peeled), so the
    // per-SCC size groups by lab alone
    val allf = graft.std.Materialize.once(
      perRound.reduce(_ unionByName _))
    val sizes = allf.groupBy(col("lab"))
      .agg(count(lit(1)).as("scc_size"))
    allf.join(sizes, Seq("lab"))
      .select(col("node").as("node_id"), col("lab").as("scc_id"),
        col("scc_size"), col("peel_round"))
  }

  /** Deterministic random-walk corpus (x66): one walk per seed, the
    * DeepWalk/node2vec data-generation step — graph-embedding
    * trainers consume walk SEQUENCES the way language models consume
    * token streams, and at corpus scale the walk generator IS the
    * pipeline (the reference for the sampling strategy is the
    * node2vec paper's neighbor-sampled walks; this is the p=q=1
    * uniform case). "Random" is hash-seeded and REPRODUCIBLE: at
    * step s from node v, walk w takes out-neighbor index
    * `hash64("w|s|v") mod outdeg(v)` among the first `maxDegree`
    * neighbors ordered by node id — rerunning the generator yields
    * byte-identical training data (the t9 split discipline applied
    * to walks), and the DuckDB twin replays the same md5 lane.
    *
    * Dead ends TERMINATE the walk (no self-loop padding — a padded
    * node would teach the embedding a spurious co-occurrence);
    * `maxDegree` caps the adjacency ranks so a hub node costs the
    * step join at most `maxDegree` candidate rows per visit — the
    * GraphSAGE neighbor-cap discipline, and the same skew bound the
    * d2/m5 bucket caps apply. The cap changes which neighbor a hash
    * picks on >cap hubs; it is part of the operator contract, not an
    * approximation knob hidden from the twin.
    *
    * 100 TB shape: the adjacency builds once (one shuffle for the
    * per-src rank window); each step is ONE equi-join of the
    * |walks| frontier against the capped adjacency on `src` with the
    * pick predicate riding the join — no per-step window, no
    * driver-side state. Walk state is (walk_id, node) longs.
    *
    * Returns (walk_id, step, node_id) — step 0 is the seed itself.
    */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int = 4,
                  maxDegree: Int = 64): DataFrame = {
    require(steps >= 1, "need at least one step")
    require(maxDegree >= 1, "need a positive neighbor cap")
    val byDst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
    val adj = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
        .withColumn("r", row_number().over(byDst))
        .filter(col("r") <= maxDegree)
        .withColumn("outdeg", count(lit(1)).over(bySrc)))
    var frontier = graft.std.Materialize.once(
      seeds.select(col("seed")).filter(col("seed").isNotNull)
        .distinct()
        .select(col("seed").as("walk_id"), col("seed").as("node")))
    var levels = Vector(frontier.select(col("walk_id"),
      lit(0L).as("step"), col("node")))
    for (s <- 1 to steps) {
      val pick = TextOps.hash64(concat_ws("|",
        frontier("walk_id"), lit(s.toLong), frontier("node"))) %
        col("outdeg") + 1
      frontier = graft.std.Materialize.once(
        frontier.join(adj, frontier("node") === adj("src"))
          .filter(adj("r") === pick)
          .select(frontier("walk_id"), adj("dst").as("node")))
      levels :+= frontier.select(col("walk_id"),
        lit(s.toLong).as("step"), col("node"))
    }
    levels.reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node").as("node_id"))
  }

  /** Skip-gram pair counts (x72): the word2vec data step over a walk
    * corpus — for every walk position, each neighbor within `window`
    * steps (either direction, never itself) is a (center, context)
    * co-occurrence, and the corpus-wide counts are exactly the
    * training pairs a DeepWalk/node2vec embedding trains on (and the
    * co-occurrence table a t66-style PMI readout consumes). This is
    * the consumer that closes the x66 story: walks are the sentences,
    * this is the sentence→pair explode.
    *
    * Deterministic by construction: the input walks are hash-seeded
    * and reproducible ([[randomWalks]]), pair extraction is pure
    * position arithmetic, counts are exact longs.
    *
    * 100 TB shape: ONE equi-self-join of the pinned walk corpus on
    * `walk_id` — per-walk fan-out is bounded by (steps+1)², a small
    * constant set by the walk length, never by graph size or degree —
    * then one map-side-combinable groupBy on (center, context). No
    * per-offset join loop, no window function, no skew beyond the
    * walk-length constant.
    *
    * Returns (center, context, n_pairs).
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "need a positive context window")
    val w = graft.std.Materialize.once(
      walks.select(col("walk_id"), col("step"), col("node_id")))
    val c = w.select(col("walk_id"), col("step").as("_cs"),
      col("node_id").as("center"))
    val o = w.select(col("walk_id"), col("step").as("_os"),
      col("node_id").as("context"))
    c.join(o, Seq("walk_id"))
      .filter(col("_os") =!= col("_cs") &&
        abs(col("_os") - col("_cs")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Link prediction by common neighborhood (x67): for UNLINKED node
    * pairs sharing at least `minCommon` neighbors, the
    * common-neighbor count and the Adamic–Adar score
    * `Σ_w 1/ln(deg(w))` — the classic who-should-connect readout
    * (recommendation candidates, knowledge-graph completion, missing-
    * edge audit before a graph ships as training data). A common
    * neighbor of degree 2 is strong evidence (it connects almost
    * nobody else); a million-degree hub is almost none — the log
    * damping is the whole point over raw counts.
    *
    * Candidate pairs form ONLY through shared neighbors (one
    * self-join of the rank-capped adjacency on the common node),
    * never all-pairs; `maxDegree` bounds a hub's pair fan-out at
    * `maxDegree²` — the d2/m5 skew-cap discipline, documented as part
    * of the contract (neighbors beyond the cap, ordered by node id,
    * do not witness pairs). Already-linked pairs anti-join away.
    * Top-`topN` by (aa_score DESC, u, v) keeps the output a report.
    *
    * Determinism: degrees are exact longs over the UNCAPPED
    * undirected support; each AA term is `round(1/round(ln(deg),9),9)`
    * (the t56/x55 rounded-log discipline) summed order-free as
    * DECIMAL(28,9); ties in the top-N break on the pair ids.
    *
    * 100 TB shape: degree pass (one partial-agg shuffle), capped
    * adjacency (one rank window), pair generation (ONE equi-self-join
    * on the common node, map-side-combinable groupBy), one broadcast
    * of the tiny degree frame onto the common-node column, and a
    * TakeOrderedAndProject for the top-N — no global sort.
    *
    * Returns (node_u, node_v, common_neighbors, aa_score).
    */
  def linkPrediction(edges: DataFrame, minCommon: Int = 2,
                     maxDegree: Int = 64, topN: Int = 100): DataFrame = {
    require(minCommon >= 1, "need at least one shared neighbor")
    require(maxDegree >= 2, "a common neighbor needs degree >= 2")
    require(topN >= 1, "need a positive report size")
    val und = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .unionByName(edges.select(col("dst").as("a"),
          col("src").as("b"))
          .filter(col("a").isNotNull && col("b").isNotNull &&
            col("a") =!= col("b")))
        .distinct())
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("degree"))
    val byB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("b"))
    val adj = und.withColumn("r", row_number().over(byB))
      .filter(col("r") <= maxDegree)
      .select(col("a").as("w"), col("b").as("n"))
    val cand = adj.select(col("w"), col("n").as("u"))
      .join(adj.select(col("w"), col("n").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    // the AA term rides the common-NODE column, so the degree frame
    // broadcasts onto it before the pair groupBy collapses
    val term = cand.join(broadcast(deg.withColumnRenamed("node", "w")),
        Seq("w"))
      .select(col("u"), col("v"),
        round(lit(1.0) /
          round(log(col("degree").cast("double")), 9), 9)
          .cast("decimal(28,9)").as("_t"))
    val scored = term.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("_t")).as("_aa"))
      .filter(col("common_neighbors") >= minCommon.toLong)
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u").as("node_u"), col("v").as("node_v"),
        col("common_neighbors"),
        col("_aa").cast("double").as("aa_score"))
    scored.orderBy(col("aa_score").desc, col("node_u"), col("node_v"))
      .limit(topN)
  }

  /** Edge reciprocity (x75): per node, how many of its out-edges are
    * returned (u→v with v→u present) — the classic directed-mixing
    * diagnostic (Newman's reciprocity) completing the degree shelf:
    * x55 says whether hubs exist, x59 says who they attach to, this
    * says whether relations are MUTUAL or broadcast. The split is
    * operationally load-bearing for the x-tier itself: a
    * high-reciprocity graph behaves like x48's undirected world (SCCs
    * everywhere, x69 cheap), a near-zero one is a DAG-like feed where
    * x70's feed-forward census carries the signal — reciprocity is
    * the one-pass readout that says which regime you are in.
    *
    * 100 TB shape: ONE self-equi-join of the distinct edge frame on
    * the reversed key pair + one per-src partial agg — no windows, no
    * iteration; exact longs and one fixed-point division.
    *
    * Returns (node_id, n_out, n_reciprocated, reciprocity_e9).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    val back = e.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("_rec"))
    e.join(back, Seq("src", "dst"), "left_outer")
      .groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("n_out"),
        coalesce(sum(col("_rec")), lit(0L)).as("n_reciprocated"))
      .select(col("node_id"), col("n_out"), col("n_reciprocated"),
        expr("n_reciprocated * 1000000000 div n_out")
          .as("reciprocity_e9"))
  }

  /** Double-sweep diameter estimate (x74): the classic two-BFS lower
    * bound (the Magnien/Latapy/Habib double sweep) — BFS from a
    * deterministic start (the minimum node id), take the FARTHEST
    * reached node (tie to the smaller id), BFS again from there; the
    * second eccentricity is a diameter lower bound that is exact on
    * trees and empirically tight on real graphs, at the cost of TWO
    * BFS passes instead of all-pairs. The "how wide is this graph"
    * planning number: it sizes every horizon knob in the tier (x38's
    * k, x54/x58's iterations, x69/x71's hops) — run this first, set
    * the horizons from it.
    *
    * Undirected support (diameter is a connectivity notion); the hop
    * horizon bounds both sweeps honestly: a sweep whose eccentricity
    * SATURATES the horizon (ecc = hops) says the bound is
    * horizon-limited, not converged — the x38/x50 bounded contract,
    * readable right off the output row. `sweep*_reached` counts say
    * how much of the graph each sweep saw (a small count = the start
    * component is small, not the graph).
    *
    * 100 TB shape: per hop ONE frontier⋈edges join + one groupBy-MIN
    * at node grain (the x48/x50 relax loop, |V| rows of two longs);
    * the argmax handoff between sweeps is an in-plan one-row
    * `min(struct)` aggregate (the t65 discipline) — no driver
    * collect, the whole operator is one lazy plan of 2·hops rounds.
    *
    * Returns ONE row: (start_node, sweep1_far_node, sweep1_ecc,
    * sweep1_reached, sweep2_far_node, sweep2_ecc, sweep2_reached,
    * diameter_lb); empty for an empty graph.
    */
  def diameterEstimate(edges: DataFrame, hops: Int = 6): DataFrame = {
    require(hops >= 1, "need at least one hop")
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = graft.std.Materialize.once(
      e0.unionByName(e0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct())
    val nodes = und.select(col("src").as("node")).distinct()
    def sweep(seed: DataFrame): DataFrame = {
      var dist = graft.std.Materialize.once(seed)
      for (_ <- 1 to hops) {
        val stepped = dist.join(und, dist("node") === und("src"))
          .select(und("dst").as("node"), (col("dist") + 1L).as("dist"))
        dist = graft.std.Materialize.once(
          dist.unionByName(stepped)
            .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      }
      dist
    }
    // farthest reached, ties to the smaller id: max dist == min of
    // (-dist, node) structs
    def farthest(dist: DataFrame): DataFrame =
      graft.std.Materialize.once(
        dist.agg(min(struct((col("dist") * -1L).as("nd"),
          col("node").as("node"))).as("s"))
          .select(col("s.node").as("node"),
            (col("s.nd") * -1L).as("ecc"))
          .filter(col("node").isNotNull))
    val seed1 = nodes.agg(min(col("node")).as("node"))
      .filter(col("node").isNotNull)
      .select(col("node"), lit(0L).as("dist"))
    val a = sweep(seed1)
    val u = farthest(a)
    val b = sweep(u.select(col("node"), lit(0L).as("dist")))
    val v = farthest(b)
    u.select(col("node").as("sweep1_far_node"),
        col("ecc").as("sweep1_ecc"))
      .crossJoin(broadcast(seed1.select(col("node").as("start_node"))))
      .crossJoin(broadcast(a.agg(count(lit(1)).as("sweep1_reached"))))
      .crossJoin(broadcast(v.select(col("node").as("sweep2_far_node"),
        col("ecc").as("sweep2_ecc"))))
      .crossJoin(broadcast(b.agg(count(lit(1)).as("sweep2_reached"))))
      .select(col("start_node"), col("sweep1_far_node"),
        col("sweep1_ecc"), col("sweep1_reached"),
        col("sweep2_far_node"), col("sweep2_ecc"),
        col("sweep2_reached"),
        greatest(col("sweep1_ecc"), col("sweep2_ecc"))
          .as("diameter_lb"))
  }

  /** Link-prediction holdout evaluation (x73): does the x67 predictor
    * actually recover missing edges? The s13/s17/s19/s25 recall-shelf
    * discipline applied to the graph tier — every scorer on this
    * shelf ships with the readout that prices it. A deterministic
    * hash holdout (the t9 split discipline: `hash64("lph|u|v") mod
    * holdoutMod = 0`, reproducible and oracle-replayable) removes
    * ~1/holdoutMod of the canonical undirected edges; Adamic–Adar
    * runs on the REMAINDER; the report says how many held-out edges
    * surface in the top-k predictions — precision@k and recall@k in
    * exact fixed point, for each k in `ks`.
    *
    * Precision@k divides by k even when fewer candidates exist (the
    * standard definition — a thin candidate list IS a miss). A graph
    * whose holdout is empty reports recall NULL, never a division
    * error.
    *
    * 100 TB shape: the holdout split is one hash predicate riding the
    * canonical-pair scan (no extra shuffle); the predictor is
    * [[linkPrediction]] unchanged (its contract bounds the work); the
    * eval runs entirely on the ≤ max(ks)-row prediction report — the
    * rank window is single-partition but BOUNDED by topN, a report
    * constant, and the per-k rollup is a conditional agg over
    * |report| × |ks| rows.
    *
    * Returns (k, n_hits, n_held, precision_e6, recall_e6).
    */
  def linkPredictionEval(edges: DataFrame, holdoutMod: Int = 10,
                         minCommon: Int = 1, maxDegree: Int = 16,
                         ks: Seq[Int] = Seq(10, 50, 100)): DataFrame = {
    require(holdoutMod >= 2, "need a holdout fraction below 1")
    require(ks.nonEmpty && ks.forall(_ >= 1), "need positive report ks")
    val spark = edges.sparkSession
    val canon = graft.std.Materialize.once(
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val lane = TextOps.hash64(
      concat_ws("|", lit("lph"), col("u"), col("v"))) % holdoutMod
    val held = graft.std.Materialize.once(canon.filter(lane === 0))
    val train = canon.filter(lane =!= 0)
    val topN = ks.max
    val preds = linkPrediction(
      train.select(col("u").as("src"), col("v").as("dst")),
      minCommon, maxDegree, topN)
    // rank over the bounded report: single-partition window on
    // <= topN rows, a contract constant — never corpus-sized
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("aa_score").desc, col("node_u"), col("node_v"))
    val hits = preds.withColumn("rank", row_number().over(wRank))
      .join(held.select(col("u").as("node_u"), col("v").as("node_v"),
        lit(1L).as("_hit")), Seq("node_u", "node_v"), "left_outer")
      .select(col("rank"), coalesce(col("_hit"), lit(0L)).as("_hit"))
    import spark.implicits._
    val ksDf = ks.toDF("k")
    val heldCount = held.agg(count(lit(1)).as("n_held"))
    hits.crossJoin(broadcast(ksDf))
      .groupBy(col("k"))
      .agg(sum(when(col("rank") <= col("k"), col("_hit"))
        .otherwise(lit(0L))).as("n_hits"))
      .crossJoin(broadcast(heldCount))
      .select(col("k"), col("n_hits"), col("n_held"),
        expr("n_hits * 1000000 div k").as("precision_e6"),
        when(col("n_held") === 0, lit(null))
          .otherwise(expr("n_hits * 1000000 div n_held"))
          .cast("long").as("recall_e6"))
  }
}
