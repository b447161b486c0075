package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over edge lists.
  *
  * Link analysis is a standard quality signal for web-crawl training
  * corpora (harvest centrality from the hyperlink graph), and the
  * iterative join-agg shape here is the general template for any
  * fixed-point computation the engine runs — the sibling of the
  * connected-components resolver in Dedup (dedup clustering walks
  * equalities; PageRank walks weighted probability mass).
  *
  * Scale shape per iteration: ONE shuffle join (transition matrix ⋈
  * ranks, both hash-partitioned on the source node) + ONE aggregation
  * by destination. The transition matrix is computed once and
  * persisted; the rank frames go through [[rounds]], whose periodic
  * eager cuts keep the logical plan O(1) deep instead of
  * O(iterations). The only driver-side values are counts taken once
  * (nodes, dangling nodes).
  */
object Graph {

  /** [[rounds]] cuts (one eager localCheckpoint = one Spark action +
    * lineage cut) every this many rounds; the rounds between persist().
    * 3 bounds the logical-plan doubling of a twice-consumed iterate at
    * 2³ while running one action per three rounds instead of one per
    * round.
    */
  private[graft] val IterCutEvery = 3

  /** The round loop of every iterative operator: runs `step` (given
    * the previous round's frame and the 1-based round number) up to
    * `maxRounds` times from `init` and returns the last round's frame.
    *
    * The policy, for every caller (the superstep discipline of
    * Pregel):
    *   - each round's frame is persist()ed. A cached plan keeps its
    *     hash(node) output partitioning, so the next round's joins
    *     against it stay co-partitioned and only the round's own
    *     aggregation shuffles; an eager checkpoint per round would
    *     cost one Spark job per round AND erase that partitioning.
    *   - every [[IterCutEvery]]-th round, and the last, is cut instead
    *     by ONE eager localCheckpoint, the round-group's one action. A
    *     step that reads its input twice (a join and a union) doubles
    *     the logical plan every round; without the cut a long-diameter
    *     component grows a 2^k-node plan whose analysis alone runs the
    *     driver out of memory (observed: 2 GB plan strings at sf0.01).
    *   - a superseded cache is released only once a later frame is
    *     materialized; an earlier unpersist would make the next action
    *     recompute the chain through its doubled plan.
    *   - never a lazy localCheckpoint: materializing one under a plan
    *     with several consumers deadlocks against the DAG scheduler on
    *     the global RDDCheckpointData lock.
    *
    * With a convergence `signal` (an aggregate over the round's frame
    * that stops changing at the fixed point, such as a sum of labels
    * that only decrease) the rounds end when its value repeats, so the
    * last round is not known in advance: `init` is persisted too, the
    * signal is the one action per round (it also fills that round's
    * cache, so the previous one goes at once), and the last frame is
    * handed back as a checkpoint, never a cache no caller releases.
    */
  private[graft] def rounds(init: DataFrame, maxRounds: Int, signal: Option[Column] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    val live = scala.collection.mutable.ListBuffer[DataFrame]()
    def release(): Unit = { live.foreach(_.unpersist(false)); live.clear() }
    def measure(df: DataFrame): Option[Any] = signal.map(s => df.agg(s).head().get(0))
    var cur = if (signal.isEmpty) init else { val c = init.persist(); live += c; c }
    var last = measure(cur)
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val next = step(cur, r)
      val cut = r % IterCutEvery == 0 || (signal.isEmpty && r == maxRounds)
      cur = if (cut) next.localCheckpoint(true) else next.persist()
      val s = measure(cur)
      converged = s.isDefined && s == last
      last = s
      if (cut || signal.isDefined) release()
      if (!cut) live += cur
      r += 1
    }
    if (live.isEmpty) cur else try cur.localCheckpoint(true) finally release()
  }

  /** Weighted PageRank, fixed iteration count. Returns (node, rank);
    * ranks sum to 1. Dangling nodes (no out-edges) spread their mass
    * uniformly, the standard random-surfer correction.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, weight: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val e = weightedEdges(edges, src, dst, weight)
    val nodes = nodeIds(e).persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble
    randomWalk(e, nodes, iterations, damping, start = lit(1.0 / n),
      restart = lit((1.0 - damping) / n), danglingShare = col("dmass") / n)
  }

  /** Personalized PageRank / random walk with restart, fixed
    * iteration count: the restart mass (and any dangling mass) goes
    * to the SEED distribution instead of uniformly everywhere, so
    * ranks measure proximity TO the seed set — the similarity /
    * recommendation face of [[pageRank]] ("which nodes does a walk
    * anchored at these seeds keep visiting"). `seeds` must expose a
    * `node` column.
    */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      weight: String, seeds: DataFrame, iterations: Int = 6,
      damping: Double = 0.85): DataFrame = {
    val e = weightedEdges(edges, src, dst, weight)
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ns = sd.count().toDouble
    require(ns > 0, "personalizedPageRank needs a non-empty seed set")
    val nodes = nodeIds(e)
      .join(sd.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed"), lit(1.0 / ns)).otherwise(lit(0.0)).as("e0"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ranks = randomWalk(e, nodes, iterations, damping, start = col("e0"),
      restart = lit(1.0 - damping) * col("e0"), danglingShare = col("dmass") * col("e0"))
    sd.unpersist(false)
    ranks
  }

  // the caller's edge derivation can be arbitrarily expensive (a
  // fact-join + agg in the purchase-graph query) and every iterative
  // consumer reads it several times (node set, out-weights, transition
  // rows, each round's join) — persist it once
  private def weightedEdges(edges: DataFrame, src: String, dst: String, weight: String): DataFrame =
    edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"), col(weight).cast("double").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  private def nodeIds(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** The random walk of [[pageRank]] and [[personalizedPageRank]]:
    * `iterations` rounds of rank ← restart + d·(in-flow + dangling
    * share) over the persisted edge frame `e` (src, dst, w) and node
    * frame `nodes`. `start`, `restart` and `danglingShare` are each
    * caller's own expressions over `nodes`' columns (`danglingShare`
    * also reads the round's dangling mass as `dmass`), so each walk
    * keeps the exact double arithmetic its DuckDB oracle replays.
    * Releases `e` and `nodes`.
    */
  private def randomWalk(e: DataFrame, nodes: DataFrame, iterations: Int, damping: Double,
      start: Column, restart: Column, danglingShare: Column): DataFrame = {
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val trans = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("out_w")).as("frac"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    trans.count() // materialize once; reused every iteration

    // dangling node SET is static — materialize it once; only its
    // rank mass changes per iteration (otherwise every iteration's
    // scalar would re-run the whole edge-derivation subtree). When the
    // set is EMPTY (symmetrized graphs: every node has out-edges) the
    // whole mass branch is dropped — the dangling share is identically
    // +0.0 and x + 0.0 == x for the non-negative contribs, so the
    // update is bit-identical without the per-iteration semi-join +
    // 1-row agg + broadcast it would otherwise pay.
    val dangling = nodes.select(col("node"))
      .join(outW.select(col("src").as("node")), Seq("node"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDangling = dangling.count()

    val init = nodes.select(col("node"), start.as("rank")).localCheckpoint(true)
    val ranks = rounds(init, iterations) { (prev, _) =>
      val contribs = trans
        .join(prev.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("frac") * col("rank")).as("contrib"))
      val inflow = coalesce(col("contrib"), lit(0.0))
      if (nDangling == 0L) {
        nodes.join(contribs, Seq("node"), "left")
          .select(col("node"), (restart + lit(damping) * inflow).as("rank"))
      } else {
        // dangling mass as a broadcast 1-row frame, NOT a driver
        // scalar: it rides in the same DAG as the rank update —
        // nothing upstream re-evaluates (both branches read the
        // cached previous ranks)
        val mass = prev.join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
        nodes
          .join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(mass))
          .select(col("node"), (restart + lit(damping) * (inflow + danglingShare)).as("rank"))
      }
    }
    Seq(e, nodes, trans, dangling).foreach(_.unpersist(false))
    ranks
  }

  /** HITS hubs-and-authorities, fixed iteration count (Kleinberg's
    * link-analysis twin of [[pageRank]] — on a bipartite purchase
    * graph the hub score ranks "customers whose baskets span the
    * important suppliers" and the authority score ranks "suppliers
    * the important customers converge on").
    *
    * Power iteration WITHOUT per-step renormalization (scores only
    * ever enter as ratios, so the scale factor cancels; doubles hold
    * the growth for any realistic iteration count) — a single L1
    * normalization at the end yields shares. Per iteration: two
    * shuffle join+agg pairs (edges ⋈ hubs by src → auth; edges ⋈
    * auths by dst → hub), under the persist/cut/release policy of
    * [[rounds]]. Returns (role, node, share) with role ∈
    * {hub, authority}; shares sum to 1 within each role.
    */
  def hits(edges: DataFrame, src: String, dst: String, weight: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = weightedEdges(edges, src, dst, weight)

    var hubs = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).as("hub"))
      .localCheckpoint(true)
    // the [[rounds]] policy in a loop of its own: a round here persists
    // TWO frames (the auth frame is read by the round's hub update and,
    // from the last round, by the output) and `rounds` tracks one
    var auths: DataFrame = null
    val live = scala.collection.mutable.ListBuffer[DataFrame]()
    for (r <- 1 to iterations) {
      auths = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("hub")).as("auth"))
        .persist()
      val next = e.join(auths.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("w") * col("auth")).as("hub"))
      if (r % IterCutEvery == 0 || r == iterations) {
        hubs = next.localCheckpoint(true)
        live.foreach(_.unpersist(false)); live.clear()
      } else {
        hubs = next.persist()
        live += hubs
      }
      live += auths // released by the next cut, or below
    }
    e.unpersist(false)
    // the last auth frame outlives the loop: hand back a checkpoint of
    // it (one small job over its cache), not a cache no caller releases
    auths = try auths.localCheckpoint(true) finally live.foreach(_.unpersist(false))
    // totals as broadcast 1-row frames (never driver scalars) — the
    // share projection stays one job per role
    val hTot = hubs.agg(sum(col("hub")).as("tot"))
    val aTot = auths.agg(sum(col("auth")).as("tot"))
    hubs.crossJoin(broadcast(hTot))
      .select(lit("hub").as("role"), col("node"),
        (col("hub") / col("tot")).as("share"))
      .unionAll(auths.crossJoin(broadcast(aTot))
        .select(lit("authority").as("role"), col("node"),
          (col("auth") / col("tot")).as("share")))
  }

  /** k-hop reachability: for every node with at least one out-edge,
    * the number of DISTINCT nodes reachable in 1..k hops (the start
    * node itself excluded even if a cycle returns to it). The
    * neighborhood-size statistic behind collaborative-filter
    * candidate pools and graph-expansion cost estimates.
    *
    * Iterative frontier expansion (standard distributed BFS): per hop
    * ONE shuffle join (frontier ⋈ edges on the frontier node) + one
    * distinct — the frontier is pruned against the reached set
    * (left_anti) so work is proportional to NEW reachings, and both
    * accumulator and frontier are eagerly localCheckpoint'ed per hop
    * (O(1)-deep plan). Edge list is
    * deduped up front; no row ever carries more than (root, node).
    */
  def kHopReachability(edges: DataFrame, src: String, dst: String,
      k: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val e = edges.select(col(src).cast("long").as("s"), col(dst).cast("long").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()

    var reached = e.select(col("s").as("root"), col("d").as("node"))
      .localCheckpoint(true)
    var frontier = reached
    var hop = 1
    while (hop < k) {
      val next = frontier.join(e, frontier("node") === e("s"))
        .select(col("root"), col("d").as("node"))
        .distinct()
        .join(reached, Seq("root", "node"), "left_anti")
        .localCheckpoint(true)
      reached = reached.unionByName(next).localCheckpoint(true)
      frontier = next
      hop += 1
    }
    e.unpersist(false)
    reached.filter(col("node") =!= col("root"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reachable"))
  }

  /** Single-source shortest paths, k relaxation rounds (distributed
    * Bellman-Ford): after round i, `dist` holds the exact minimum
    * path cost using ≤ i edges — so bounded-k SSSP is a fixed
    * iteration count, the same contract as [[pageRank]]. Weights are
    * exact DECIMALs: min-plus over decimals has no FP summation-order
    * ambiguity, which is what lets a DuckDB recursive-CTE oracle
    * reproduce the result bit-for-bit.
    *
    * Scale shape per round: ONE shuffle join (frontier distances ⋈
    * edges on the source endpoint) + ONE min-aggregation by
    * destination, under the persist/cut/release policy of [[rounds]].
    * The source is a 1-row frame (min node id)
    * computed inside the DAG — no driver collect.
    */
  def sssp(edges: DataFrame, src: String, dst: String, weight: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    val e = edges.select(col(src).cast("long").as("es"),
        col(dst).cast("long").as("ed"), col(weight).cast(D).as("wt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val source = e.agg(min(col("es")).as("node"))
      .withColumn("dist", lit(new java.math.BigDecimal(0)).cast(D))
      .localCheckpoint(true)
    val dist = rounds(source, k) { (prev, _) =>
      val relaxed = prev.join(e, prev("node") === e("es"))
        .select(col("ed").as("node"), (col("dist") + col("wt")).cast(D).as("dist"))
      prev.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).cast(D).as("dist"))
    }
    e.unpersist(false)
    dist
  }

  /** Label-propagation community detection (LPA), k synchronous
    * rounds: every node adopts its neighborhood's modal label, ties
    * broken toward the SMALLEST label — fully deterministic (the
    * random visit order of classic LPA is replaced by the tie rule;
    * argmax is a struct-max partial agg, so no per-node sort and no
    * window funnel). Labels init to the node id. Returns (node,
    * label).
    *
    * Scale shape per round: ONE shuffle join (labels ⋈ undirected
    * edges) + ONE (node,label) count + ONE struct-max argmax by node
    * — all partial-aggregated; rounds under [[rounds]].
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val und = edges.select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
      .unionAll(edges.select(col(dst).cast("long").as("a"), col(src).cast("long").as("b")))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    val labels = rounds(ids, k) { (prev, _) =>
      und.join(prev, und("b") === prev("node"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("a").as("node"), (-col("m.nl")).as("label"))
    }
    und.unpersist(false)
    labels
  }

  /** Global triangle census + clustering coefficient over an
    * undirected edge list — the graph-health summary (transitivity is
    * the standard community-structure signal before clustering /
    * community detection jobs, and triangle density drives the cost
    * model for them).
    *
    * Input rows are canonicalized to (lo, hi) with lo < hi and
    * deduped, so each undirected edge counts once. Triangle counting
    * is the distributed node-iterator algorithm: with every edge
    * ordered lo<hi, each triangle a<b<c is found EXACTLY once as
    * e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two shuffle joins on the edge list,
    * no orientation double-count, no candidate explosion beyond real
    * wedges. Wedge counts come from a degree aggregation (partial
    * agg, O(nodes) shuffle). The edge list is persisted once for its
    * three consumers (join chain ×2 sides + degrees).
    *
    * Scale: the classic skew risk is a hub node's wedge set; ordering
    * edges by id bounds each join key's fan-out to the node's
    * HIGHER-id neighbors only (half the square on average), and the
    * input edge list is expected to be pre-thresholded (see
    * q74_triangles: co-occurrence weight ≥ 2) — the same densification
    * guard as kHopReachability.
    *
    * Returns ONE row: (n_nodes, n_edges, n_wedges, n_triangles,
    * transitivity = 3·triangles / wedges, 6dp).
    */
  /** Canonical (lo, hi) deduped undirected edge list — the shared
    * input of the wedge aggregation and the two-hop triangle join.
    * Exposed package-private so PlanSpec can assert the subplan
    * contracts BEFORE [[triangleStats]] pins its 1-row frames.
    */
  private[graft] def triangleCanonicalEdges(
      edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .select(least(col(src), col(dst)).cast("long").as("lo"),
        greatest(col(src), col(dst)).cast("long").as("hi"))
      .filter(col("lo").isNotNull && col("hi").isNotNull && col("lo") < col("hi"))
      .distinct()

  /** (n_nodes, n_edges, n_wedges) in ONE degree aggregation — n_edges
    * = Σdeg/2 rides along, no separate count-the-edges job.
    */
  private[graft] def triangleWedgeAgg(e: DataFrame): DataFrame = {
    val deg = e.select(col("lo").as("node"))
      .unionAll(e.select(col("hi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast("long").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
  }

  /** The node-iterator two-hop triangle join: each triangle a<b<c is
    * found exactly once as e(a,b)⋈e(b,c)⋈e(a,c) — equi-joins only.
    */
  private[graft] def triangleJoinAgg(e: DataFrame): DataFrame =
    e.as("e1")
      .join(e.as("e2"), col("e1.hi") === col("e2.lo"))
      .join(e.as("e3"),
        col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
      .agg(count(lit(1)).as("n_triangles"))

  def triangleStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = triangleCanonicalEdges(edges, src, dst)
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      // Both 1-row frames are eagerly pinned (localCheckpoint) so the
      // wedge aggregation and the two-hop triangle join each run
      // EXACTLY once, under the plan shape chosen here — not re-planned
      // inside the final crossJoin's broadcast subquery, where a cold
      // AQE cache made the first run's shape (and time) drift.
      // The pre-checkpoint plan contracts (hash joins + map-side
      // partial aggregation, never a cartesian) are asserted by
      // PlanSpec on triangleWedgeAgg/triangleJoinAgg directly — after
      // the pin, the stitched plan observably reads two ExistingRDD
      // 1-row frames crossed by a broadcast loop join, which is the
      // intended O(1) shape.
      val nw = triangleWedgeAgg(e).localCheckpoint(true)
      val tri = triangleJoinAgg(e).localCheckpoint(true)

      nw.crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(when(col("n_wedges") > 0,
              lit(3.0) * col("n_triangles") / col("n_wedges"))
            .otherwise(lit(0.0)), 6).as("transitivity"))
    } finally e.unpersist(false)
  }

  /** Per-node LOCAL clustering coefficient: cc(v) = 2·t(v) / (d(v)·(d(v)−1))
    * where t(v) counts triangles through v — the node-level twin of
    * [[triangleStats]]'s global transitivity (same ordered-edge
    * node-iterator join; each triangle a<b<c is found once and credited
    * to all three corners via a 3-row explode).
    *
    * Scale shape: the edge list is persisted once and read by the
    * degree aggregation and the two-hop join; triangle credits collapse
    * through a partial-agg groupBy on the corner node. No per-node
    * neighborhood materialization (the naive "collect neighbor sets per
    * node" shape is quadratic on hubs).
    *
    * Returns (node, deg, n_tri, local_cc) for nodes with deg ≥ 2,
    * ordered by node.
    */
  def localClustering(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = triangleCanonicalEdges(edges, src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.select(col("lo").as("node"))
        .unionAll(e.select(col("hi").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val triCorners = e.as("e1")
        .join(e.as("e2"), col("e1.hi") === col("e2.lo"))
        .join(e.as("e3"),
          col("e3.lo") === col("e1.lo") && col("e3.hi") === col("e2.hi"))
        .select(explode(array(col("e1.lo"), col("e1.hi"), col("e2.hi"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(triCorners, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6).as("local_cc"))
        .orderBy(col("node"))
        // materialize the O(nodes) result, then release the edge cache
        .localCheckpoint(true)
    } finally { e.unpersist(false) }
  }

  /** Minimum spanning forest via Borůvka rounds — each round every
    * component selects its minimum incident cross-edge (total order
    * (w, src, dst), which makes equal-weight selection cycle-free),
    * the selected edges join the forest, and touched components merge
    * by a mini connected-components pass over the O(components)
    * component graph. O(log n) rounds — THE distributed MST shape
    * (sequential Kruskal needs a global sort + union-find). Each
    * round: two hash joins on O(cross-edges) + the component-level CC
    * (tiny); labels eagerly checkpointed per round. Returns the
    * forest edges (src, dst, w).
    */
  def minimumSpanningForest(edges: DataFrame, src: String, dst: String,
      weight: String, maxIter: Int = 16): DataFrame = {
    // component-level edge list, carrying the ORIGINAL endpoints of
    // the lightest underlying edge: Borůvka with graph CONTRACTION —
    // after each merge round the edge list re-aggregates to one min
    // edge per component pair, so the working set shrinks
    // geometrically and later rounds are near-free. Total order
    // (w, osrc, odst) makes equal-weight selection cycle-free.
    var cedges = edges.select(
        least(col(src).cast("long"), col(dst).cast("long")).as("osrc"),
        greatest(col(src).cast("long"), col(dst).cast("long")).as("odst"),
        col(weight).cast("double").as("w"))
      .filter(col("osrc") =!= col("odst"))
      .groupBy(col("osrc"), col("odst")).agg(min(col("w")).as("w"))
      .select(col("osrc").as("ca"), col("odst").as("cb"),
        struct(col("w"), col("osrc"), col("odst"),
          col("osrc").as("eca"), col("odst").as("ecb")).as("edge"))
      .localCheckpoint(true)
    val session = cedges.sparkSession
    val roundCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var forest: DataFrame = null
    var round = 0
    var done = false
    val collectCap = 1000001
    while (round < maxIter && !done) {
      // per-component minimum incident edge (components appear on
      // both sides of the canonical pair list)
      val selected = cedges.select(col("ca").as("comp"), col("edge"))
        .unionAll(cedges.select(col("cb").as("comp"), col("edge")))
        .groupBy(col("comp")).agg(min(col("edge")).as("edge"))
        .select(col("edge")).distinct()
        .persist()
      roundCaches += selected
      // the selected component pairs are O(components) — union-find
      // merges them driver-side below the cap (the IVF
      // driver-when-tiny hybrid); ONE collect is the round's only
      // action beside the contraction checkpoint
      val pairsLocal = selected
        .select(col("edge.eca").as("a"), col("edge.ecb").as("b"))
        .limit(collectCap).collect().map(r => (r.getLong(0), r.getLong(1)))
      if (pairsLocal.isEmpty) { done = true }
      else {
        forest = if (forest == null) selected else forest.unionAll(selected)
        val relabel: DataFrame = if (pairsLocal.length < collectCap) {
          val parent = scala.collection.mutable.Map[Long, Long]()
          def find(x: Long): Long = {
            val p = parent.getOrElseUpdate(x, x)
            if (p == x) x else { val r = find(p); parent(x) = r; r }
          }
          pairsLocal.foreach { case (a, b) =>
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
          // the union-find runs on COMPONENT ids (the edge struct
          // carries the contracted endpoints eca/ecb alongside the
          // original osrc/odst); untouched components keep their id
          // via the left join below
          val rows = parent.keys.toSeq.map(k => (k, find(k)))
          import session.implicits._
          rows.toDF("comp", "root")
        } else {
          Dedup.connectedComponents(selected
            .select(col("edge.eca").as("id_a"), col("edge.ecb").as("id_b")))
            .select(col("id").as("comp"), col("cluster").as("root"))
        }
        // contract: relabel both endpoints, drop now-internal edges,
        // keep the min edge per merged pair
        val ra = relabel.select(col("comp").as("ca"), col("root").as("ra"))
        val rb = relabel.select(col("comp").as("cb"), col("root").as("rb"))
        cedges = cedges
          .join(broadcast(ra), Seq("ca"), "left")
          .join(broadcast(rb), Seq("cb"), "left")
          .select(coalesce(col("ra"), col("ca")).as("na"),
            coalesce(col("rb"), col("cb")).as("nb"), col("edge"))
          .filter(col("na") =!= col("nb"))
          .select(least(col("na"), col("nb")).as("ca"),
            greatest(col("na"), col("nb")).as("cb"), col("edge"))
          .groupBy(col("ca"), col("cb"))
          .agg(min(struct(col("edge.w"), col("edge.osrc"), col("edge.odst"))).as("e0"),
            max(lit(1)).as("one"))
          .select(col("ca"), col("cb"),
            struct(col("e0.w"), col("e0.osrc"), col("e0.odst"),
              col("ca").as("eca"), col("cb").as("ecb")).as("edge"))
          .localCheckpoint(true)
      }
      round += 1
    }
    val out = if (forest == null)
      session.emptyDataFrame.select(lit(0L).as("src"), lit(0L).as("dst"),
        lit(0.0).as("w")).limit(0)
    else forest
      .select(col("edge.osrc").as("src"), col("edge.odst").as("dst"),
        col("edge.w").as("w"))
      .distinct()
      .localCheckpoint(true)
    roundCaches.foreach(_.unpersist(false))
    out
  }

  /** INCREMENTAL connected components: fold a DELTA edge batch into a
    * frozen `(id, cluster)` labeling (the [[Dedup.connectedComponents]]
    * contract — cluster = min id of the component) WITHOUT re-touching
    * the full graph. The daily shape of entity resolution / near-dup
    * clustering at 100 TB: yesterday's labeling is an artifact,
    * today's edges are orders of magnitude smaller, and recomputing CC
    * over the union graph every day is the thing this avoids.
    *
    * Algorithm — the classic label-contraction argument:
    *   1. map each delta endpoint to its CURRENT label (left join;
    *      nodes the labeling has never seen act as their own label);
    *   2. run full CC on the LABEL graph — its nodes are component
    *      representatives + new node ids, so its size is O(components
    *      touched by the delta), never O(graph);
    *   3. remap: every existing row whose cluster merged takes the new
    *      min label (the merge table is O(delta) — broadcast), rows in
    *      untouched components pass through unchanged; delta-only
    *      nodes enter with their merged label.
    *
    * Correct because contracting a component to its representative
    * preserves connectivity, and min-of-min labels = min over the
    * merged node set — so the output equals full CC over
    * (labeled graph ∪ delta), which is exactly what the DuckDB oracle
    * of `graph_cc_incremental` recomputes.
    *
    * Scale shape: one pass over `labels` (the remap join, broadcast on
    * the merge table), one pass over the delta (label resolution),
    * CC iterations only on the contracted label graph.
    */
  def incrementalComponents(labels: DataFrame, deltaEdges: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val lbl = labels
      .select(col("id").cast("long").as("id"), col("cluster").cast("long").as("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val d = deltaEdges
      .select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .localCheckpoint(true) // two consumers: label resolution + new-node scan
    try {
      val labelEdges = d
        .join(lbl.select(col("id").as("a"), col("cluster").as("ca")), Seq("a"), "left")
        .join(lbl.select(col("id").as("b"), col("cluster").as("cb")), Seq("b"), "left")
        .select(coalesce(col("ca"), col("a")).as("la"),
          coalesce(col("cb"), col("b")).as("lb"))
        .filter(col("la") =!= col("lb"))
      // CC on the contracted graph; (old label → merged min label)
      val merges = Dedup.connectedComponents(labelEdges, "la", "lb")
        .select(col("id").as("old_cluster"), col("cluster").as("new_cluster"))
      val updated = lbl
        .join(broadcast(merges), lbl("cluster") === merges("old_cluster"), "left")
        .select(col("id"), coalesce(col("new_cluster"), col("cluster")).as("cluster"))
      val newNodes = d
        .select(explode(array(col("a"), col("b"))).as("id")).distinct()
        .join(lbl.select(col("id")), Seq("id"), "left_anti")
        .join(broadcast(merges), col("id") === merges("old_cluster"), "left")
        .select(col("id"), coalesce(col("new_cluster"), col("id")).as("cluster"))
      updated.unionByName(newNodes).localCheckpoint(true)
    } finally lbl.unpersist(false)
  }
}
