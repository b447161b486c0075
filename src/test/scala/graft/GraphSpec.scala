package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {

  /** Driver-side reference power iteration, same semantics. */
  private def refPageRank(edges: Seq[(Long, Long, Double)], iterations: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var ranks = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(outW.contains).map(ranks).sum
      val contrib = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      edges.foreach { case (s, t, w) => contrib(t) += ranks(s) * w / outW(s) }
      ranks = nodes.map(v =>
        v -> ((1 - d) / n + d * (contrib(v) + dangling / n))).toMap
    }
    ranks
  }

  /** Driver-side reference random walk with restart to `seeds`. */
  private def refPpr(edges: Seq[(Long, Long, Double)], seeds: Set[Long], iterations: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val e0 = nodes.map(v => v -> (if (seeds(v)) 1.0 / seeds.size else 0.0)).toMap
    var ranks = e0
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(outW.contains).map(ranks).sum
      val contrib = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      edges.foreach { case (s, t, w) => contrib(t) += ranks(s) * w / outW(s) }
      ranks = nodes.map(v =>
        v -> ((1 - d) * e0(v) + d * (contrib(v) + dangling * e0(v)))).toMap
    }
    ranks
  }

  private def runPpr(edges: Seq[(Long, Long, Double)], seeds: Seq[Long],
      iterations: Int): Map[Long, Double] = {
    import spark.implicits._
    Graph.personalizedPageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w",
      seeds.toDF("node"), iterations)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def run(edges: Seq[(Long, Long, Double)], iterations: Int): Map[Long, Double] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iterations)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("symmetric 2-cycle splits rank evenly") {
    val r = run(Seq((1L, 2L, 1.0), (2L, 1L, 1.0)), 10)
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
  }

  test("matches the reference implementation on a random graph (with dangling nodes)") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(15).toLong,
      1.0 + rnd.nextInt(5))).distinct
    val expected = refPageRank(edges, 8)
    val got = run(edges, 8)
    assert(got.keySet == expected.keySet)
    expected.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) < 1e-9, s"node $v: got ${got(v)} want $r")
    }
  }

  test("personalizedPageRank matches the reference walk: seeds, a dangling node, an unreachable island") {
    // 6 is dangling; the island 7 <-> 8 is out of the seeds' reach
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (3L, 4L, 3.0), (4L, 5L, 1.0),
      (5L, 1L, 2.0), (2L, 6L, 1.0), (7L, 8L, 1.0), (8L, 7L, 1.0))
    val expected = refPpr(edges, Set(1L, 4L), 6)
    val got = runPpr(edges, Seq(1L, 4L), 6)
    assert(got.keySet == expected.keySet)
    expected.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) < 1e-9, s"node $v: got ${got(v)} want $r")
    }
    assert(got(6L) > 0.0, s"the dangling node is reachable: $got")
    assert(got(7L) == 0.0 && got(8L) == 0.0, s"the island gets no mass: $got")
  }

  test("personalizedPageRank seeded with every node is pageRank") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(15).toLong,
      1.0 + rnd.nextInt(5))).distinct
    val all = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val pr = run(edges, 8)
    val ppr = runPpr(edges, all, 8)
    assert(ppr.keySet == pr.keySet)
    pr.foreach { case (v, r) =>
      assert(math.abs(ppr(v) - r) < 1e-12, s"node $v: ppr ${ppr(v)} pagerank $r")
    }
  }

  test("ranks sum to 1 and the hub of a star graph dominates") {
    val star = (2L to 8L).map(i => (i, 1L, 1.0)) :+ (1L, 2L, 1.0)
    val r = run(star, 12)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(1L) > r(3L) * 3, s"hub should dominate: $r")
  }

  test("edge weights shift rank toward the heavier target") {
    // node 1 links to 2 (weight 9) and 3 (weight 1)
    val r = run(Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0)), 10)
    assert(r(2L) > r(3L))
  }

  test("kHopReachability: hand-checked chain + cycle, self excluded, duplicates collapse") {
    import spark.implicits._
    // chain 1→2→3→4 plus a 2-cycle 5↔6 and a duplicate edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 5L), (1L, 2L))
      .toDF("src", "dst")
    def reach(k: Int) = graft.operators.Graph.kHopReachability(edges, "src", "dst", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k1 = reach(1)
    assert(k1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L))
    val k2 = reach(2)
    // 1 reaches {2,3}; 5 reaches only {6} (cycle returns to self, excluded)
    assert(k2(1L) == 2L && k2(2L) == 2L && k2(3L) == 1L)
    assert(k2(5L) == 1L && k2(6L) == 1L)
    val k3 = reach(3)
    assert(k3(1L) == 3L, "1 reaches {2,3,4} in 3 hops")
  }

  test("sssp: indirect cheap path beats direct expensive edge; k bounds hops") {
    import spark.implicits._
    // source is min node = 1. Direct 1→4 costs 10; 1→2→3→4 costs 3.
    val edges = Seq((1L, 4L, BigDecimal(10)), (1L, 2L, BigDecimal(1)),
      (2L, 3L, BigDecimal(1)), (3L, 4L, BigDecimal(1)), (4L, 5L, BigDecimal(1)))
      .toDF("s", "d", "w")
    def dists(k: Int) = Graph.sssp(edges, "s", "d", "w", k)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    val d2 = dists(2)
    assert(d2(4L) == 10.0, "within 2 hops the direct edge is the best path to 4")
    val d3 = dists(3)
    assert(d3(4L) == 3.0, "3 hops unlock the cheap path")
    assert(d3(1L) == 0.0 && d3(2L) == 1.0 && d3(3L) == 2.0)
    assert(d3(5L) == 11.0, "5 via direct 1→4→5 within 3 edges")
  }

  test("labelPropagation: planted communities adopt their min label; deterministic") {
    import spark.implicits._
    // two K4s {1..4} and {11..14} joined by one bridge 4–11
    def k4(base: Long) = for (i <- 0L to 3L; j <- (i + 1) to 3L)
      yield (base + i, base + j)
    val edges = (k4(1L) ++ k4(11L) :+ (4L, 11L)).toDF("s", "d")
    def run() = Graph.labelPropagation(edges, "s", "d", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = run()
    assert((1L to 4L).map(labels).toSet.size == 1, s"left clique converges: $labels")
    assert((11L to 14L).map(labels).toSet.size == 1, s"right clique converges: $labels")
    assert(labels(1L) != labels(14L), s"cliques keep distinct communities: $labels")
    assert(run() == labels, "deterministic under re-run")
  }

  test("triangleStats: K4 is fully transitive — 4 triangles, 12 wedges") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val r = Graph.triangleStats(k4, "a", "b").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L)            // nodes, edges
    assert(r.getLong(2) == 12L && r.getLong(3) == 4L)           // wedges, triangles
    assert(r.getDouble(4) == 1.0, s"K4 transitivity must be 1: $r")
  }

  test("triangleStats: reversed/duplicate edges canonicalize; open wedge counts no triangle") {
    import spark.implicits._
    // one triangle {1,2,3} (edge 3-1 given reversed + duplicated) plus a
    // pendant 3-4: degrees (1,2,3,4)=(2,2,3,1) → wedges 1+1+3+0 = 5
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
      .toDF("a", "b")
    val r = Graph.triangleStats(edges, "a", "b").collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L)
    assert(r.getLong(2) == 5L && r.getLong(3) == 1L)
    assert(math.abs(r.getDouble(4) - 0.6) < 1e-9)               // 3·1/5
  }

  /** Driver-side reference HITS: same un-normalized power iteration,
    * L1 shares at the end. */
  private def refHits(edges: Seq[(Long, Long, Double)],
      iterations: Int): (Map[Long, Double], Map[Long, Double]) = {
    var hubs = edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var auths = Map.empty[Long, Double]
    for (_ <- 1 to iterations) {
      auths = edges.groupBy(_._2).view
        .mapValues(_.map(e => e._3 * hubs(e._1)).sum).toMap
      hubs = edges.filter(e => auths.contains(e._2)).groupBy(_._1).view
        .mapValues(_.map(e => e._3 * auths(e._2)).sum).toMap
    }
    val ht = hubs.values.sum; val at = auths.values.sum
    (hubs.view.mapValues(_ / ht).toMap, auths.view.mapValues(_ / at).toMap)
  }

  test("hits: matches the reference implementation; shares sum to 1 per role") {
    import spark.implicits._
    val edges = Seq((1L, 10L, 2.0), (1L, 11L, 1.0), (2L, 10L, 1.0),
      (3L, 11L, 3.0), (3L, 12L, 1.0), (4L, 12L, 2.0), (4L, 10L, 1.0))
    val got = Graph.hits(edges.toDF("src", "dst", "w"), "src", "dst", "w", iterations = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (hubs, auths) = refHits(edges, 4)
    hubs.foreach { case (n, s) =>
      assert(math.abs(got(("hub", n)) - s) < 1e-12, s"hub $n") }
    auths.foreach { case (n, s) =>
      assert(math.abs(got(("authority", n)) - s) < 1e-12, s"auth $n") }
    val bySum = got.groupBy(_._1._1).view.mapValues(_.values.sum)
    bySum.foreach { case (role, s) =>
      assert(math.abs(s - 1.0) < 1e-12, s"$role shares sum to 1: $s") }
  }

  test("minimumSpanningForest matches driver-side Kruskal exactly (weight and edge set)") {
    import spark.implicits._
    // deterministic weighted graph: two components + parallel edges + ties
    val edges = Seq(
      (1L, 2L, 4L), (2L, 3L, 4L), (1L, 3L, 2L), (3L, 4L, 7L), (2L, 4L, 9L),
      (1L, 4L, 7L), (5L, 6L, 1L), (6L, 7L, 5L), (5L, 7L, 5L), (2L, 1L, 8L))
    val got = Graph.minimumSpanningForest(edges.toDF("a", "b", "w"), "a", "b", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2).toLong)).toSet
    // reference Kruskal under the same (w, src, dst) total order on
    // canonicalized deduped edges
    val canon = edges.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(e => (e._1, e._2)).map { case (k, es) => (k._1, k._2, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    val ref = canon.flatMap { case (a, b, w) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
    assert(got == ref, s"forest mismatch: got ${got -- ref} extra, missing ${ref -- got}")
    assert(got.toSeq.map(_._3).sum == ref.toSeq.map(_._3).sum)
    // spanning forest size: n_nodes - n_components = 7 - 2
    assert(got.size == 5)
  }

  test("minimumSpanningForest honors fractional (double) weights") {
    import spark.implicits._
    // with long truncation both edges of the triangle would tie at
    // w=1 and the heavier 1.9 edge could win; double weights must
    // pick 1.1 + 1.2 and drop 1.9
    val edges = Seq((1L, 2L, 1.9), (2L, 3L, 1.1), (1L, 3L, 1.2))
    val got = Graph.minimumSpanningForest(edges.toDF("a", "b", "w"), "a", "b", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2L, 3L, 1.1), (1L, 3L, 1.2)))
  }

  test("incrementalComponents: delta merges components, admits new nodes, leaves untouched labels alone") {
    import spark.implicits._
    // frozen labeling: {1,2} comp 1, {5,6} comp 5, {10} comp 10, {20,21} comp 20
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L),
      (10L, 10L), (20L, 20L), (21L, 20L)).toDF("id", "cluster")
    // delta: 2-5 merges comps 1+5; 10-11 extends comp 10 with a new
    // node; 7-8 is an entirely new pair; comp 20 untouched
    val delta = Seq((2L, 5L), (10L, 11L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Graph.incrementalComponents(labels, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,   // merged, min label wins
      10L -> 10L, 11L -> 10L,                    // extended
      7L -> 7L, 8L -> 7L,                        // new component
      20L -> 20L, 21L -> 20L), got.toString)     // untouched passthrough
    // matches from-scratch CC over the union graph (the oracle contract)
    val union = Seq((1L, 2L), (5L, 6L), (20L, 21L)).toDF("id_a", "id_b")
      .unionByName(delta)
    val scratch = graft.operators.Dedup.connectedComponents(union)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == scratch, s"incremental $got vs scratch $scratch")
  }
}
