package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.DataFrame

/** Job counts and cache hygiene of the iterative graph operators, on
  * one fixed 8-node graph: a 6-node core in which node 6 is dangling
  * (no out-edges) and a separate 2-node island 7 ↔ 8. The counts are
  * those of a `local(4)` session; a changed cut rule of
  * [[Graph.rounds]] or an extra per-round action moves them.
  */
class GraphRoundsSpec extends SparkSpec {

  private lazy val edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (3L, 4L, 3.0), (4L, 5L, 1.0),
      (5L, 1L, 2.0), (2L, 6L, 1.0), (7L, 8L, 1.0), (8L, 7L, 1.0))
      .toDF("src", "dst", "w")
  }

  /** Jobs that computing and collecting `op` runs; fails if the call
    * leaves any cache behind in the session.
    */
  private def probe(op: => DataFrame): Int = {
    spark.catalog.clearCache()
    val jobs = jobsOf(op.collect())
    assert(spark.sharedState.cacheManager.isEmpty, "a cache outlived the call")
    jobs
  }

  test("pageRank, 6 rounds: job count and no leftover cache") {
    assert(probe(Graph.pageRank(edges, "src", "dst", "w", iterations = 6)) == 64)
  }

  test("personalizedPageRank, 6 rounds: job count and no leftover cache") {
    import spark.implicits._
    val seeds = Seq(1L, 4L).toDF("node")
    assert(probe(Graph.personalizedPageRank(edges, "src", "dst", "w", seeds,
      iterations = 6)) == 67)
  }

  test("hits, 4 rounds: job count and no leftover cache") {
    assert(probe(Graph.hits(edges, "src", "dst", "w", iterations = 4)) == 33)
  }

  test("sssp, k = 3: job count and no leftover cache") {
    assert(probe(Graph.sssp(edges, "src", "dst", "w", k = 3)) == 15)
  }

  test("labelPropagation, k = 4: job count and no leftover cache") {
    assert(probe(Graph.labelPropagation(edges, "src", "dst", k = 4)) == 21)
  }

  test("connectedComponents, chain 1–8 plus one pair: job count and no leftover cache") {
    import spark.implicits._
    val pairs = ((1L to 7L).map(i => (i, i + 1)) :+ ((20L, 21L))).toDF("id_a", "id_b")
    assert(probe(Dedup.connectedComponents(pairs)) == 42)
  }
}
