package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bellman-Ford invariant: after k rounds every node holds the cheapest
  * path using ≤ k edges; a shorter-hop expensive path must lose to a
  * longer-hop cheap one once rounds allow it. */
class SsspSpec extends SparkSpec {
  import spark.implicits._

  //   0 →(10)→ 2,  0 →(1)→ 1 →(1)→ 2 →(5)→ 3;  4 isolated from seeds
  private val edges = Seq(
    (0L, 2L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 5L),
    (4L, 0L, 1L)).toDF("src", "dst", "w")

  private def distMap(rounds: Int): Map[Long, Long] =
    Sssp.distances(edges, Seq(0L).toDF("node"), rounds)
      .as[(Long, Long)].collect().toMap

  test("one round only relaxes direct edges") {
    assert(distMap(1) == Map(0L -> 0L, 1L -> 1L, 2L -> 10L))
  }

  test("more rounds find the cheaper two-hop path and extend reach") {
    assert(distMap(2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 15L))
    assert(distMap(3) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 7L))
  }

  test("unreachable nodes are absent; negative weights are dropped") {
    assert(!distMap(3).contains(4L))
    val neg = edges.union(Seq((0L, 4L, -5L)).toDF("src", "dst", "w"))
    val d = Sssp.distances(neg, Seq(0L).toDF("node"), 2)
      .as[(Long, Long)].collect().toMap
    assert(!d.contains(4L))
  }

  test("unit weights give BFS hop levels") {
    // 0 → 1 → 2 → 3 with a 0 → 2 shortcut and a duplicated edge; 4 → 0
    // is never reached. Seed 0 is listed twice, seed 9 has no edges.
    val hops = Seq((0L, 1L), (1L, 2L), (1L, 2L), (2L, 3L), (0L, 2L), (4L, 0L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val seeds = Seq(0L, 0L, 9L).toDF("node")
    def levels(rounds: Int) = Sssp.distances(hops, seeds, rounds)
      .as[(Long, Long)].collect().toMap
    assert(levels(1) == Map(0L -> 0L, 9L -> 0L, 1L -> 1L, 2L -> 1L))
    val full = Map(0L -> 0L, 9L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L)
    assert(levels(2) == full)
    // a visited node's level is final: rounds past the depth change nothing
    assert(levels(4) == full)
  }
}
