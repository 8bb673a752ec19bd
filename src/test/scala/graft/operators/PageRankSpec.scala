package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer-grid PageRank: the determinism contract (identical longs under
  * any partitioning) and the rank semantics on known graphs. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def rankMap(edges: Seq[(Long, Long)], iters: Int,
      parts: Int): Map[Long, Long] =
    PageRank.ranks(
      edges.toDF("src", "dst").repartition(parts), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bit-identical ranks under 1, 3, and 8 partitions") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val r1 = rankMap(edges, 3, 1)
    assert(rankMap(edges, 3, 3) === r1)
    assert(rankMap(edges, 3, 8) === r1)
  }

  test("symmetricEdges: identical ranks to the union node derivation") {
    // r16: all registry callers symmetrize edges (both directions emitted
    // per pair), making src-set == node-set; the shortcut must be exactly
    // the union derivation on such a graph — every rank identical,
    // including isolated-in-one-direction corner shapes.
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (pairs ++ pairs.map(_.swap)).distinct
    val df = sym.toDF("src", "dst").repartition(5)
    val viaUnion = PageRank.ranks(df, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSrc = PageRank.ranks(df, 3, symmetricEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSrc === viaUnion)
    val wdf = sym.map { case (a, b) => (a, b, 1L + (a + b) % 7) }
      .toDF("src", "dst", "w").repartition(3)
    val wUnion = PageRank.weightedRanks(wdf, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wSrc = PageRank.weightedRanks(wdf, 2, symmetricEdges = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wSrc === wUnion)
  }

  // One round loop serves all three entry points: global rank is
  // personalized rank with every node seeded, and weighted rank with unit
  // weights is global rank — both must hold bit for bit.
  private def randomDirected(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(300)((rnd.nextInt(35).toLong, rnd.nextInt(35).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalizedRanks seeded with every node equals ranks") {
    val edges = randomDirected(23)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    for (parts <- Seq(1, 6)) {
      val df = edges.toDF("src", "dst").repartition(parts)
      val global = asMap(PageRank.ranks(df, 5))
      val allSeeded = asMap(
        PageRank.personalizedRanks(df, nodes.toDF("node"), 5))
      assert(allSeeded === global, s"at $parts partitions")
    }
  }

  test("weightedRanks with unit weights equals ranks") {
    val edges = randomDirected(29)
    for (parts <- Seq(1, 6)) {
      val df = edges.toDF("src", "dst").repartition(parts)
      val global = asMap(PageRank.ranks(df, 5))
      val unit = asMap(PageRank.weightedRanks(df.withColumn("w", lit(1L)), 5))
      assert(unit === global, s"at $parts partitions")
    }
  }

  test("sink nodes keep the damping floor; hubs accumulate mass") {
    // star: 1..5 -> 0; node 0 has no out-edges (sink)
    val edges = (1L to 5L).map(i => (i, 0L))
    val floor = PageRank.One * 15 / 100
    // round 1: hub absorbs all five spokes at full rank: 0.15 + 0.85*5
    val r1 = rankMap(edges, 1, 2)
    assert(r1(0L) === PageRank.One * 440 / 100)
    // round 2: spokes drained to the floor, hub gets 0.15 + 0.85*5*0.15
    val r2 = rankMap(edges, 2, 2)
    assert(r2(0L) === 787500000L)
    (1L to 5L).foreach(i => assert(r2(i) === floor,
      s"spoke $i gets no in-flow → exact damping floor"))
  }

  test("two-node cycle is a fixed point at rank 1 (minus integer-div dust)") {
    val r = rankMap(Seq((0L, 1L), (1L, 0L)), 4, 2)
    // 0.15 + 0.85 * 1.0 = 1.0 exactly on the grid; integer ops preserve it
    assert(r(0L) === PageRank.One && r(1L) === PageRank.One)
  }

  test("total mass stays within the damping bound (no double counting)") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val n = edges.flatMap(e => Seq(e._1, e._2)).distinct.size
    val total = rankMap(edges, 3, 4).values.sum
    // Σr <= n * 1.0: contributions only redistribute (integer div loses
    // dust, never creates mass); sinks absorb less than they would emit
    assert(total <= n * PageRank.One)
    assert(total >= n * PageRank.One * 15 / 100)
  }
}
