package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source(-set) shortest paths — synchronous Bellman-Ford
  * rounds, the weighted-relaxation member of the iterative-graph family
  * (rank flow, label flooding, monotone deletion). BFS levels are this
  * operator at unit weights (`q_bfs_levels`). Same scale discipline:
  *
  *   - one shuffle per round (the min-dist aggregate keyed by node); the
  *     edge frame is materialized once and reused;
  *   - distances are exact integer weight sums — bit-deterministic under
  *     any partitioning, replayable by the oracle's unrolled CTEs;
  *   - the small per-round state is truncated every round (see the loop).
  *
  * After round i every node carries the cheapest path using ≤ i edges —
  * the classic Bellman-Ford invariant — so `rounds` bounds path length,
  * not an approximation knob. Negative weights are rejected: with the
  * bounded-rounds contract they'd still be well-defined, but every caller
  * here wants a metric, and a negative edge is a data bug.
  */
object Sssp {

  /** (node, dist) for every node reachable from `seeds` within `rounds`
    * edges. `edges(src, dst, w)` is directed with non-negative long
    * weights; symmetrize before calling for undirected semantics. With
    * every w = 1, dist is the BFS hop level.
    *
    * The edge frame is materialized ONCE into the compressed COLUMNAR
    * cache (`persist`), not `localCheckpoint`: the round-9 sf10 probes
    * measured all three edge-handling strategies on the 117M-row
    * purchase multigraph (q_sssp_delay end to end) —
    *   - `localCheckpoint` (deserialized row blocks): 364 s, ~200 s of it
    *     block-manager materialization + GC;
    *   - no materialization (re-derive per round, broadcast frontier):
    *     1067 s — the union-of-rounds lineage doubles per round and
    *     exchange reuse does NOT reliably collapse the re-derivations;
    *   - columnar persist: the cache builds inside round 1's job at
    *     parquet-scan speed (~10× smaller than row blocks) and every
    *     later round re-reads it shuffle-free.
    *
    * Round 13 (IterScale): the per-round reduce parallelism scales with
    * the graph — the iterative family's fixed-partition rounds were the
    * one superlinear decade ratio. The whole fixed point executes eagerly
    * inside the scope (the final localCheckpoint), so the session conf is
    * restored before return. */
  def distances(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .filter(col("w") >= 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IterScale.withEdgeScaledShuffle(e.sparkSession, e.count()) {
      relaxLoop(e, seeds, rounds)
    }
  }

  private def relaxLoop(e: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    var dist = seeds.select(col("node").cast("long"))
      .distinct().withColumn("dist", lit(0L))
    // DELTA relaxation (round 10, the classic Bellman-Ford frontier
    // optimization): only nodes whose distance CHANGED last round can
    // offer a new distance this round — a node u with dist_i(u) =
    // dist_{i-1}(u) already made the offer dist(u)+w to every neighbor
    // in round i, so re-offering in round i+1 is a no-op. The fixed
    // point after k rounds is bit-identical to full re-relaxation (the
    // oracle replays the FULL form and the hash gate proves equality),
    // but the broadcast side is now the true frontier — which SHRINKS
    // after the expansion waves pass — instead of the accumulated
    // visited set, which approaches |V| on a connected graph and would
    // eventually hit Spark's 8 GB broadcast cliff at the design scale
    // (the round-9 advisor finding). The frontier hint stays BROADCAST
    // by contract: a seeded traversal's frontier is bounded by the wave,
    // never the corpus; without the hint AQE sometimes plans the round
    // as a sort-merge join, shuffling the FULL edge frame by src every
    // round (measured 592 s vs 84 s at sf10, run to run).
    var frontier = dist
    for (i <- 1 to rounds) {
      val fr = broadcast(frontier.withColumnRenamed("node", "src"))
      val offers = e.join(fr, "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      // one full-outer merge yields BOTH the new state and the delta:
      // improved = first visit (od null) or a strictly better offer. At
      // unit weights a visited node's level is FINAL (every later offer
      // is larger), so the delta is exactly the first-visit set.
      val merged = dist.withColumnRenamed("dist", "od")
        .join(offers, Seq("node"), "full_outer")
        .select(col("node"), least(col("od"), col("nd")).as("dist"),
          (col("od").isNull || (col("nd").isNotNull && col("nd") < col("od")))
            .as("chg"))
      // Truncate EVERY round, not every 3 (round-9 sf10 lesson): the
      // loop references merged_prev TWICE — the dist merge branch and
      // the frontier broadcast build — and a BroadcastExchange is never
      // reused against a shuffle exchange of the same subplan, so an
      // untruncated lineage re-executes ~2^rounds times (measured 343 s
      // with cadence 3 vs the per-round-truncated time at sf10; merged
      // is ≤ |visited| rows of ~17 bytes — truncating it is noise).
      // PageRank truncates every 4th round: its loop references the
      // prior state ONCE, so its lineage grows linearly.
      val m = if (i < rounds) merged.localCheckpoint() else merged
      dist = m.select("node", "dist")
      frontier = m.filter(col("chg")).select("node", "dist")
    }
    // hygiene for long-lived sessions (round-9 advisor): pin the small
    // result, then release the edge cache — the harness's clearCache
    // frees the pin; repeated library calls no longer accumulate
    // executor storage
    val out = dist.localCheckpoint()
    e.unpersist()
    out
  }
}
