package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank on the 1e-9 integer grid — iterative weighted propagation as a
  * sequence of join + aggregate rounds, engineered so the fixed point is
  * BIT-DETERMINISTIC: ranks are longs (units of 1e-9), per-edge
  * contributions use integer division, and partial sums are long adds —
  * order-free, so the result is identical under any partitioning and
  * replayable by any engine (the DuckDB oracle unrolls the same rounds as
  * CTEs). A float PageRank would drift in the last ulp with partition
  * count and could never be hash-checked.
  *
  * Scale shape (the same discipline as [[ConnectedComponents]]):
  *   - the degree-annotated edge list is built in ONE pass (a window
  *     count over src — no self-join) and cached COLUMNAR, pre-hashed
  *     and pre-sorted by src, so every round's rank join moves only the
  *     |nodes|-sized rank side — zero exchange, zero re-sort on the
  *     |edges| side (round-9 sf10 rework: the previous double
  *     `localCheckpoint` of 117M-row frames plus a per-round edge-side
  *     sort put q_ppr_seeds at 866 s; see the per-function docs);
  *   - each round is one shuffle on `dst` (the contribution aggregate);
  *   - NO driver-side graph state — ranks live in a DataFrame;
  *   - lineage is truncated every `CheckpointEvery` (4) rounds, NOT every
  *     round: the rank frame is referenced ONCE per round, so the plan
  *     grows linearly (not 2^rounds) and a short run executes as a single
  *     lazy DAG — three eager per-round materializations of the full rank
  *     frame were the slowest query in the 10×-data sweep (41.8 s → the
  *     cadence fix). Long runs still truncate periodically to bound
  *     analysis cost; a real cluster would use `checkpoint()` there to
  *     survive executor loss.
  *
  * Damping follows the standard 0.15 + 0.85 · Σ contrib form
  * [Page et al. 1999], with the division-lost mass (integer div truncates)
  * deliberately dropped in BOTH engines rather than redistributed.
  *
  * All three entry points run ONE round loop (`rankLoop`): global rank
  * is personalized rank with every node seeded (r0 = One and the 0.15
  * teleport everywhere), and the weighted variant differs only in the
  * degree aggregate and the per-edge contribution column.
  */
object PageRank {

  val One: Long = 1000000000L // rank 1.0 on the 1e-9 grid

  /** Ranks after `iters` rounds over directed `edges(src, dst)`.
    * Returns (node, r) with r in 1e-9 units. Every node that appears as a
    * src or dst participates; sink nodes keep the 0.15 floor. */
  def ranks(edges: DataFrame, iters: Int,
      symmetricEdges: Boolean = false): DataFrame =
    rankLoop(edges.select(col("src").cast("long"), col("dst").cast("long")),
      count(lit(1)), expr("r DIV deg"), None, iters, symmetricEdges)

  /** WEIGHTED PageRank: identical integer-grid rounds, but each node
    * splits its rank across out-edges in proportion to integer edge
    * weights — contribution (r·w) DIV wsum(src) instead of r DIV outdeg.
    * r·w must stay inside Long: with rank mass bounded by N·One and
    * weights ≤ wMax, that is N·One·wMax < 2⁶³ — holds through the benched
    * scale factors (documented at the call site); past that the grid
    * drops to 1e-6 or the product lifts to DECIMAL(38). The w>0 filter
    * preserves `symmetricEdges` (both directions of a pair carry the SAME
    * w, so both are dropped or both kept). */
  def weightedRanks(edges: DataFrame, iters: Int,
      symmetricEdges: Boolean = false): DataFrame =
    rankLoop(edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long")).filter(col("w") > 0),
      sum("w"), expr("(r * w) DIV deg"), None, iters, symmetricEdges)

  /** PERSONALIZED PageRank [Haveliwala 2002]: identical integer-grid
    * rounds, but the teleport mass lands only on `seeds(node)` — so the
    * stationary mass measures proximity TO THE SEED SET, the
    * "related items" / trusted-source-weighting primitive. r0 = One on
    * seeds, 0 elsewhere; each round r(v) = [v∈S]·0.15·One
    * + 0.85·Σ r(u) DIV outdeg(u). The seed membership joins as a tiny
    * broadcast flag. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame, iters: Int,
      symmetricEdges: Boolean = false): DataFrame =
    rankLoop(edges.select(col("src").cast("long"), col("dst").cast("long")),
      count(lit(1)), expr("r DIV deg"), Some(seeds), iters, symmetricEdges)

  /** Lineage truncation cadence of the rank frame (see the object doc). */
  private val CheckpointEvery = 4

  /** The one round loop behind every entry point. `edges` is the
    * projected edge frame (src, dst[, w]); `degree` is aggregated over src
    * into column `deg`, and `contrib` (over an edge row joined with its
    * src's `r`) is the per-edge contribution. `seeds = None` seeds every
    * node.
    *
    * Round 13 (IterScale): the raw edge frame is cached + counted FIRST
    * so EVERY shuffle — the degree window, the nodes distinct, and each
    * round's contribution aggregate — runs at graph-scaled parallelism
    * (the fixed-32-partition rounds were 12× on 10× data at sf10; an A/B
    * with only the loop scaled and the window/cache at 32 measured
    * 50-70 s vs 36-42 s full-scaled, because the per-round join streams
    * the 117M-row cache at the cache's partition count). The raw cache is
    * released as soon as the annotated cache materializes — holding both
    * through the rounds OOM'd an 8g heap. The count doubles as the one
    * scan of the caller's edge lineage; the window reads the cache.
    * Everything executes eagerly inside the scope (the final
    * localCheckpoint), so the session conf is restored before return. */
  private def rankLoop(edges: DataFrame, degree: Column, contrib: Column,
      seeds: Option[DataFrame], iters: Int,
      symmetricEdges: Boolean): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    IterScale.withEdgeScaledShuffle(e.sparkSession, nEdges) {
      // Degree-annotate in ONE pass: a window over src needs exactly one
      // shuffle + sort, and its output is therefore hash-partitioned AND
      // sorted by src — the columnar cache preserves both, so every later
      // rank join plans with zero exchange and zero sort on this (the big)
      // side. The alternatives both lost at sf10: a groupBy+self-join
      // scans the edge lineage twice, and `localCheckpoint` materializes
      // deserialized row blocks at ~10× the footprint of the compressed
      // columnar cache (~200 s for 117M rows).
      val eo = e
        .withColumn("deg", degree.over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // r16 (guide §2.3 "shuffle fewer bytes"): with `symmetricEdges`
      // the caller guarantees (u,v) ∈ E ⇔ (v,u) ∈ E, so the src set IS
      // the node set — the dst-side union pass over the edge cache and
      // half the distinct's exchange rows are redundant. All four
      // registry callers symmetrize explicitly (explode of both directed
      // structs); PageRankSpec pins set-equality of the two node
      // derivations on a random symmetric graph.
      val nodeSrc = eo.select(col("src").as("node"))
      val distinctNodes = (if (symmetricEdges) nodeSrc
        else nodeSrc.union(eo.select(col("dst").as("node"))))
        .distinct()
      val nodes = (seeds match {
        case None => distinctNodes.withColumn("is_seed", lit(1L))
        case Some(s) =>
          val sd = s.select(col("node").cast("long")).distinct()
            .withColumn("is_seed", lit(1L)).localCheckpoint()
          distinctNodes.join(broadcast(sd), Seq("node"), "left")
            .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      }).localCheckpoint()
      e.unpersist() // annotated cache materialized by nodes
      var rank = nodes.select(col("node"), (col("is_seed") * lit(One)).as("r"))
      for (i <- 1 to iters) {
        val c = eo
          .join(rank.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), contrib.as("c"), lit(0L).as("s"))
        // r15 (guide §2.4): the per-round "every node exactly once" left
        // join became a zero-contribution union INTO the same aggregate —
        // every node contributes EXACTLY ONE zero row carrying its true
        // is_seed flag, contrib rows carry 0, so max(s) recovers the flag
        // and sum(c) + 0 ≡ coalesce(sc, 0): nodes with no in-edges keep
        // their teleport floor. One exchange per round (the aggregate)
        // instead of the aggregate exchange + the join's re-shuffle of
        // the checkpointed nodes frame.
        rank = c
          .unionAll(nodes.select(col("node"), lit(0L).as("c"),
            col("is_seed").as("s")))
          .groupBy("node").agg(sum("c").as("sc"), max("s").as("is_seed"))
          .select(col("node"),
            (col("is_seed") * lit(One * 15 / 100) +
              expr("(sc * 85) DIV 100")).as("r"))
        // periodic truncation only — the intermediate rounds stay lazy
        // so they execute as one DAG
        if (i % CheckpointEvery == 0 && i < iters) rank = rank.localCheckpoint()
      }
      // pin the (|nodes|-sized, KB-MB-scale) final rank frame and release
      // the degree-annotated edge cache — hygiene for long-lived sessions
      // (round-9 advisor: the persist leaked across repeated library
      // calls; the harness's clearCache masked it). The one extra
      // materialization of the small rank frame is noise next to the
      // rounds.
      val out = rank.localCheckpoint()
      eo.unpersist()
      out
    }
  }
}
