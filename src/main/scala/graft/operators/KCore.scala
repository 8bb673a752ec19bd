package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded k-core peeling — the degeneracy decomposition's workhorse
  * (Seidman 1983; Batagelj & Zaveršnik 2003): repeatedly delete nodes of
  * degree < k until the remainder (the k-core) is stable. The census of
  * each peel round is the standard "how cohesive is this graph" profile a
  * curation pipeline runs over co-occurrence graphs before trusting their
  * clusters.
  *
  * Exact-arithmetic, bounded-round formulation: `rounds` synchronous peel
  * sweeps (every round removes ALL currently-under-k nodes at once), which
  * a DuckDB oracle replays as unrolled CTEs — the same discipline as
  * [[PageRank]]/[[Sssp]]. A fixed small `rounds` keeps the oracle
  * SQL-expressible; convergence is visible in the census (two equal
  * consecutive rounds = fixed point reached).
  *
  * Scale shape — TWO regimes gated on edge count (round-10 rework; the
  * round-9 unconditional per-round persist+count traded an 8% sf10 win
  * for a 4.5× small-SF regression, and the round-10 probe showed why:
  * on a sub-1M-edge graph the cost is per-JOB scheduling overhead at 32
  * shuffle partitions, ~0.3-1 s × ~10 jobs, not data):
  *
  *   - ABOVE [[MaterializeThreshold]] edges (the 100 TB shape): each
  *     round's survivor frame is materialized into the compressed
  *     COLUMNAR cache (persist + the census count, then unpersist of the
  *     spent predecessor) so round i+1 starts from materialized round-i
  *     edges rather than re-deriving the chain (each round references
  *     its predecessor ~5× — lazy lineage would re-execute ~5^rounds
  *     times). Columnar, not `localCheckpoint`: deserialized row blocks
  *     on the 58M-row sf10 round-0 frame put the query at 138 s warm
  *     (the round-9 lesson — the columnar cache is ~10× smaller to build
  *     and scan). The per-round census reads are O(1) driver scalars off
  *     the already-materialized frame;
  *
  *   - BELOW it: rounds truncate with a cheap eager `localCheckpoint`
  *     (KB-MB row blocks, freed on GC; no columnar encode/decode pass)
  *     and the census count reads off the blocks ~free. The survivor-set
  *     persist+count stays in BOTH regimes — the round-10 probes measured
  *     dropping it (to save the job) at 2.5× WORSE on sf1's 5.8M-edge
  *     graph, because the 2-shuffle degree aggregate then re-executes
  *     ~5× per round.
  */
object KCore {

  /** Edge count above which each peel round's survivor frame is
    * materialized into the columnar cache with per-round census counts;
    * below it rounds truncate via cheap row blocks and the census
    * collapses into one final job. Measured brackets (this box, warm,
    * local[32]): at 5.8M edges (sf1) the per-round persist+count REGRESSES
    * 2-3× (round-9 verdict), at 58M (sf10) it wins — 20M splits the
    * decade. */
  val MaterializeThreshold: Long = 20000000L

  /** Peel `rounds` sweeps of the k-core over undirected edges (a, b),
    * one row per edge, endpoints in either order, no self-loops.
    * Returns one census row per round: (round, n_nodes, n_edges) where
    * n_nodes counts nodes meeting the degree bar that round and n_edges
    * the edges surviving between them. */
  def censusRows(spark: SparkSession, edges: DataFrame, k: Int, rounds: Int)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import spark.implicits._
    // `ed` is the current round's edge frame; `pinned` is the one
    // persisted frame the current lineage bottoms out on — released when
    // a big round truncates the chain or the peel finishes
    var pinned = edges.select(col("a").cast("long"), col("b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ed = pinned
    // the round-0 count fills the base cache (round 1 would pay that fill
    // anyway) and drives the regime gate — and, round 13, sizes the peel
    // rounds' reduce parallelism (IterScale: same fixed-32-partition
    // scale-killer as the PageRank family; every round below executes
    // eagerly inside the scope, so the conf wrap is sound)
    var edCount = ed.count()
    val out = Seq.newBuilder[(Int, Long, Long)]
    // Fixed-point short-circuit (round-10 probe: the lineitem co-purchase
    // graph converges after ONE peel — rounds 2..R recomputed identical
    // results, a third of the query). Peeling is monotone deletion, so
    // e_i ⊆ e_{i-1}; equal COUNTS therefore imply equal SETS, and an
    // unchanged edge frame fixes every later round: deg_{i+1} = deg_i ⇒
    // alive_{i+1} = alive_i ⇒ e_{i+1} = e_i. Once a round's output count
    // equals its input count, the remaining census rows are emitted as
    // copies with zero jobs. The oracle unrolls every round fully and the
    // hash gate proves the equality. At 100 TB this is the dominant
    // saving: real co-occurrence graphs reach their k-core in 1-2 sweeps,
    // and each skipped sweep is three shuffles over the full edge frame.
    var fixedPoint = false
    var lastAlive = 0L
    IterScale.withEdgeScaledShuffle(spark, edCount) {
    for (i <- 1 to rounds) {
      if (fixedPoint) out += ((i, lastAlive, edCount))
      else {
        val prevCount = edCount
        val deg = ed.select(col("a").as("node"))
          .union(ed.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val alive = deg.filter(col("deg") >= k).select("node")
        // the survivor set is consumed three times (census + two
        // semi-joins): persist so the degree shuffle runs once, release
        // before next round (measured: skipping this to save the count
        // job loses 2.5× at sf1 — the 2-shuffle degree aggregate
        // re-executes ~5×/round on a 5.8M-row frame)
        alive.persist()
        try {
          val nAlive = alive.count()
          val next = ed
            .join(alive.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
            .join(alive.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
            .select("a", "b")
          if (edCount > MaterializeThreshold) {
            val nextM = next
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            edCount = nextM.count() // count materializes `nextM`, truncating
            pinned.unpersist()      // the chain — the predecessor can go
            pinned = nextM
            ed = nextM
          } else {
            // small regime: truncate with a cheap eager localCheckpoint —
            // KB-MB row blocks, freed on GC; the census count off the
            // blocks is ~free. Once small, always small (frames shrink).
            ed = next.localCheckpoint()
            edCount = ed.count()
          }
          out += ((i, nAlive, edCount))
          lastAlive = nAlive
          if (edCount == prevCount) fixedPoint = true
        } finally alive.unpersist()
      }
    }
    } // IterScale scope
    pinned.unpersist()
    out.result().toDF("round", "n_nodes", "n_edges")
      .select(col("round").cast("long").as("round"),
        col("n_nodes"), col("n_edges"))
  }
}
