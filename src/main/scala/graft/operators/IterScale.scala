package graft.operators

import org.apache.spark.sql.SparkSession

/** Shuffle-parallelism scaling for the iterative-graph family (round-13
  * verdict #2): `q_pagerank_suppliers` measured 56 s warm at sf10 ≈ 12× its
  * sf1 time on 10× data because every damped round shuffled the 10× edge
  * set at the session's FIXED partition count (32 on the bench box) — at
  * the 100 TB design point a constant reduce-side parallelism is a
  * scale-killer for exactly this family, since the per-round shuffles are
  * the whole cost and their per-partition size grows linearly with the
  * graph.
  *
  * The fix is possible precisely because every iterative operator here
  * ([[PageRank]], [[Sssp]]) materializes its final state EAGERLY inside
  * the call (the final localCheckpoint hygiene): all the per-round
  * shuffles execute while the override below is in force, and
  * the caller's session conf is restored before the (already-materialized)
  * result frame is returned. A lazily-returned plan could not be scaled
  * this way — it would execute after the `finally`.
  *
  * Sizing: one reduce partition per ~[[RowsPerPartition]] edge rows,
  * never BELOW the session setting (small graphs keep the caller's
  * parallelism — per-job scheduling overhead dominates below ~1M edges,
  * the KCore round-10 lesson) and capped at [[MaxPartitions]] as a
  * runaway guard. With AQE on (the default), the scaled value is the
  * INITIAL partition count and AQE still coalesces tiny post-shuffle
  * partitions, so over-provisioning costs little; the failure mode this
  * kills is the opposite one — 3.7M-row reduce partitions that spill and
  * GC-stall at 10× data because the initial count could never grow.
  */
object IterScale {

  /** Target edge rows per reduce partition: at 2 longs/row this is
    * ~24 MB raw per task — comfortably in-memory for the per-round
    * join + aggregate state. */
  val RowsPerPartition: Long = 1500000L

  /** Hard cap on the scaled partition count (≈ 6 B edges before the cap
    * binds — past that a real cluster tunes the session value itself). */
  val MaxPartitions: Int = 4096

  private val Key = "spark.sql.shuffle.partitions"

  /** The session's UNSCALED partition setting, captured the first time
    * this session passes through here. Restores always target this
    * baseline: with concurrent queries in one session (graft.Verify runs
    * 8 at a time), a naive save/restore can capture another call's
    * TEMPORARY value as "old" and leave the session permanently scaled.
    * Two overlapping scaled bodies may still briefly see each other's
    * setting — a perf-only effect; the terminal state is always the
    * baseline, and correctness never depends on partition count. */
  private val baseline =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Integer]()

  /** Count of scaled scopes currently active per session. Round-14
    * (advisor): the first-seen baseline was PERMANENT, so a legitimate
    * later change to the session's shuffle-partition setting was silently
    * reverted by the next scaled call's restore. When NO scaled scope is
    * active, the observed session value is authoritative and refreshes
    * the stored baseline; while any scope is active the observed value
    * may be a temporary scaled one and the stored baseline stands. */
  private val activeScopes =
    new java.util.concurrent.ConcurrentHashMap[
      SparkSession, java.util.concurrent.atomic.AtomicInteger]()

  def scaledParts(base: Int, nRows: Long): Int = {
    // ceil-divide WITHOUT the additive form ((n + unit - 1) overflows
    // Long near MaxValue and the cap guard would silently vanish —
    // IterScaleSpec pins this), clamp in Long before narrowing
    val scaled = nRows / RowsPerPartition +
      (if (nRows % RowsPerPartition == 0) 0L else 1L)
    math.max(base, math.min(MaxPartitions.toLong, scaled).toInt)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scaled to `nRows`
    * edge rows, restoring the session's baseline after. `body` must
    * execute its shuffles eagerly (see class doc). */
  def withEdgeScaledShuffle[T](spark: SparkSession, nRows: Long)(body: => T): T = {
    val depth = activeScopes.computeIfAbsent(
      spark, _ => new java.util.concurrent.atomic.AtomicInteger(0))
    // r15 (advisor): read the observed value INSIDE the compute callback —
    // reading it before opened a TOCTOU window where a concurrent scope's
    // temporary scaled value was sampled, the scope then exited (depth
    // back to 0), and the stale sample was adopted as the new baseline.
    // compute() runs atomically per key, and depth is incremented before
    // any conf write below, so a depth==0 check and the conf read inside
    // the same callback can no longer interleave with a scaled scope's
    // write-then-restore.
    val base: Int = baseline.compute(spark, (_, prev) => {
      if (prev == null || depth.get() == 0)
        Integer.valueOf(spark.conf.get(Key).toInt)
      else prev
    }).intValue()
    val parts = scaledParts(base, nRows)
    if (parts == base) body
    else {
      // increment BEFORE the conf write: a concurrent entrant must never
      // observe the scaled value at depth 0 (it would adopt it as baseline)
      depth.incrementAndGet()
      spark.conf.set(Key, parts.toString)
      System.err.println(s"[iterscale] $nRows edge rows -> $parts shuffle " +
        s"partitions (session baseline $base)")
      try body finally {
        spark.conf.set(Key, base.toString)
        depth.decrementAndGet()
      }
    }
  }
}
