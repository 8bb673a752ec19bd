// Lives under org.apache.spark.sql because LogicalRDD and the classic
// Dataset.ofRows bridge are private[sql] extension surface — same
// rationale as AsOfJoinNative / KmvSketchAgg.
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation WITHOUT new block materialization (round 15).
  *
  * A composed lazy DAG that re-references shared intermediates duplicates
  * each intermediate's logical subtree per reference, and the duplication
  * COMPOUNDS through the composition: q_curation_e2e's final census plan
  * reached 3,905 Exchange nodes / 5.8 MB of formatted text while executing
  * almost nothing (the shared subtrees are persisted by
  * `graft.queries.Cached.withPinned`/`pinned`). Catalyst walks — analysis,
  * optimizer batches, and the CacheManager's canonicalize-and-match on
  * every consumer — are tree walks, so the DRIVER pays the duplicated
  * size on every round trip; at sf0.1 plan work was ~2/3 of that query's
  * wall time (plan-only explain ≈ 20 s), and in the one-JVM bench sweep
  * the churned Catalyst trees billed a 107 s GC storm to 32 idle tasks.
  *
  * `truncated` rebuilds a DataFrame on a ONE-NODE plan (LogicalRDD over
  * the frame's own executed RDD) — the exact mechanism of
  * `Dataset.localCheckpoint`, WITHOUT the checkpoint: no deserialized row
  * blocks enter the block manager (the round-10 sweep-hygiene lesson —
  * `clearCache()` cannot free checkpoint blocks), nothing executes at
  * wrap time, and — r16 — without checkpoint's per-row copy (see the
  * method doc). Consumers' plans become leaf-sized; each consumer's
  * execution runs the wrapped RDD, which reads the SQL cache while the
  * caller's persist is live and recomputes via RDD lineage after.
  */
object PlanPin {

  /** Same rows as `df`, one-node logical plan. Call AFTER `df` is
    * persisted and materialized (the wrap itself plans `df` once — the
    * last full-tree walk — and never again).
    *
    * NO per-row `copy()` (r16): Dataset.checkpoint copies because it
    * STORES the rows (block-manager blocks must not alias a scan's
    * reused buffer), but this RDD is never stored — its only consumer is
    * the `RDDScanExec` the LogicalRDD plans to, whose `doExecute` maps
    * every row through a fresh `UnsafeProjection` (verified against the
    * Spark 4.1.2 bytecode: $anonfun$doExecute$3/4 in RDDScanExec, and
    * the codegen path via InputRDDCodegen, createUnsafeProjection=true)
    * — each row's bytes are re-copied into the projection's own buffer
    * at consumption time, one row at a time, before any downstream
    * operator sees it; buffering operators then copy what THEY retain,
    * per SparkPlan's row-reuse contract. The r15 copy was a redundant
    * second copy per row per consumer read — the whole r15-measured
    * "pin tax" (q_ngram_jaccard_blocked −35%): with it removed, the
    * order-balanced interleaved A/B (AbProbe) reads pin-vs-no-pin
    * geomean 0.97 on the previously-worst mid-tier slice while the
    * flagship wins stand (q_curation_e2e 8.4 vs 12.9 s same JVM).
    * PlanPinSpec pins the aliasing-safety claim with buffering
    * (sort/window) consumers; the 249-query oracle gate re-proved
    * byte-identical results.
    *
    * Rejected alternative (r16, measured): pinning to the cached
    * InMemoryRelation leaf instead. It restores fused/pruned
    * InMemoryTableScan reads, and beat no-pin fleet-wide (geomean 0.998,
    * 70 queries) — but on the composed flagship DAGs the nested IMR
    * embeddings re-inflate explain/canonicalization trees (raw curation
    * plan text 4.7 MB; warm solo 17.4-22.8 s vs 10.7-12.6 s with this
    * wrapper, same box back-to-back), and a 4-arm same-JVM A/B showed
    * the LogicalRDD pin matching or beating the IMR pin on the mid-tier
    * too once the copy was gone. The opaque wrapper stops the nesting
    * recursion: each pin level stays leaf-sized in EVERY tree walk. */
  def truncated(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
