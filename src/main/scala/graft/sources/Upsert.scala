package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Keyed-upsert and dedup-gate primitives (reference sinks S9/S12,
  * SURVEY.md §2.1: MERGE upserts in dimension_pipeline.py:38-74 /
  * run_scoring_engine.py:191-258, content-hash gates in
  * signal_store.py:21-28 / evidence_store.py:61-68).
  *
  * Scale notes: `lastWins` is one shuffle on the merge keys (window) —
  * at 100 TB partition the base table by the key prefix on write so the
  * union co-partitions. `dedupGate` is a left_anti equi-join: broadcast
  * when the seen-hash set is small, shuffle-hash otherwise (AQE picks).
  * `storeGate`, the gate of an append-only store, is always shuffle-hash:
  * a store's hash set grows without bound, so it is never broadcast.
  */
object Upsert {

  /** MERGE semantics as a batch op: rows from `incoming` replace rows in
    * `base` sharing the same `keys`; ties broken by `orderCols` descending
    * (latest wins), with `incoming` preferred on exact ties. */
  def lastWins(base: DataFrame, incoming: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc) :+ col("_src").desc: _*)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Content-hash ingest gate: drop incoming rows whose `hashCol` already
    * exists in `seen` (idempotent re-ingest, S12). */
  def dedupGate(incoming: DataFrame, seen: DataFrame, hashCol: String): DataFrame =
    incoming.join(seen.select(hashCol).distinct(), Seq(hashCol), "left_anti")

  /** The hash column of the append-only parquet store at `storePath`, read
    * with `hashField` as its whole schema: planning it infers nothing, so
    * it runs no Spark job, and its scan reads that one column. */
  def storeHashes(spark: SparkSession, storePath: String,
      hashField: StructField): DataFrame =
    spark.read.schema(StructType(Seq(hashField.copy(nullable = true))))
      .parquet(storePath)

  /** Cross-run gate of an append-only parquet store: drop `incoming` rows
    * whose `hashField` the store at `storePath` already holds. A store that
    * does not exist yet has seen nothing ([[pathExists]], never a catch
    * around the read: a transient read failure on an EXISTING store must
    * fail the batch, not silently disable the gate).
    *
    * A plain left_anti join on [[storeHashes]], with no `distinct()`: an
    * anti-join's result does not depend on duplicates on its right side,
    * and the store holds each hash once anyway (the gate's own invariant),
    * so an aggregate would only add work. The store side is hinted
    * `shuffle_hash`: each task builds its hash table from its own shuffle
    * partition and frees it when it ends, where a broadcast would collect
    * the whole hash set on the driver and leave a relation cached in every
    * executor's BlockManager until ContextCleaner runs. */
  def storeGate(incoming: DataFrame, storePath: String,
      hashField: StructField): DataFrame = {
    val spark = incoming.sparkSession
    if (!pathExists(spark, storePath)) incoming
    else incoming.join(storeHashes(spark, storePath, hashField).hint("shuffle_hash"),
      Seq(hashField.name), "left_anti")
  }

  /** Existence is a filesystem fact, not an exception pattern: callers
    * gating dedup on "does the store exist yet" must use this, never a
    * catch-all around the read — a transient read failure on an EXISTING
    * store would silently disable dedup (see StreamIngest). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** In-batch first-wins dedup on a hash with a deterministic tie order. */
  def dedupInBatch(df: DataFrame, hashCol: String, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(hashCol)).orderBy(orderCols: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }
}
