package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named, oracle-checkable query.
  *
  * Contract (driver-side, see builder prompt):
  *   - `build(spark, sfDir)` returns the Spark result;
  *   - `oracle` is ANSI SQL executed by DuckDB over the same parquet tables
  *     (bare table names: lineitem, orders, …, documents, embeddings);
  *   - the driver sorts columns BY NAME and hashes values, so Spark and
  *     oracle column names must match exactly.
  *
  * Determinism rules applied throughout the modules:
  *   - every floating-point output is `round(x, k)` in BOTH engines (double
  *     sums differ in the last ulp across engines/partitionings);
  *   - every result carries a total ORDER BY with a unique tie-break;
  *   - timestamps are emitted as epoch-µs longs or formatted strings, never
  *     raw timestamp columns (tz-awareness differs between the two readers).
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true)

trait QueryModule {
  def queries: Seq[QueryDef]
}

/** Cross-engine deterministic float handling.
  *
  * Spark's `round()` rounds the decimal shortest-repr HALF_UP
  * (BigDecimal.valueOf(Double.toString)); DuckDB rounds the binary value
  * half-away-from-zero. On repr-boundary values (e.g. 0.64055, frequent when
  * inputs carry 2 decimals) the two disagree by one final digit and the
  * driver's hash compare fails. `dround`/`oround` emit the SAME floor/ceil
  * arithmetic in both engines, so both compute bit-identical doubles.
  */
object Det {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{ceil, floor, lit, when}

  /** Spark side: round-half-away-from-zero on the binary double. */
  def dround(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    when(c >= 0, floor(c * p + 0.5)).otherwise(ceil(c * p - 0.5)) / lit(p)
  }

  /** Oracle (DuckDB SQL) side: identical expression, textual. */
  def oround(expr: String, digits: Int): String = {
    val p = s"1e$digits"
    s"(CASE WHEN ($expr) >= 0 THEN floor(($expr) * $p + 0.5) ELSE ceil(($expr) * $p - 0.5) END / $p)"
  }
}

/** Persist hygiene for lazy query builders (round-5 verdict: seven
  * builders persisted a shared intermediate and never unpersisted it —
  * builders can't know when the runner's last action fires, so the caches
  * outlived their query and churned the storage pool across the one-JVM
  * 124-query sweep, the most plausible cause of the q_bloom_dedup_gate /
  * q_weighted_sample outliers).
  *
  * The wrapper makes the builder eager so try/finally works: persist the
  * inputs, materialize each ONCE (so multi-branch consumers share one
  * compute instead of racing the cache fill), run the body to a small
  * final result pinned by an eager COLUMNAR persist, then unpersist the
  * inputs in `finally` (Dataset.unpersist is non-cascading, so the pinned
  * result keeps its data). Bench times `build()` + the action together,
  * so eagerness doesn't move cost out of the timed region.
  *
  * Round 10: the pin moved from `localCheckpoint(true)` to
  * `persist(MEMORY_AND_DISK)` + count. Checkpoint blocks are deserialized
  * row blocks that live in the block manager OUTSIDE the SQL cache —
  * `spark.catalog.clearCache()` (the sweep runners' between-query
  * hygiene) cannot free them, so across a one-JVM 230-query sweep with
  * ~70 withCached call sites they accumulated until driver GC happened
  * to trigger the ContextCleaner: the round-9 driver bench failed
  * q_curation_e2e (13 s solo) at the 150 s box on exactly that pressure,
  * and the same mechanism produced the recurring phantom-outlier class
  * (q_tfidf_top_terms 3.7 s in-sweep vs 0.6 s solo). A persisted result
  * registers in the CacheManager, so clearCache reclaims it
  * deterministically, and the compressed columnar form is ~10x smaller
  * to build and hold than row blocks (the round-9 sf10 lesson).
  */
object Cached {
  // Real: persist, count and PlanPin-wrap. Audit (auditPlan): nothing
  // executes. Posture (r16, posturePlan): persists and counts as in real
  // mode but skips the PlanPin wrap, so the EXECUTED plan keeps the
  // InMemoryTableScan/window/join structure visible to the plan-posture
  // guards (PlanSpec's scoring-DAG test asserts on the raw executed plan;
  // under the pins every shared frame reads as an opaque `Scan
  // ExistingRDD`). The pin never changes rows, only plan size.
  private sealed trait Mode
  private case object Real extends Mode
  private case object Audit extends Mode
  private case object Posture extends Mode
  private val mode = ThreadLocal.withInitial[Mode](() => Real)

  private def under[T](m: Mode)(body: => T): T = {
    val prev = mode.get()
    mode.set(m)
    try body finally mode.set(prev)
  }

  /** Build with [[withPinned]] and [[pinned]] transparent — no persist,
    * nothing executed — so the FULL logical/physical plan of the body
    * stays visible to the fleet plan audits (PlanSpec/WindowAuditSpec/
    * `graft.Tool plans`) without the audits paying (or racing) the pins'
    * materialization. */
  def auditPlan[T](body: => T): T = under(Audit)(body)

  /** Build with persist/materialization as in real mode but WITHOUT
    * PlanPin wrapping — the executed-plan posture (cache scans, window
    * partitioning, join strategies) stays inspectable. For plan-posture
    * tests only; never used by the timed runners. */
  def posturePlan[T](body: => T): T = under(Posture)(body)

  /** Persist + materialize `df` and return its plan-pinned twin — the
    * single-frame seam for builders that manage their own frame scoping
    * (ScorePipeline). Audit mode is fully transparent (no persist, no
    * count, no pin — auditPlan promises "nothing executed", which the
    * r15 unconditional dims0.count() violated, the r15 advisor's high
    * item); posture mode persists but skips the pin. */
  def pinned(df: DataFrame): DataFrame = {
    if (mode.get() == Audit) return df
    val p = df.persist()
    p.count()
    if (mode.get() == Posture) p else org.apache.spark.sql.graft.PlanPin.truncated(p)
  }

  /** Persist + lineage truncation (round 15): `body` receives a
    * PLAN-PINNED twin of each input — same rows, one-node logical plan
    * (org.apache.spark.sql.graft.PlanPin) — so a composition that
    * re-references the inputs many times builds consumer plans of leaf
    * size instead of duplicating the full upstream subtree per reference
    * (q_curation_e2e's census reached 3,905 Exchange nodes / ~20 s of
    * pure driver plan work that way). Execution is unchanged: the pinned
    * twin reads the SQL cache the persist below fills. In audit mode the
    * original (transparent) frames pass through so the fleet plan audits
    * still see the full composition. */
  def withPinned(inputs: DataFrame*)(body: Seq[DataFrame] => DataFrame): DataFrame = {
    if (mode.get() == Audit) return body(inputs)
    inputs.foreach(_.persist())
    try {
      inputs.foreach(_.count())
      val shared =
        if (mode.get() == Posture) inputs
        else inputs.map(org.apache.spark.sql.graft.PlanPin.truncated)
      val out = body(shared)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally inputs.foreach(_.unpersist())
  }
}

/** DuckDB twin of `graft.stats.SemConfidence.reliability`: mean of the VALID
  * pairwise correlations (0.50 fallback when none), with BOTH avg_r and rho
  * clamped to [0, 0.99] — sem_confidence.py:349-362. `wideRel` must expose
  * one `s_<dim>` column per dimension. */
object OracleSem {
  def relSubquery(dims: Seq[String], wideRel: String): String = {
    val pairs = dims.combinations(2).toSeq
    val defs = pairs.zipWithIndex.map { case (Seq(a, b), i) =>
      s"corr(s_$a, s_$b) AS c$i"
    }.mkString(",\n                      ")
    val coal = pairs.indices.map(i => s"coalesce(c$i, 0)").mkString(" + ")
    val valid = pairs.indices.map(i => s"(CASE WHEN c$i IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val k = dims.size
    s"""(SELECT avg_r,
               least(0.99, greatest(0.0, ($k.0 * avg_r) / (1.0 + ${k - 1}.0 * avg_r))) AS rho
          FROM (SELECT least(0.99, greatest(0.0,
                         coalesce(($coal) / NULLIF($valid, 0), 0.50))) AS avg_r
                FROM (SELECT $defs FROM $wideRel)))"""
  }
}

/** All query modules, flattened; names asserted unique. */
object Registry {
  def modules: Seq[QueryModule] = Seq(
    RelationalQueries,
    ServingQueries,
    PipelineQueries,
    ScoringQueries,
    SignalQueries,
    StatsQueries,
    TextQueries,
    DedupQueries,
    EmbeddingQueries,
    MultimodalQueries,
    SketchQueries,
    CurationQueries,
    TemporalQueries,
    GraphQueries,
    RetrievalQueries,
    SelectionQueries,
    InferenceQueries,
    TpchQueries)

  lazy val all: Seq[QueryDef] = {
    val qs = modules.flatMap(_.queries)
    val dup = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }
}
