package graft.plans

import graft.SparkSpec

/** Fleet-wide window audit: NO query in the registry may plan an
  * unpartitioned WindowExec. An empty partition spec funnels every input
  * row through ONE task — the 100 TB killer WindowExec itself warns about
  * ("No Partition Defined for Window operation"). Bounded-cardinality
  * global windows (bucket offsets, week series, vocab ids) are allowed
  * ONLY via the explicit non-foldable single-partition key
  * (pmod(col, 1)), which this audit sees as a non-empty spec — so a clean
  * driver bench log is an invariant this suite enforces, not a hope.
  *
  * Reads the pre-AQE physical plan of every registered query at sf0.001
  * from [[FleetPlans]] (plan shapes don't change with scale factor, only
  * with stats-driven join picks, which don't affect window partitioning). */
class WindowAuditSpec extends SparkSpec {

  /** The pmod(col, 1) key silences the warning but still hashes every row
    * to ONE partition — it is a claim ("this frame is bounded"), not a
    * fix. So the claim is audited too: every query whose plan carries a
    * constant-partition window must be on this list, where each entry
    * names the bounded frame that justifies it. A new query reaching for
    * the pmod trick fails the suite until a human adds it HERE with its
    * bound — the trick cannot silently hide a genuinely unbounded funnel.
    * The list is audited the other way too: an entry whose query plans no
    * constant-partition window guards nothing and fails the suite. */
  private val BoundedGlobalWindowQueries = Map(
    "q_approx_quantile_bounds" -> "histogram buckets",
    "q_composite_scores" -> "score-grid buckets (two-pass percentile)",
    "q_full_scores" -> "score-grid buckets (two-pass percentile)",
    "q_weekly_revenue_wow" -> "calendar weeks (~350 aggregate rows)",
    "q_vocab_encode" -> "vocabulary ids (V rows)",
    "q_dsir_importance" -> "top-N survivors of TakeOrdered (≤ 20 rows)",
    "q_bpe_merge_step" -> "top-K survivors of TakeOrdered (≤ 20 rows)",
    "q_perplexity_buckets" -> "histogram buckets (HistQuantiles prefix sum)",
    "q_temperature_mix" -> "language rows (≤ #languages aggregate rows)",
    "q_curation_e2e" -> "language rows (≤ #languages aggregate rows)",
    "q_ks_two_sample" -> "cents-grid coarse buckets (GridCum offset pass)",
    "q_mannwhitney_u" -> "cents-grid coarse buckets (GridCum offset pass)",
    "q_textrank_keywords" -> "top-V vocab survivors of TakeOrdered (≤ 30 rows)",
    "q_skyline_parts" -> "price-grid coarse buckets (two-pass cummax offsets)",
    "q_survival_km" -> "duration-grid frames (calendar-bounded; GridCum + log cumsum)",
    "q_lorenz_deciles" -> "spend-grid coarse buckets (GridCum offset pass)",
    "q_conversion_time" -> "histogram buckets (HistQuantiles p50/p90 cuts)",
    "q_roc_auc" -> "score-grid coarse buckets (GridCum offset pass)",
    "q_winsorized_mean" -> "histogram buckets (HistQuantiles p05/p95 cuts)",
    "q_decile_lift" -> "score-grid coarse buckets (GridCum) + 10 decile rows",
    "q_orders_pagination" -> "distinct order dates (aggregate rows)",
    "q_zipf_slope" -> "top-K survivors of the LIMIT (≤ 200 rows)")

  test("no registered query plans an unpartitioned window") {
    val bad = FleetPlans.offenders()((_, f) => f.unpartitionedWindows)
    assert(bad.isEmpty,
      s"unpartitioned windows found (single-task funnels):\n${bad.mkString("\n")}")
  }

  test("every constant-partition (pmod) window is declared with its bound") {
    val undeclared = FleetPlans.offenders() { (name, f) =>
      if (f.pmodWindows.nonEmpty && !BoundedGlobalWindowQueries.contains(name))
        Seq(f.pmodWindows.mkString("; "))
      else Nil
    }
    assert(undeclared.isEmpty,
      "constant-partition windows without a declared bound — add to " +
        s"BoundedGlobalWindowQueries with the frame's bound, or partition " +
        s"properly:\n${undeclared.mkString("\n")}")
  }

  test("every declared bounded global window is planned by its query") {
    val planned = FleetPlans.all.collect {
      case (name, Right(f)) if f.pmodWindows.nonEmpty => name
    }.toSet
    val stale = BoundedGlobalWindowQueries.keySet -- planned
    assert(stale.isEmpty,
      "BoundedGlobalWindowQueries entries whose query plans no " +
        s"constant-partition window — drop them: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
