package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-posture checks (the 100 TB design rules in README.md): filters and
  * pruning reach the parquet scan, dimension joins broadcast, rank-filter
  * windows use the group-limit optimization, and hot paths stay inside
  * whole-stage codegen. These assert on the OPTIMIZED/physical plan, so a
  * regression that silently de-optimizes a query fails the build. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // auditPlan: withPinned/pinned builders otherwise return an eagerly
  // checkpointed Scan ExistingRDD, which would blind every assertion here
  private def physicalPlan(name: String): String =
    Cached.auditPlan(
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString)

  test("q_filtered_revenue: predicates push into the parquet scan") {
    val plan = physicalPlan("q_filtered_revenue")
    // toString truncates the PushedFilters list — assert the prefix that
    // proves the pushdown happened (IsNotNull + the shipdate range start)
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipda"), "shipdate filter not pushed")
  }

  test("q_filtered_revenue: scan reads only referenced columns (pruning)") {
    val plan = physicalPlan("q_filtered_revenue")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q_customer_geo: dimension joins broadcast (no shuffle join)") {
    val plan = physicalPlan("q_customer_geo")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "dim chain fell back to SMJ")
  }

  test("q_region_supplier_volume: nation/region broadcast under the fact joins") {
    val plan = physicalPlan("q_region_supplier_volume")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_top3_event_types_per_user: rank filter uses WindowGroupLimit") {
    val plan = physicalPlan("q_top3_event_types_per_user")
    assert(plan.contains("WindowGroupLimit"),
      "rank<=k filter did not trigger the group-limit optimization")
  }

  test("q_pricing_summary: aggregation is map-side partial (two-phase)") {
    val plan = physicalPlan("q_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      plan.take(2000))
  }

  test("composite/full scores: no global percent_rank window over entities") {
    // the percentile is computed via bucketed two-pass ranking; the only
    // unpartitioned window allowed is the cumulative-offset scan over the
    // ≤101 bucket rows. A bare percent_rank over the entity frame would
    // funnel 100 TB through one task.
    for (q <- Seq("q_composite_scores", "q_full_scores")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("percent_rank"),
        s"$q plan regressed to a global percent_rank window")
    }
  }

  test("q_full_scores: scoring DAG posture — cached single events scan, " +
      "partitioned entity windows, broadcast attachment joins") {
    // posturePlan (r16): persists/materialization run exactly as in the
    // timed path, but PlanPin wrapping is skipped — under the pins every
    // shared frame reads as an opaque `Scan ExistingRDD` and the posture
    // assertions below (cache scan census, window partitioning, join
    // strategy) go blind. The r15 round shipped the pins unconditional
    // and this test red (537/538) — the pin changes plan SIZE only, so
    // the posture checked here is the posture the pinned plan executes.
    // posture mode materializes the shared frames into the test session's
    // cache; the finally reclaims them so later suites start clean even
    // when an assertion fails
    try {
      val exec = Cached.posturePlan(
        SparkEntry.queries("q_full_scores")(spark, sfDir)
          .queryExecution.executedPlan)
      // 1. events is read through the ONE persisted dims frame: the top-level
      // plan must contain no direct file scan of events (only
      // InMemoryTableScans over the shared cache, which materializes from a
      // single scan). Removing the persist puts FileSourceScanExec nodes
      // right back into this tree.
      val directScans = exec.collectWithSubqueries {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("events") => f
      }
      assert(directScans.isEmpty,
        s"events scanned directly ${directScans.size}x — dims cache sharing broken")
      assert(exec.toString.contains("InMemoryTableScan"), "dims frame not cached")
      // 2. every ranking window over entities is partitioned (bucketed
      // two-pass rank — rank() over the quantized score, percent_rank tie
      // semantics); an unpartitioned windowspec starts with a sort spec as
      // its first argument
      val winLines = exec.toString.linesIterator
        .filter(_.contains("windowspecdefinition(")).toSeq
      val unpartitioned = winLines.filter(
        _.matches(""".*windowspecdefinition\([^,]*\s(ASC|DESC)[^,]*,.*"""))
      // the only allowed unpartitioned window runs over the ≤101 BUCKET
      // count rows (cumulative offsets), never over entity rows
      assert(unpartitioned.forall(l => l.contains("_bkt") && l.contains("sum(_bn")),
        s"unpartitioned window over non-bucket rows:\n${unpartitioned.mkString("\n")}")
      // ONE line must carry both: the rank function AND the _bkt partition
      // (two separate lines would let the entity rank drift to another
      // partitioning while the offsets window still mentions _bkt)
      assert(winLines.exists(l =>
        l.contains("rank(") && l.contains("windowspecdefinition(_bkt")),
        "bucketed rank window missing or not partitioned by _bkt")
      // 3. the scalar/offset attachments broadcast
      assert(exec.toString.contains("BroadcastHashJoin"))
    } finally spark.catalog.clearCache()
  }

  test("q_orders_pagination: row ranking is bucket-partitioned, not global") {
    val plan = physicalPlan("q_orders_pagination")
    // the row-level row_number window must partition by the date bucket
    // (_d); a bare ORDER BY window over the orders rows would funnel the
    // fact table through one task at 100 TB
    val rnLine = plan.linesIterator.find(_.contains("row_number"))
      .getOrElse(fail("no row_number window in plan"))
    assert(rnLine.contains("windowspecdefinition(_d"),
      s"row_number window is not bucket-partitioned: $rnLine")
  }

  test("q_orders_keyset_page: cursor predicate pushes into the scan; no window") {
    val plan = physicalPlan("q_orders_keyset_page")
    assert(plan.contains("PushedFilters: [Or(LessThan(o_orderdate")
      || plan.contains("PushedFilters: [Or(LessThan"), plan.take(2000))
    assert(!plan.contains("Window"), "keyset page regressed to a window")
    assert(plan.contains("TakeOrderedAndProject"), "expected top-k sort, not global sort")
  }

  test("q_simhash_hamming: candidates come from the banded equi-join") {
    val plan = physicalPlan("q_simhash_hamming")
    assert(plan.contains("chunk"),
      "simhash join no longer keyed on banded chunks (all-pairs regression)")
  }

  test("q_sliding_spend_30d: RANGE frame window partitions by customer") {
    val plan = physicalPlan("q_sliding_spend_30d")
    val wLine = plan.linesIterator.find(_.contains("specifiedwindowframe(RangeFrame"))
      .getOrElse(fail("no RANGE-frame window in plan"))
    assert(wLine.contains("windowspecdefinition(o_custkey"),
      s"sliding window not partitioned by customer: $wLine")
  }

  test("q_salted_skew_join: the salted path is a shuffled hash join") {
    val plan = physicalPlan("q_salted_skew_join")
    assert(plan.contains("ShuffledHashJoin"),
      "salted join demo silently became a broadcast (hint lost)")
    assert(plan.linesIterator.exists(l =>
        l.contains("ShuffledHashJoin") && l.contains("salt")),
      "shuffle join no longer keyed on the salt")
  }

  test("q_grouping_sets: one Expand pass, not one scan per grouping set") {
    val plan = physicalPlan("q_grouping_sets")
    assert(plan.contains("Expand"), "grouping sets lost the Expand strategy")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
      "grouping sets reads the fact table more than once")
  }

  test("q_approx_quantile_bounds: exact side is the histogram plan, " +
      "not a full-column percentile buffer") {
    val plan = physicalPlan("q_approx_quantile_bounds")
    // "percentile(" is the buffering exact aggregate; "percentile_approx("
    // (the GK sketch) does not match this substring
    assert(!plan.contains("percentile("),
      "exact quantiles regressed to the buffering percentile aggregate")
    assert(plan.contains("percentile_approx"), "GK sketch side missing")
  }

  test("q_cms_heavy_hitters: top-k is TakeOrdered; cell lookup broadcasts") {
    val plan = physicalPlan("q_cms_heavy_hitters")
    assert(plan.contains("TakeOrderedAndProject"),
      "exact top-k must be a per-partition heap + driver merge, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "2,048-row cell table must broadcast to the probe side")
    assert(!plan.contains("SortMergeJoin"), "cell lookup fell back to SMJ")
  }

  test("q_nation_revenue_share: window runs over aggregated rows, after " +
      "broadcast dim joins") {
    val plan = physicalPlan("q_nation_revenue_share")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the ratio-to-report window must sit ABOVE the aggregate: Window's
    // child subtree contains the HashAggregate, never the raw orders scan
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "window must consume the nation-level aggregate, not order facts")
  }

  test("q_table_profile: five columns profile in ONE scan of orders") {
    val plan = physicalPlan("q_table_profile")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"profiler re-scanned the table: $scans scans")
  }

  test("q_mad_outliers: median/MAD attach via broadcast, no fact re-shuffle") {
    val plan = physicalPlan("q_mad_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "tiny per-type median frame fell back to SMJ")
  }

  test("q_tpch_q19: disjunctive predicate runs as ONE broadcast join, " +
      "not a union of three") {
    val plan = physicalPlan("q_tpch_q19_disjunctive_rev")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "part dim fell back to SMJ")
    // one lineitem scan: the OR-of-ANDs must filter after the join, never
    // explode into three scans unioned together
    val liScans = plan.linesIterator.count(_.contains("lineitem.parquet"))
    assert(liScans <= 1, s"lineitem scanned $liScans times")
  }

  test("q_tpch_q16: NOT IN exclusion plans as a broadcast anti join") {
    val plan = physicalPlan("q_tpch_q16_supplier_census")
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"),
      "tiny exclusion list fell back to a shuffle anti join")
  }

  test("q_tpch_q10/q18: ranked top-k plans as TakeOrdered, not a global sort") {
    for (q <- Seq("q_tpch_q10_returned_rev", "q_tpch_q18_large_orders")) {
      val plan = physicalPlan(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: limit+orderBy did not fuse into TakeOrdered\n${plan.take(1500)}")
    }
  }

  test("scoring pipeline plan contains no UDF nodes (codegen-friendly)") {
    val plan = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "flagship plan contains a UDF node")
  }

  test("EVERY registered query plans without CartesianProduct or UDF nodes") {
    // registry-wide net: an unblocked pair join or a sneaked-in UDF fails
    // the build no matter which query it lands in. (Broadcast 1-row
    // crossJoins plan as BroadcastNestedLoopJoin — allowed; a
    // CartesianProduct means both sides were data-sized.)
    val offenders = graft.plans.FleetPlans.offenders(
        skip = Set("q_neardup_clusters")) { (_, f) => // iterative: plan built per round
      val bad = Seq("CartesianProduct", "BatchEvalPython", "ScalaUDF")
        .filter(f.executedPlan.contains)
      if (bad.isEmpty) Nil else Seq(bad.mkString(","))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
