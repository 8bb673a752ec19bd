package graft.plans

import graft.SparkSpec

/** Fleet-wide plan-SIZE audit (round-7 postmortem): `q_bradley_terry`
  * shipped with an iterative loop that referenced the previous round's
  * DataFrame multiple times without lineage truncation, so its logical
  * plan grew ~4^rounds and Catalyst analysis never finished — one query
  * emptied the round's correctness artifact, timed out the bench, and
  * hung every registry-walking suite. This audit catches that class AT
  * BUILD TIME: every registered query must (a) finish ANALYSIS inside a
  * hard wall-clock box and (b) produce an analyzed plan under a node
  * bound that no legitimate query here approaches (the largest measured
  * plan in the fleet is well under 1,000 nodes; an exponential loop blows
  * past 100,000 before it hangs).
  *
  * Iterative builders (PageRank, ConnectedComponents, the MM loop) stay
  * under the bound precisely because they `localCheckpoint` on cadence —
  * reverting that discipline anywhere fails this suite, not the driver.
  */
class PlanComplexitySpec extends SparkSpec {

  private val MaxNodes = 5000

  test("every registered query analyzes promptly and under the node bound") {
    // FleetPlans boxes each build + analysis at BuildBoxSec on a daemon
    // pool and reports a timeout or a throw by name
    val offenders = FleetPlans.offenders() { (_, f) =>
      if (f.analyzedNodes > MaxNodes)
        Seq(s"analyzed plan has ${f.analyzedNodes} nodes (> $MaxNodes) — " +
          "likely an iterative loop missing localCheckpoint cadence")
      else Nil
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
