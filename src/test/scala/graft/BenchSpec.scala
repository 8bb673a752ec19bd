package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench._

/** Bench's pass policy over a fake runner and clock: no Spark, no data. */
class BenchSpec extends AnyFunSuite {

  /** `outcome(name, attempt)` decides each run (attempt counts from 1). The
    * clock advances by a timed run's seconds, a boxed run's box, 0.1 s for a
    * crash and 2 s per settle. */
  private class FakeRunner(outcome: (String, Int) => Outcome) extends Runner {
    var now = 0.0
    var settles = 0
    val runs = mutable.ListBuffer.empty[(String, Long, Boolean)]
    def clock(): Double = now
    def run(name: String, box: Long, retry: Boolean): Outcome = {
      runs += ((name, box, retry))
      val o = outcome(name, runs.count(_._1 == name))
      now += (o match {
        case Timed(t) => t
        case Boxed => box.toDouble
        case Failed => 0.1
      })
      o
    }
    def settle(): Unit = { settles += 1; now += 2 }
  }

  private val Timeout = 150L
  private val fleet = (1 to 245).map(i => f"q_synthetic_line_$i%03d")

  test("the sf1 reserve runs first at the full box and is never skipped, even over budget") {
    val names = fleet ++ Reserve
    val r = new FakeRunner((n, _) => Timed(if (Reserve.contains(n)) 30.0 else 0.5))
    val t = new Tally
    val skipped = sf1Pass(names, names.map(_ -> 1.0).toMap, Map.empty,
      budget = 10.0, Timeout, r, t)
    assert(r.runs.take(Reserve.size).toList == Reserve.map(n => (n, Timeout, false)))
    assert(r.runs.size == Reserve.size)
    assert(Reserve.forall(t.best.contains))
    assert(skipped.toSet == fleet.toSet)
    assert(!skipped.exists(Reserve.contains))
  }

  test("a boxed reserve line is retried, not skipped, and the rest keep the 8x box") {
    val names = fleet.take(3) ++ Reserve
    val frozen1 = names.map(_ -> 5.0).toMap
    val r = new FakeRunner((n, k) =>
      if (n == "q_bloom_dedup_gate" && k == 1) Boxed else Timed(1.0))
    val t = new Tally
    val skipped = sf1Pass(names, frozen1, Map.empty, budget = 1000.0, Timeout, r, t)
    assert(skipped.isEmpty && t.boxed.isEmpty)
    assert(r.runs.take(4).map(_._1) == Reserve)
    assert(r.runs.filter(x => Reserve.contains(x._1)).forall(_._2 == Timeout))
    assert(r.runs.filterNot(x => Reserve.contains(x._1)).forall(_._2 == 40L))
    assert(r.runs.last == (("q_bloom_dedup_gate", Timeout, true)))
    assert(t.retried(1) == Seq("q_bloom_dedup_gate"))
  }

  test("sf1 sweeps unfrozen lines by sf0.1 time, then frozen lines cheapest first") {
    val names = Seq("q_a", "q_b", "q_c", "q_d", "q_e")
    val frozen1 = Map("q_a" -> 3.0, "q_b" -> 1.0, "q_c" -> 2.0)
    val sf01 = Map("q_d" -> 1.0, "q_e" -> 0.2, "q_a" -> 0.1)
    val r = new FakeRunner((_, _) => Timed(0.5))
    sf1Pass(names, frozen1, sf01, budget = 1000.0, Timeout, r, new Tally)
    assert(r.runs.map(_._1) == Seq("q_e", "q_d", "q_b", "q_c", "q_a"))
    // unfrozen boxes come from this run's sf0.1 time, 10 × (t + 1), at least
    // 15 s; frozen ones are 8× the freeze, at least 15 s
    assert(r.runs.map(_._2) == Seq(15L, 20L, 15L, 16L, 24L))
  }

  test("sf1 stops the sweep at budget minus the retry slice, retries, then resumes") {
    val names = (1 to 40).map(i => f"q_l$i%02d")
    // every line costs 2.5 s (limit 4 s); q_l01's first run takes 9 s
    val r = new FakeRunner((n, k) => Timed(if (n == "q_l01" && k == 1) 9.0 else 2.5))
    val t = new Tally
    val skipped = sf1Pass(names, names.map(_ -> 2.0).toMap, Map.empty,
      budget = 50.0, Timeout, r, t)
    val firstRetry = r.runs.indexWhere(_._3)
    // the sweep stops once 40 s (= 50 − 10 s slice) have passed: at 41.5 s
    assert(r.runs.take(firstRetry).map(_._1) == names.take(14))
    // one settle (to 43.5 s) and one retry (to 46 s), then the sweep
    // resumes until the 50 s budget is spent
    assert(r.settles == 1)
    assert(r.runs.drop(firstRetry).toList ==
      (("q_l01", 16L, true)) :: names.slice(14, 16).map(n => (n, 16L, false)).toList)
    assert(t.best("q_l01") == 2.5)
    assert(skipped == names.drop(16))
  }

  test("retry candidates: boxed first, then over-limit lines by ratio, never crashes") {
    val t = new Tally
    t.record("q_ok", Timed(1.0))
    t.record("q_3x", Timed(3.0))
    t.record("q_5x", Timed(5.0))
    t.record("q_nolimit", Timed(99.0))
    t.record("q_boxed", Boxed)
    t.record("q_crash", Failed)
    val limit = Map("q_ok" -> 2.0, "q_3x" -> 1.0, "q_5x" -> 1.0, "q_crash" -> 0.1).get _
    assert(retryCandidates(t, limit) == Seq("q_boxed", "q_5x", "q_3x"))
  }

  test("retry: one settle, pre-cleared runs, at most 2 retries, each line keeps its minimum") {
    val t = new Tally
    Seq("q_stuck" -> 9.0, "q_fixed" -> 8.0, "q_ok" -> 1.0).foreach { case (n, v) =>
      t.record(n, Timed(v))
    }
    t.record("q_boxed", Boxed)
    val r = new FakeRunner((n, _) => n match {
      case "q_stuck" => Timed(7.0)
      case "q_boxed" => Timed(1.5)
      case _ => Timed(1.0)
    })
    retry(_ => Some(2.0), deadline = 1000.0, _ => Timeout, r, t)
    assert(r.settles == 1 && r.runs.forall(_._3))
    assert(r.runs.map(_._1) == Seq("q_boxed", "q_stuck", "q_fixed", "q_stuck"))
    assert(t.retries == Map("q_boxed" -> 1, "q_stuck" -> 2, "q_fixed" -> 1))
    assert(t.retried(2) == Seq("q_stuck"))
    assert(t.best("q_stuck") == 7.0 && t.best("q_fixed") == 1.0 && t.best("q_boxed") == 1.5)
    assert(t.attempts("q_stuck") == List(9.0, 7.0, 7.0))
    assert(t.boxed.isEmpty)
  }

  test("retry stops at its deadline and does nothing without candidates") {
    val t = new Tally
    Seq("q_a" -> 9.0, "q_b" -> 8.0, "q_c" -> 7.0).foreach { case (n, v) => t.record(n, Timed(v)) }
    val r = new FakeRunner((_, _) => Timed(6.0))
    retry(_ => Some(1.0), deadline = 5.0, _ => Timeout, r, t)
    // 2 s settle, then q_a (to 8 s); the clock is past the deadline
    assert(r.runs.map(_._1) == Seq("q_a"))
    val idle = new FakeRunner((_, _) => Timed(1.0))
    retry(_ => Some(100.0), deadline = 1000.0, _ => Timeout, idle, t)
    assert(idle.runs.isEmpty && idle.settles == 0)
  }

  /** A report with every optional key present: 245 sf0.1 lines (some over
    * 2× their freeze, retried, boxed or crashed) and an sf1 pass. */
  private def syntheticReport: Report = {
    val t01 = new Tally
    fleet.zipWithIndex.foreach { case (n, i) => t01.record(n, Timed(0.1 + i * 0.037)) }
    t01.record("q_synthetic_boxed", Boxed)
    t01.record("q_synthetic_crash", Failed)
    Seq(fleet(3), fleet(7)).foreach { n =>
      t01.retries(n) = 2
      t01.record(n, Timed(0.05))
    }
    val t1 = new Tally
    (Reserve ++ fleet.take(60)).zipWithIndex.foreach { case (n, i) => t1.record(n, Timed(1.0 + i)) }
    t1.record(fleet(61), Boxed)
    t1.record(fleet(62), Failed)
    t1.retries(fleet(0)) = 1
    val diag = Seq(s"""{"q":"${fleet(9)}","kind":"boxed","phase":"sf1","gc_ms":10,"exec":"x"}""")
    Report("/data/sf0.1", "bench_results.json", t01, fleet.map(_ -> 0.1).toMap,
      warmupSec = 12.5, gcMs = 345L, diag, Some(Sf1Report("/data/sf1", t1, fleet.drop(63))))
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet
  private val om = new ObjectMapper()

  test("the compact line fits 1750 chars with 245 entries and keeps the totals") {
    val r = syntheticReport
    val line = compactLine(r)
    assert(line.length <= 1750)
    val j = om.readTree(line)
    assert(j.get("n").asInt == 245)
    assert(j.get("queries").size + j.get("omitted").asInt == 245)
    assert(math.abs(j.get("value").asDouble - r.sf01.best.values.sum) < 0.01)
    assert(j.get("sf1").get("reserve").size == Reserve.size)
  }

  test("both lines carry exactly the parent's keys") {
    val full = om.readTree(fullLine(syntheticReport))
    assert(keys(full) == Set("metric", "value", "unit", "sf", "rerun", "queries",
      "failed", "warmup_ran", "warmup_sec", "gc_ms", "attempts", "final_pass",
      "diag", "sf1"))
    assert(keys(full.get("sf1")) == Set("dir", "total", "queries", "reserve",
      "skipped", "boxed", "failed", "attempts"))
    val compact = om.readTree(compactLine(syntheticReport))
    assert(keys(compact) == Set("metric", "value", "unit", "sf", "n", "rerun",
      "queries", "omitted", "omitted_sec", "failed", "warm", "gc_ms", "over2x",
      "sf1", "detail"))
    assert(keys(compact.get("sf1")) == Set("total", "n", "slowest", "reserve",
      "max_ratio", "skipped", "boxed", "failed"))
    assert(full.get("final_pass").size == 2 && full.get("rerun").size == 2)
    assert(full.get("failed").size == 2)
  }
}
