package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main: times every bench query on
  * SPARK_GRAFT_SF_DIR (sf0.1) and, when SPARK_GRAFT_SF1_DIR holds data
  * (default the repository's `testdata/sf1`, the 10× key-shifted scale-up written
  * by graft.GenScale), on that larger scale factor under a wall budget.
  * Prints ONE compact JSON line to stdout and writes the full artifact to
  * SPARK_GRAFT_BENCH_OUT (default `bench_results.json`).
  *
  * Policy:
  *   - Untimed warm-up: `SparkEntry.entry`, each expression family on a few
  *     hundred rows, then every flagship (frozen sf0.1 time ≥ 3 s) once on
  *     SPARK_GRAFT_WARM_DIR (default sf0.001). JIT warmth is per code path,
  *     not per data size, so no timed line pays for compilation.
  *   - Every run is wall-boxed (SPARK_GRAFT_BENCH_TIMEOUT, default 150 s)
  *     and followed by a gated cache clear. A boxed run has no time; a run
  *     that throws is `failed`. Neither is ever a fast success.
  *   - sf0.1: one [[sweep]] over every bench query, flagships first (most
  *     expensive first, each behind a pre-clear, while the block manager is
  *     empty), the rest by name; then one [[retry]] pass of
  *     [[retrySlice]] seconds.
  *   - sf1: the [[Reserve]] queries first, boxed at the full bench timeout
  *     and never skipped; then a [[sweep]] up to SPARK_GRAFT_SF1_BUDGET
  *     (default 300 s) minus the retry slice, then [[retry]] up to the
  *     budget, then the sweep resumes over what is left (see [[sf1Pass]]).
  *     Queries never reached are listed in `sf1.skipped`.
  *   - [[retry]] reruns every boxed line, then every line over its limit,
  *     worst first: 2× its frozen minimum in SPARK_GRAFT_FREEZE (default
  *     `bench_freeze.json`); with none, 5 s at sf0.1 and 3× this run's sf0.1
  *     time at sf1. One GC and a 2 s settle open the pass, and each retry
  *     runs behind a pre-clear: a back-to-back rerun inherits the pressure
  *     that produced the slow run. A line gets at most [[MaxRetries]]
  *     retries, keeps its minimum, and its attempts go in the artifact.
  *
  * A caller that tail-captures stdout keeps its last 2000 chars, so the
  * compact line fits 1750 chars: totals and failures always, then
  * per-query entries slowest first, the rest summarized as
  * `omitted`/`omitted_sec`.
  */
object Bench {

  /** How one boxed run ended. */
  sealed trait Outcome
  final case class Timed(sec: Double) extends Outcome
  case object Boxed extends Outcome
  case object Failed extends Outcome

  /** What the passes need from the engine (BenchSpec fakes it). */
  trait Runner {
    /** Seconds on a monotonic wall clock. */
    def clock(): Double
    /** One run of `name`, boxed at `box` seconds; a retry pre-clears the
      * SQL cache first. */
    def run(name: String, box: Long, retry: Boolean): Outcome
    /** The full GC and 2 s pause that open a retry pass. */
    def settle(): Unit
  }

  /** One scale factor's measurements: each line's best time and timed
    * attempts, the lines whose every run so far was boxed or crashed, and
    * each line's retry count. */
  final class Tally {
    val best = mutable.LinkedHashMap.empty[String, Double]
    val attempts = mutable.LinkedHashMap.empty[String, List[Double]]
    val boxed = mutable.LinkedHashSet.empty[String]
    val failed = mutable.LinkedHashSet.empty[String]
    val retries = mutable.LinkedHashMap.empty[String, Int]

    def record(n: String, o: Outcome): Unit = o match {
      case Timed(sec) =>
        val t = r3(sec)
        best(n) = best.get(n).fold(t)(math.min(t, _))
        attempts(n) = attempts.getOrElse(n, Nil) :+ t
        boxed -= n
        failed -= n
      case _ if best.contains(n) => ()
      case Boxed => failed -= n; boxed += n
      case Failed => boxed -= n; failed += n
    }

    /** Lines retried at least `k` times. */
    def retried(k: Int): Seq[String] =
      retries.collect { case (n, c) if c >= k => n }.toSeq
  }

  /** The shuffle-heavy sf1 flagships, measured every run: the sf0.1 lines
    * are overhead-bound, so these are where a core-count ratio can show. */
  val Reserve = Seq("q_curation_e2e", "q_pagerank_suppliers",
    "q_tpch_q7_nation_volume", "q_bloom_dedup_gate")
  val MaxRetries = 2

  /** The retry pass's share of a pass budget (sf0.1 has no budget: 60 s). */
  def retrySlice(budget: Double): Double = math.min(60.0, 0.2 * budget)

  /** Times `order` one line at a time while the clock is before `deadline`;
    * returns the lines not reached. */
  def sweep(order: Seq[String], deadline: Double, box: String => Long,
      runner: Runner, tally: Tally): Seq[String] = {
    var left = order
    while (left.nonEmpty && runner.clock() < deadline) {
      tally.record(left.head, runner.run(left.head, box(left.head), retry = false))
      left = left.tail
    }
    left
  }

  /** Lines worth another run: the boxed ones, then each timed line over its
    * `limit`, in descending ratio to it. */
  def retryCandidates(tally: Tally, limit: String => Option[Double]): Seq[String] =
    tally.boxed.toSeq ++ tally.best.toSeq.flatMap { case (n, t) =>
      limit(n).filter(t > _).map(l => n -> t / l)
    }.sortBy(-_._2).map(_._1)

  /** Up to [[MaxRetries]] rounds over the current candidates while the clock
    * is before `deadline`; the pass opens with one settle. */
  def retry(limit: String => Option[Double], deadline: Double,
      box: String => Long, runner: Runner, tally: Tally): Unit =
    if (retryCandidates(tally, limit).nonEmpty && runner.clock() < deadline) {
      runner.settle()
      for (_ <- 1 to MaxRetries; n <- retryCandidates(tally, limit))
        if (runner.clock() < deadline) {
          tally.retries(n) = tally.retries.getOrElse(n, 0) + 1
          tally.record(n, runner.run(n, box(n), retry = true))
        }
    }

  /** The sf1 schedule over the bench `names`: the reserve first at the full
    * `timeout` box with no deadline; then a sweep, lines with no frozen sf1
    * time first by this run's sf0.1 time, then the rest by ascending frozen
    * sf1 time, each boxed near 8× its expected time; then the retry slice;
    * then the sweep resumes. Returns the lines never reached. */
  def sf1Pass(names: Seq[String], frozen1: Map[String, Double],
      sf01: Map[String, Double], budget: Double, timeout: Long,
      runner: Runner, tally: Tally): Seq[String] = {
    val deadline = runner.clock() + budget
    val reserve = Reserve.filter(names.contains)
    val box = (n: String) =>
      if (reserve.contains(n)) timeout
      else math.min(timeout.toDouble, math.max(15.0, frozen1.get(n).map(8 * _)
        .orElse(sf01.get(n).map(b => 10 * (b + 1))).getOrElse(timeout.toDouble))).toLong
    sweep(reserve, Double.PositiveInfinity, box, runner, tally)
    val order = names.filterNot(reserve.contains).sortBy(n =>
      (frozen1.contains(n), frozen1.getOrElse(n, sf01.getOrElse(n, Double.MaxValue)), n))
    val left = sweep(order, deadline - retrySlice(budget), box, runner, tally)
    retry(n => frozen1.get(n).map(2 * _).orElse(sf01.get(n).map(3 * _)),
      deadline, box, runner, tally)
    sweep(left, deadline, box, runner, tally)
  }

  /** Everything the two output lines print. */
  final case class Report(sfDir: String, outPath: String, sf01: Tally,
      frozen01: Map[String, Double], warmupSec: Double, gcMs: Long,
      diag: Seq[String], sf1: Option[Sf1Report])
  final case class Sf1Report(dir: String, tally: Tally, skipped: Seq[String])

  /** The full artifact: every query at both scale factors. `rerun` lists the
    * sf0.1 lines retried at least once, `final_pass` those retried twice. */
  def fullLine(r: Report): String = {
    val t = r.sf01
    val sf1 = r.sf1.fold("") { s =>
      val done = s.tally.best.toSeq.sortBy(_._1)
      s""","sf1":{"dir":"${esc(s.dir)}","total":${r3(done.map(_._2).sum)},""" +
        s""""queries":${qmap(done)},"reserve":${qmap(reserveOf(done))},""" +
        s""""skipped":${arr(s.skipped.sorted)},"boxed":${arr(s.tally.boxed.toSeq)},""" +
        s""""failed":${arr(s.tally.failed.toSeq)},"attempts":${amap(retriedAttempts(s.tally))}}"""
    }
    s"""{"metric":"total","value":${total(t)},"unit":"sec","sf":"${esc(r.sfDir)}",""" +
      s""""rerun":${arr(t.retried(1))},"queries":${qmap(t.best.toSeq)},""" +
      s""""failed":${arr(noTime(t))},"warmup_ran":${r.warmupSec >= 0},""" +
      s""""warmup_sec":${r.warmupSec},"gc_ms":${r.gcMs},""" +
      s""""attempts":${amap(retriedAttempts(t))},"final_pass":${arr(t.retried(2))},""" +
      s""""diag":[${r.diag.mkString(",")}]$sf1}"""
  }

  /** The stdout line, at most `budget` chars: as many sf0.1 entries as fit,
    * slowest first. A kept entry still over 2× its freeze ships its attempts
    * in `over2x`, which therefore shrinks with the entries. */
  def compactLine(r: Report, budget: Int = 1750): String = {
    val t = r.sf01
    val bySlow = t.best.toSeq.sortBy(-_._2)
    val sf1 = r.sf1.fold("") { s =>
      val done = s.tally.best.toSeq.sortBy(_._1)
      val ratios = done.flatMap { case (n, v) =>
        t.best.get(n).filter(_ > 0).map(b => n -> r3(v / b))
      }
      val maxRatio = if (ratios.isEmpty) "" else {
        val (n, x) = ratios.maxBy(_._2)
        s""","max_ratio":{"q":"$n","x":$x}"""
      }
      s""","sf1":{"total":${r3(done.map(_._2).sum)},"n":${done.size},""" +
        s""""slowest":${qmap(done.sortBy(-_._2).take(6))},""" +
        s""""reserve":${qmap(reserveOf(done))}$maxRatio,"skipped":${s.skipped.size},""" +
        s""""boxed":${s.tally.boxed.size},"failed":${arr(s.tally.failed.toSeq)}}"""
    }
    def line(k: Int): String = {
      val (kept, omitted) = bySlow.splitAt(k)
      val om = if (omitted.isEmpty) ""
        else s""","omitted":${omitted.size},"omitted_sec":${r3(omitted.map(_._2).sum)}"""
      val over2x = kept.collect {
        case (n, v) if r.frozen01.get(n).exists(v > 2 * _) =>
          n -> t.attempts.getOrElse(n, List(v))
      }
      val adj = s""","warm":${if (r.warmupSec >= 0) 1 else 0},"gc_ms":${r.gcMs}""" +
        (if (over2x.isEmpty) "" else s""","over2x":${amap(over2x)}""")
      s"""{"metric":"total","value":${total(t)},"unit":"sec","sf":"${esc(r.sfDir)}",""" +
        s""""n":${t.best.size},"rerun":${t.retried(1).size},""" +
        s""""queries":${qmap(kept.sortBy(_._1))}$om,""" +
        s""""failed":${arr(noTime(t))}$adj$sf1,"detail":"${esc(r.outPath)}"}"""
    }
    // largest k whose line fits (k = 0 always emits the totals)
    line((bySlow.size to 0 by -1).find(line(_).length <= budget).getOrElse(0))
  }

  private def total(t: Tally): Double = r3(t.best.values.sum)
  private def noTime(t: Tally): Seq[String] = (t.boxed ++ t.failed).toSeq
  private def reserveOf(done: Seq[(String, Double)]) = done.filter(d => Reserve.contains(d._1))
  private def retriedAttempts(t: Tally): Seq[(String, List[Double])] =
    t.retried(1).map(n => n -> t.attempts.getOrElse(n, Nil))

  /** The `{"name": seconds}` object under `key` in a freeze file; empty on
    * any failure. The freeze is an optimization, never a prerequisite, but
    * a missing one makes every line unfrozen, so say so. */
  private def readFreeze(path: String, key: String): Map[String, Double] =
    try {
      val f = new java.io.File(path)
      if (!f.exists()) {
        System.err.println(s"[bench] note: $path absent — $key treated as empty/unfrozen")
        return Map.empty
      }
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).path(key)
      node.fieldNames().asScala.collect {
        case k if node.get(k).isNumber => k -> node.get(k).asDouble()
      }.toMap
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: failed to parse $path " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}) — $key treated as empty/unfrozen")
      Map.empty
    }

  /** JSON string escaping for env-provided values (paths may contain
    * quotes/backslashes; control chars are dropped). */
  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => ""
    case c => c.toString
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  private def qmap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def arr(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def amap(m: Seq[(String, List[Double])]): String =
    m.map { case (k, vs) => "\"" + k + "\":[" + vs.mkString(",") + "]" }
      .mkString("{", ",", "}")

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    // Stdout belongs to the final JSON line alone: a tail capture keeps
    // only the last 2000 chars, and anything else that reaches the stream (a
    // library printing a stack trace) eats that budget. Everything goes to
    // stderr until the one line is printed to the saved stream. (The
    // log4j2.properties reroute covers log4j; this covers every writer.)
    val realOut = System.out
    System.setOut(System.err)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // Warm-up, untimed: scan + shuffle + codegen through entry(), then the
    // split/transform/sha2/HOF/window and vector families on a few hundred
    // rows (a text query timed cold paid ~5 s of JIT).
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(256).select(col("doc_id"), col("text"), col("lang"))
      val sh = docs.withColumn("toks", split(col("text"), " "))
        .withColumn("shingles", expr(
          """CASE WHEN size(toks) >= 2
                  THEN array_distinct(transform(sequence(0, size(toks) - 2),
                                      i -> concat_ws(' ', slice(toks, i + 1, 2))))
                  ELSE array() END"""))
        .select(col("doc_id"), col("lang"), posexplode(col("shingles")).as(Seq("i", "s")))
        .withColumn("h", sha2(col("s"), 256))
      val rn = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h"))
      sh.groupBy("doc_id").agg(min("h").as("h"), collect_set("s").as("ss"))
        .withColumn("ov", expr("size(array_intersect(ss, ss))"))
        .join(sh.select("doc_id", "lang").distinct(), "doc_id")
        .withColumn("rn", row_number().over(rn)).filter(col("rn") <= 3)
        .count()
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(128)
        .withColumn("vecd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      emb.as("a").crossJoin(broadcast(emb.limit(4).as("b")))
        .withColumn("dot", graft.functions.VectorFunctions.vecDot(
          col("a.vecd"), col("b.vecd")))
        .agg(sum("dot")).collect()
    } catch { case _: Throwable => () }
    graft.plans.CacheHygiene.tryClear(spark, 60)

    // Runs execute on daemon workers so a run hung in Catalyst analysis can
    // be abandoned at its box; the pool spins up a replacement.
    val benchTimeout =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT", "150").toLong
    val benchPool = java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"bench-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    // boxed-kill and abort diagnostics, carried in the full artifact
    val diag = mutable.ListBuffer.empty[String]
    def dumpBenchThreads(qName: String, phase: String): Unit = try {
      System.err.println(s"[bench] BOXED KILL of $qName — gc_total=${gcMs}ms; " +
        "worker stacks:")
      val all = Thread.getAllStackTraces.asScala
      all.filter(_._1.getName.startsWith("bench-")).foreach { case (t, st) =>
        System.err.println(s"  ${t.getName} ${t.getState}:")
        st.take(25).foreach(f => System.err.println(s"    at $f"))
      }
      // one-line census of the executor pool: state + topmost frame
      val exec = all.keys.filter(_.getName.contains("task launch worker"))
      val census = exec.groupBy { t =>
        val st = all(t)
        s"${t.getState}@${if (st.isEmpty) "-" else st.head.getClassName + "." + st.head.getMethodName}"
      }.map { case (k, v) => s"$k x${v.size}" }
      System.err.println(s"  executors: ${census.mkString("; ")}")
      diag += s"""{"q":"${esc(qName)}","kind":"boxed","phase":"${esc(phase)}",""" +
        s""""gc_ms":${gcMs},"exec":"${esc(census.mkString("; ").take(160))}"}"""
    } catch { case _: Throwable => () }
    def timeOnce(q: graft.queries.QueryDef, dir: String, boxSec: Long,
        phase: String): Outcome = {
      // one job group per run: cancelJobGroupAndFutureJobs is sticky per
      // group name, and a query runs again (retry, sf1) after a boxed kill
      val group = s"${q.name}#${runSeq.incrementAndGet()}"
      val fut = benchPool.submit(new java.util.concurrent.Callable[Outcome] {
        // the whole action runs under CacheHygiene's read gate, so the
        // between-query clearCache never overlaps a live cache
        // materialization (the ABBA deadlock — see CacheHygiene)
        def call(): Outcome = graft.plans.CacheHygiene.withQuery {
          spark.sparkContext.setJobGroup(group, q.name, interruptOnCancel = true)
          val t0 = System.nanoTime()
          val ok = try { q.build(spark, dir).count(); true }
            catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.clearJobGroup()
          if (ok) Timed(sec) else Failed
        }
      })
      val res = try fut.get(boxSec, java.util.concurrent.TimeUnit.SECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            // diagnose BEFORE killing, so the artifact says where the run
            // was stuck (GC storm vs lock vs Catalyst hang)
            dumpBenchThreads(q.name, phase)
            spark.sparkContext.cancelJobGroupAndFutureJobs(group)
            fut.cancel(true)
            Boxed
          case e: Throwable =>
            if (e.isInstanceOf[InterruptedException])
              Thread.currentThread().interrupt()
            // an ExecutionException's useful message lives on its cause
            val cause = e match {
              case ee: java.util.concurrent.ExecutionException
                if ee.getCause != null => ee.getCause
              case other => other
            }
            val msg = (cause.getClass.getSimpleName + ": " +
              String.valueOf(cause.getMessage)).take(160)
            System.err.println(
              s"[bench] run of ${q.name} aborted pre-box ($msg)")
            diag += s"""{"q":"${esc(q.name)}","kind":"abort",""" +
              s""""phase":"${esc(phase)}","err":"${esc(msg)}"}"""
            spark.sparkContext.cancelJobGroupAndFutureJobs(group)
            fut.cancel(true)
            Failed
        }
      // gated hygiene: a zombie from a boxed kill usually unwinds within
      // seconds of its cancel; if not, skip the clear (retried at the next
      // boundary) and relieve storage at the BlockManager, which takes no
      // SQL locks
      if (!graft.plans.CacheHygiene.tryClear(spark, 15)) {
        val n = graft.plans.CacheHygiene.emergencyUnpersist(spark)
        System.err.println(s"[bench] clearCache skipped after ${q.name} " +
          s"(zombie in flight) — emergency-unpersisted $n RDDs")
      }
      res
    }
    def preClear(): Unit =
      if (!graft.plans.CacheHygiene.tryClear(spark, 30)) {
        val n = graft.plans.CacheHygiene.emergencyUnpersist(spark)
        System.err.println(s"[bench] pre-clear skipped (zombie in flight)" +
          s" — emergency-unpersisted $n RDDs")
      }

    // the committed per-query minima (ratcheted by scripts/make_freeze.py)
    val freezePath = sys.env.getOrElse("SPARK_GRAFT_FREEZE", "bench_freeze.json")
    val frozen01 = readFreeze(freezePath, "sf01")
    val frozen1 = readFreeze(freezePath, "sf1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")

    // Expensive first: the flagship DAGs measured 2.5× their solo time when
    // ~200 queries of block-manager churn ran before them.
    val benchedAll = graft.queries.Registry.all.filter(_.bench)
    val byName = benchedAll.map(q => q.name -> q).toMap
    val flagNames = benchedAll.map(_.name).filter(n => frozen01.get(n).exists(_ >= 3.0)).toSet
    val benched = benchedAll.map(_.name).filter(flagNames).sortBy(n => (-frozen01(n), n)) ++
      benchedAll.map(_.name).filterNot(flagNames).sorted

    def runner(dir: String, phase: String): Runner = new Runner {
      def clock(): Double = System.nanoTime() / 1e9
      def run(name: String, box: Long, retry: Boolean): Outcome = {
        if (retry || flagNames(name)) preClear()
        val o = timeOnce(byName(name), dir, box, if (retry) s"$phase-retry" else phase)
        if (retry) System.err.println(s"[bench] $phase retry of $name: $o")
        o
      }
      def settle(): Unit = {
        // ContextCleaner frees broadcast/shuffle refs only after a GC has
        // processed their weak refs; its periodic GC is 30 min apart
        System.gc()
        Thread.sleep(2000)
        System.err.println(s"[bench] $phase settle done — gc_total=${gcMs}ms")
      }
    }

    // Flagship warm-up on the tiny dir, in reverse sweep order so the line
    // timed first has the freshest entries in the codegen cache. The 45 s
    // box only keeps a hung warm-up from eating the sweep.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    var warmupSec = -1.0
    if (new java.io.File(warmDir, "lineitem.parquet").exists()) {
      val t0 = System.nanoTime()
      benched.filter(flagNames).reverse
        .foreach(n => timeOnce(byName(n), warmDir, 45L, phase = "warmup"))
      warmupSec = r3((System.nanoTime() - t0) / 1e9)
      System.err.println(f"[bench] flagship warm-up on $warmDir: " +
        f"$warmupSec%.1f s, gc_total=${gcMs}ms")
    } else System.err.println(
      s"[bench] warm dir $warmDir absent — flagship tier runs JIT-cold")
    // settle the warm-up's broadcast/shuffle refs before the timed sweep
    System.gc()

    val r01 = runner(sfDir, "sf01")
    val t01 = new Tally
    sweep(benched, Double.PositiveInfinity, _ => benchTimeout, r01, t01)
    retry(n => Some(frozen01.get(n).fold(5.0)(2 * _)),
      r01.clock() + retrySlice(Double.PositiveInfinity), _ => benchTimeout, r01, t01)

    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/testdata/sf1")
    val sf1Budget = sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "300").toDouble
    val sf1 = if (!new java.io.File(sf1Dir, "lineitem.parquet").exists()) None
      else {
        val reserve = Reserve.filter(byName.contains)
        val unfrozen = reserve.filterNot(frozen1.contains)
        System.err.println(
          f"[bench] sf1 reserve frozen_sf1_s=${reserve.flatMap(frozen1.get).sum}%.3f " +
          s"queries=${reserve.size} " +
          s"unfrozen=${if (unfrozen.isEmpty) "-" else unfrozen.mkString(",")}")
        val r1 = runner(sf1Dir, "sf1")
        r1.settle() // reclaim the sf0.1 sweep's refs before the sf1 pass
        val t1 = new Tally
        val skipped = sf1Pass(benched, frozen1, t01.best.toMap, sf1Budget,
          benchTimeout, r1, t1)
        Some(Sf1Report(sf1Dir, t1, skipped))
      }

    val report = Report(sfDir, outPath, t01, frozen01, warmupSec, gcMs,
      diag.toList, sf1)
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(fullLine(report)) finally w.close()
    } catch { case _: Throwable => () }
    val compact = compactLine(report)

    spark.stop()
    // last line of stdout — the line callers parse
    realOut.println(compact)
    realOut.flush()
    // abandoned timeout threads are daemons, but make exit unconditional
    System.exit(0)
  }
}
