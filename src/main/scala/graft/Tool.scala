package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.{Cached, QueryDef, Registry}
import graft.streaming.StreamHolt
import graft.streaming.StreamHolt.DailyPoint

/** The dev tools, one command each:
  * `sbt "runMain graft.Tool <command> <arg...>"`.
  *
  * {{{
  *   time <sfDir> <query...>              one timed run per name
  *   ab <sfDir> <reps> <query...>         pins on vs off, interleaved
  *   stages <sfDir> <query...>            per-stage profile of each run
  *   spill <sfDir> <query...>             spill certification (small heap)
  *   statescale [nKeys delta nBatches]    streaming state-scale probe
  *   genskew [srcDir dstDir]              skewed-key variant of an SF dir
  *   plans <sfDir> <outFile>              headline plans as markdown
  *   plans <sfDir> <outDir> <suffix> <query...>   one plan file per query
  * }}}
  *
  * Each command takes the session as a parameter; only `main` builds one
  * (through [[Session.local]]) and stops it. Query names are checked
  * before anything runs. The four timing commands share [[eachRun]] and
  * with it one failure policy: a failed run prints its status, the rest
  * still run, and the process exits 1.
  */
object Tool {

  private final case class Command(
      run: (SparkSession, Seq[String]) => Boolean,
      confs: Seq[(String, String)] = Nil)

  private lazy val commands: Map[String, Command] = Map(
    "time" -> Command(time),
    "ab" -> Command(ab),
    "stages" -> Command(stages),
    "spill" -> Command(spill, spillConfs),
    "statescale" -> Command(stateScale, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")),
    "genskew" -> Command(genSkew),
    "plans" -> Command(plans))

  private def command(name: String): Command = commands.getOrElse(name,
    throw new IllegalArgumentException(s"unknown command '$name' " +
      s"(one of: ${commands.keys.toSeq.sorted.mkString(", ")})"))

  def main(args: Array[String]): Unit = {
    val cmd = command(args.headOption.getOrElse(""))
    val spark = Session.local(extra = cmd.confs)
    val ok = try cmd.run(spark, args.toSeq.drop(1)) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Run one command line (the command's name first) on `spark`; false
    * when any query failed. */
  def run(spark: SparkSession, args: Seq[String]): Boolean =
    command(args.headOption.getOrElse("")).run(spark, args.drop(1))

  /** Each name's query; one error names every unknown name. */
  private def resolve(names: Seq[String]): Seq[QueryDef] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(byName)
  }

  /** One timed run of query `name`, built under Cached.posturePlan when
    * `posture`; `label` goes into the command's output line. */
  private final case class Run(name: String, posture: Boolean = false,
      label: String = "")

  /** The timing commands' loop. Every name is resolved first, then one
    * untimed JIT/scan warm-up runs (same rationale as Bench) and every
    * table under `dir` is loaded once ([[warmTables]]). Per run: the
    * listener bus is drained and `reset` called, one build + count is
    * timed, the bus is drained again, `report` gets the seconds and the
    * status, and the SQL cache is cleared. Listener events post
    * asynchronously: without the first drain the warm-up's stage events
    * land on the first run, without the second a listener misses the
    * run's last stages. The status is "ok", "OOM: …" or "error: <class>";
    * a failed run is printed and the loop goes on. */
  private def eachRun(spark: SparkSession, dir: String, runs: Seq[Run],
      reset: () => Unit = () => ())(
      report: (Run, Double, String) => Unit): Boolean = {
    val queries = resolve(runs.map(_.name))
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try warmTables(spark, dir) catch { case _: Throwable => () }
    spark.catalog.clearCache()
    runs.zip(queries).map { case (run, q) =>
      drain(spark)
      reset()
      val t0 = System.nanoTime()
      val status =
        try {
          if (run.posture) Cached.posturePlan(q.build(spark, dir).count())
          else q.build(spark, dir).count()
          "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[tool] ${run.name} failed: " +
            Option(e.getCause).getOrElse(e))
          failure(e)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      drain(spark)
      report(run, sec, status)
      spark.catalog.clearCache()
      status == "ok"
    }.forall(identity)
  }

  /** Load every `<name>.parquet` table under `dir` once, so that each
    * table's one-time schema inference ([[Tables.load]]'s memo) is paid
    * here and not by the first timed query that reads it. `events` goes
    * first: its loader sets the parquet conf that is part of the memo key. */
  private def warmTables(spark: SparkSession, dir: String): Unit = {
    val tables = Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    if (tables.contains("events")) Tables.events(spark, dir)
    tables.filterNot(_ == "events").foreach(Tables.load(spark, dir, _))
  }

  private def failure(e: Throwable): String = {
    val root = e match {
      case o: OutOfMemoryError => o
      case _ => Option(e.getCause).getOrElse(e)
    }
    root match {
      case o: OutOfMemoryError => s"OOM: ${o.getMessage}"
      case r => s"error: ${r.getClass.getSimpleName}"
    }
  }

  private def drain(spark: SparkSession): Unit =
    try ListenerBusDrain.drain(spark.sparkContext, 30000)
    catch { case _: Throwable => () }

  /** Run `body` with `f` called on every completed stage. */
  private def withStages[T](spark: SparkSession)(f: StageInfo => Unit)(
      body: => T): T = {
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        f(s.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `time <sfDir> <query...>`: Bench's methodology on a named subset, in
    * order; repeat a name for warm-run numbers (the first run carries 1-2 s
    * of JIT). */
  private def time(spark: SparkSession, args: Seq[String]): Boolean =
    eachRun(spark, args.head, args.tail.map(Run(_))) { (run, sec, status) =>
      if (status == "ok") println(f"[benchone] ${run.name} $sec%.2f s")
    }

  /** `ab <sfDir> <reps> <query...>`: each query with its builder pins
    * active vs disabled (Cached.posturePlan — persists stay, PlanPin off),
    * interleaved in ONE JVM so host drift hits both arms equally. */
  private def ab(spark: SparkSession, args: Seq[String]): Boolean = {
    val Seq(dir, reps, names @ _*) = args
    val runs = for (r <- 1 to reps.toInt; n <- names;
        // arms ALTERNATE first position per rep: the first cut of this
        // probe ran the pin arm first every rep, and three pinless
        // control queries read 15-30% "pin losses" — pure ordering
        // artifact (the first arm inherits the previous query's GC debt)
        mode <- if (r % 2 == 1) Seq("pin", "nopin") else Seq("nopin", "pin"))
      yield Run(n, posture = mode == "nopin", label = f"$mode%-6s rep$r")
    eachRun(spark, dir, runs) { (run, sec, status) =>
      if (status == "ok") println(f"[ab] ${run.name}%-28s ${run.label} $sec%.2f s")
    }
  }

  private final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
      inMb: Long, shReadMb: Long, shWriteMb: Long, spillMb: Long, gcMs: Long)

  /** `stages <sfDir> <query...>`: each completed stage's wall time, task
    * count and I/O volumes per run — for finding WHERE a decade-up
    * regression lives when `explain` shows the intended plan (a plan-shape
    * diff and a runtime diff don't always co-locate; round 11's
    * q_bm25_topk was 20× up at sf10 with a plan isomorphic to its
    * warm-fast ndcg twin). */
  private def stages(spark: SparkSession, args: Seq[String]): Boolean = {
    val done = mutable.ArrayBuffer.empty[Stage]
    withStages(spark) { i =>
      val m = i.taskMetrics
      val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
        .getOrElse(-1L)
      done.synchronized {
        done += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(90), ms,
          i.numTasks, m.inputMetrics.bytesRead / 1048576,
          m.shuffleReadMetrics.remoteBytesRead / 1048576 +
            m.shuffleReadMetrics.localBytesRead / 1048576,
          m.shuffleWriteMetrics.bytesWritten / 1048576,
          m.memoryBytesSpilled / 1048576,
          // summed ACROSS tasks — at 32 concurrent tasks a shared GC
          // pause bills every running task, so gc ≈ 32× wall during a
          // storm; the point is attribution (gc-dominated vs not),
          // not wall accounting
          m.jvmGCTime)
      }
    } {
      eachRun(spark, args.head, args.tail.map(Run(_)),
          () => done.synchronized(done.clear())) { (run, sec, _) =>
        println(f"==== ${run.name} $sec%.2f s ====")
        done.synchronized {
          done.sortBy(-_.ms).take(12).foreach { s =>
            println(f"  stage ${s.id}%4d ${s.ms}%7d ms ${s.tasks}%4d tasks " +
              f"in=${s.inMb}%5d MB shR=${s.shReadMb}%5d shW=${s.shWriteMb}%5d " +
              f"spill=${s.spillMb}%5d gc=${s.gcMs}%6d ms  ${s.name}")
          }
        }
      }
    }
  }

  // Partition sizing is PART OF what `spill` certifies. A small heap
  // demands per-task working sets sized to it — the same two knobs a
  // real memory-constrained cluster sets, applied here instead of the
  // bench default (shuffle.partitions = cores, maxPartitionBytes 128m):
  //   - shuffle partitions at 8× cores, so a reduce-side sort/agg holds
  //     1/64th of the shuffle, not 1/8th;
  //   - scan splits at 32 MB of PARQUET, because decoded size is what
  //     hits memory: a 128 MB split of delta-encoded int64 columns
  //     decodes to >30M rows, and the map-side shuffle sorter's pointer
  //     array for such a task is a single ~268 MB long[] — a humongous
  //     allocation that OOMs a 4g G1 heap before the (accounted) pool
  //     would have told it to spill. Measured: q_kcore_peel at sf10/4g
  //     OOMs under the default sizing, spills green under this one.
  // AQE coalesces post-shuffle partitions by COMPRESSED shuffle bytes;
  // two sorted-long columns lz4 to ~2 bytes/row, so the default 64 MB
  // advisory size re-merges the 64 partitions above into tasks of >30M
  // decoded rows — the same humongous pointer array, now built by the
  // coalesced reader (measured: q_pagerank_suppliers OOMed exactly
  // there). 16 MB advisory keeps the decoded working set heap-sized;
  // on a real small-executor cluster this is the standard knob.
  private val SpillShufflePerCore = 8
  private val SpillMaxPartBytes = 32L << 20
  private val SpillAdvisoryBytes = 16L << 20

  private def spillConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> (Session.cpus * SpillShufflePerCore).toString,
    "spark.sql.files.maxPartitionBytes" -> SpillMaxPartBytes.toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> SpillAdvisoryBytes.toString)

  /** `spill <sfDir> <query...>` (round-11 verdict #5): run the
    * shuffle-heavy queries under a DELIBERATELY small heap and prove the
    * plans SPILL instead of OOM-ing. A 128 GiB development heap has never
    * been the binding constraint; a real cluster's per-executor memory (a few GiB
    * per task slot) will be — a plan that only completes because execution
    * memory happened to be abundant is not a 100 TB plan.
    *
    * Run as `SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 sbt "runMain graft.Tool
    * spill …"`: the heap bound comes from the forked JVM's -Xmx (build.sbt
    * wires SPARK_DRIVER_MEM into javaOptions); this command just reports
    * it. Per query it reports wall seconds plus the executor task metrics
    * that certify the memory behavior: unified-memory spill
    * (memoryBytesSpilled — bytes that left execution memory for the spill
    * path), disk spill (diskBytesSpilled — what actually hit disk after
    * compression), and peak execution memory across tasks. A query that
    * finishes with nonzero spill under the small heap is CERTIFIED
    * spill-safe: Spark's sort/aggregate/join operators degraded to their
    * external (disk) variants instead of dying. A query with zero spill
    * that still finishes simply fit — also fine, reported as such.
    *
    * Output: one `[spill] …` line per query on stderr, and a final
    * single-line JSON summary on stdout. */
  private def spill(spark: SparkSession, args: Seq[String]): Boolean = {
    val memSpill = new AtomicLong(0L)
    val diskSpill = new AtomicLong(0L)
    val peakExec = new AtomicLong(0L)
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    System.err.println(s"[spill] heap=${heapMb}MB threads=${Session.cpus} sf=${args.head}")
    def mb(b: Long): Long = b / (1024 * 1024)
    val rows = mutable.ArrayBuffer.empty[String]
    var ooms = 0
    val ok = withStages(spark) { i =>
      val m = i.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakExec.getAndAccumulate(m.peakExecutionMemory, math.max)
      }
    } {
      eachRun(spark, args.head, args.tail.map(Run(_)),
          () => Seq(memSpill, diskSpill, peakExec).foreach(_.set(0))) {
          (run, sec, status) =>
        val s = math.rint(sec * 1e3) / 1e3
        val (ms, ds, pk) = (mb(memSpill.get), mb(diskSpill.get), mb(peakExec.get))
        if (status.startsWith("OOM")) ooms += 1
        System.err.println(s"[spill] ${run.name} $status ${s}s " +
          s"mem_spill=${ms}MB disk_spill=${ds}MB peak_exec=${pk}MB")
        rows += s""""${run.name}":{"status":"$status","sec":$s,""" +
          s""""mem_spill_mb":$ms,"disk_spill_mb":$ds,"peak_exec_mb":$pk}"""
      }
    }
    println(s"""{"probe":"spill","heap_mb":$heapMb,"threads":${Session.cpus},""" +
      s""""sf":"${args.head}","ooms":$ooms,"queries":${rows.mkString("{", ",", "}")}}""")
    ok
  }

  /** `statescale [nKeys delta nDeltaBatches]` (round-11 verdict #8; defaults
    * 1,000,000 keys, 10,000-key deltas, 5 delta batches): drive the
    * transformWithState Holt smoother with a large key population and
    * certify, from the engine's own StateOperatorProgress metrics, that a
    * micro-batch's cost is proportional to the keys IN THE BATCH — not to
    * the total keys in the store. That is the property that makes
    * per-entity streaming state (metric series, session state, sketch
    * maintenance) viable at the 100 TB design point, where the store holds
    * hundreds of millions of keys but any one batch touches a sliver: a
    * state operator that swept its full store per batch would turn every
    * micro-batch into a full-table job.
    *
    * Method: batch 0 seeds N keys (one observation each); each following
    * batch advances a disjoint slice of `delta` keys one day. Per batch we
    * record wall seconds plus `numRowsUpdated` / `numRowsTotal` from
    * `StreamingQueryProgress.stateOperators` (the RocksDB provider also
    * reports its SST footprint in customMetrics). PASS = every delta batch
    * has numRowsUpdated == delta while numRowsTotal stays N, and delta
    * batch wall time does not grow with N (compare runs at two N). */
  private def stateScale(spark: SparkSession, args: Seq[String]): Boolean = {
    val nKeys = args.lift(0).fold(1000000)(_.toInt)
    val delta = args.lift(1).fold(10000)(_.toInt)
    val nDelta = args.lift(2).fold(5)(_.toInt)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // deterministic synthetic series: key k, day d -> cents from a fixed
    // affine form (values are irrelevant to the scale question; the
    // recurrence itself is certified by StreamHoltSpec)
    def obs(k: Int, day: Long): DailyPoint =
      DailyPoint(f"k$k%07d", day, 1000L + (k % 97) * 3L + day * 5L)

    val input = MemoryStream[DailyPoint]
    val q = StreamHolt.smoothed(input.toDS())
      .writeStream.format("noop").outputMode("append").start()
    val lines = Array.newBuilder[String]
    def runBatch(label: String, pts: Seq[DailyPoint]): Unit = {
      val t0 = System.nanoTime()
      input.addData(pts)
      q.processAllAvailable()
      val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      val so = q.lastProgress.stateOperators
      val (upd, tot, mem) =
        if (so.isEmpty) (-1L, -1L, -1L)
        else (so(0).numRowsUpdated, so(0).numRowsTotal,
          so(0).memoryUsedBytes)
      System.err.println(s"[state] $label n=${pts.size} ${sec}s " +
        s"updated=$upd total=$tot state_mb=${mem / 1024 / 1024}")
      lines += s"""{"batch":"$label","rows":${pts.size},"sec":$sec,""" +
        s""""updated":$upd,"total":$tot,"state_bytes":$mem}"""
    }

    runBatch("seed", (0 until nKeys).map(obs(_, 0L)))
    (1 to nDelta).foreach { b =>
      val lo = (b - 1) * delta % nKeys
      // wrap every index into [0, nKeys): an unwrapped `lo until lo+delta`
      // runs past nKeys when delta does not divide nKeys, silently seeding
      // NEW keys mid-run and breaking the probe's own "numRowsTotal stays
      // N" pass criterion (round-11 advisor)
      runBatch(s"delta$b", (lo until lo + delta).map(i => obs(i % nKeys, b.toLong)))
    }
    q.stop()
    println(s"""{"probe":"state_scale","keys":$nKeys,"delta":$delta,""" +
      s""""batches":[${lines.result().mkString(",")}]}""")
    true
  }

  /** `genskew [srcDir dstDir]` (defaults testdata/sf1 → testdata/sf1skew,
    * relative to the working directory): a deterministic SKEWED-KEY variant
    * of a generated SF dir (round-9 verdict stretch #6: the salting
    * machinery had only ever been proven on uniform data). Events get two
    * hot keys:
    *   - event_type: every even event_id is re-labeled 'purchase' → the hot
    *     type owns ~60% of the fact table (5 uniform types before);
    *   - user_id: event_id ≡ 1 (mod 4) is re-assigned to user 1 → one hot
    *     user owns ~25% of events.
    * Round 14 (verdict #7) adds a GRAPH HUB: lineitem rows with
    * l_orderkey ≡ 1 (mod 4) are re-assigned to supplier 1, so one supplier
    * node in the customer–supplier purchase graph carries ~25% of all
    * edges — the hub-degree skew that IterScale's partition-count scaling
    * does NOT fix (only per-round shuffle balance does), exercised by
    * q_pagerank_suppliers on this variant.
    * All re-labelings are pure projections of existing key columns, so the
    * variant is bit-reproducible and the DuckDB oracle replays the same
    * data. All other tables are rewritten unchanged. */
  private def genSkew(spark: SparkSession, args: Seq[String]): Boolean = {
    val src = args.lift(0).getOrElse("testdata/sf1")
    val dst = args.lift(1).getOrElse("testdata/sf1skew")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out = if (t == "events") {
        df.withColumn("event_type",
            when(pmod(col("event_id"), lit(2)) === 0, lit("purchase"))
              .otherwise(col("event_type")))
          .withColumn("user_id",
            when(pmod(col("event_id"), lit(4)) === 1, lit(1L))
              .otherwise(col("user_id")))
      } else if (t == "lineitem") {
        df.withColumn("l_suppkey",
          when(pmod(col("l_orderkey"), lit(4)) === 1, lit(1L))
            .otherwise(col("l_suppkey")))
      } else df
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"  wrote $dst/$t.parquet")
    }
    true
  }

  /** The formatted plan of each spec, in order: by default the
    * audit-transparent plan (Cached.auditPlan — full composed lineage,
    * nothing persisted or executed), the view plan-size claims are
    * measured against; for `raw:<query>` the plan exactly as the timed
    * runner executes it (pins visible as `Scan ExistingRDD`; building it
    * materializes the pinned frames, as the timed path does). */
  private def renderPlans(spark: SparkSession, dir: String, specs: Seq[String])(
      out: (String, String) => Unit): Unit = {
    val queries = resolve(specs.map(_.stripPrefix("raw:")))
    specs.zip(queries).foreach { case (spec, q) =>
      def fmt = q.build(spark, dir).queryExecution.explainString(FormattedMode)
      out(q.name, if (spec.startsWith("raw:")) fmt else Cached.auditPlan(fmt))
      spark.catalog.clearCache()
    }
  }

  /** `plans <sfDir> <outFile>`: the [[Headline]] queries' plans as one
    * markdown artifact (docs/PLANS.md), so plan posture is reviewable
    * without running Spark. `plans <sfDir> <outDir> <suffix> <query...>`:
    * one `<outDir>/<query>_<suffix>.txt` per name (prefix `raw:` for the
    * executed plan) — the before/after plan evidence committed under
    * `plans/`; names are explicit so an evidence set is deliberate. */
  private def plans(spark: SparkSession, args: Seq[String]): Boolean = {
    args match {
      case Seq(dir, outFile) =>
        val sb = new StringBuilder
        sb.append("# Physical plans (generated by `graft.Tool plans` — do not hand-edit)\n\n")
        sb.append(s"Source: `$dir`. Things to check in every plan: `PushedFilters`\n")
        sb.append("and a narrow `ReadSchema` at the scan, `BroadcastHashJoin` for dim\n")
        sb.append("joins, map-side `partial_` aggregates before each exchange, wide\n")
        sb.append("`WholeStageCodegen` spans, and no `CartesianProduct`/UDF nodes\n")
        sb.append("(asserted suite-wide by PlanSpec).\n")
        renderPlans(spark, dir, Headline) { (name, plan) =>
          sb.append(s"\n## $name\n\n")
          Notes.get(name).foreach(n => sb.append(s"$n\n\n"))
          sb.append(s"```\n$plan```\n")
        }
        Files.writeString(Paths.get(outFile), sb.toString)
      case Seq(dir, outDir, suffix, specs @ _*) =>
        renderPlans(spark, dir, specs) { (name, plan) =>
          val f = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.createDirectories(f.getParent)
          Files.writeString(f, plan)
          System.err.println(s"[plans] wrote $f (${plan.length} chars)")
        }
    }
    true
  }

  private val Headline = Seq(
    "q_pricing_summary", "q_filtered_revenue", "q_shipping_priority",
    "q_composite_scores", "q_full_scores", "q_minhash_lsh_neardup",
    "q_simhash_hamming", "q_ann_ivf", "q_tfidf_top_terms",
    "q_orders_keyset_page", "q_weighted_sample",
    "q_approx_quantile_bounds", "q_sliding_spend_30d",
    "q_click_attribution", "q_salted_skew_join", "q_grouping_sets",
    "q_cms_heavy_hitters", "q_fuzzy_neardup_join", "q_zorder_quadrants",
    "q_pagerank_suppliers", "q_table_profile", "q_mad_outliers",
    "q_nation_revenue_share", "q_vocab_encode", "q_kmv_native_agg",
    "q_skew_profile", "q_ewma_value", "q_bloom_dedup_gate",
    "q_cross_dup_mass", "q_asof_native", "q_lang_quality_gate",
    "q_twap_value", "q_interval_coverage", "q_sketch_rollup",
    "q_ohlc_bars", "q_benford_audit", "q_serving_results",
    "q_ingest_pipeline_e2e", "q_bm25_topk", "q_semdedup",
    "q_dsir_importance", "q_hybrid_rrf", "q_perplexity_buckets",
    "q_cdc_chunk_dedup", "q_temperature_mix", "q_curation_funnel",
    "q_asof_tolerance", "q_entity_resolution_jw", "q_bfs_levels",
    "q_incremental_postings", "q_kn_bigram_logprob", "q_quality_classifier",
    "q_sq8_adc", "q_kcore_peel",
    "q_ks_two_sample", "q_mannwhitney_u", "q_gini_spend",
    "q_cusum_changepoint", "q_sssp_delay", "q_hits_rank",
    "q_textrank_keywords", "q_nb_lang_classify", "q_jl_projection",
    "q_link_prediction", "q_skyline_parts", "q_cuped_ab", "q_survival_km",
    "q_pq_adc", "q_knn_classify", "q_roc_auc", "q_dau_wau_mau",
    "q_minhash_recall", "q_shapley_attribution", "q_power_law_fit",
    "q_winsorized_mean", "q_running_anomaly_flags",
    // round 7-8: correlated-subquery decorrelations + iterative MM +
    // sketch rollup + incremental index fold
    "q_tpch_q2_min_cost_supp", "q_tpch_q4_late_exists",
    "q_tpch_q16_supplier_census", "q_tpch_q18_large_orders",
    "q_tpch_q19_disjunctive_rev", "q_tpch_q21_waiting_supplier",
    "q_bradley_terry", "q_hll_sketch_rollup", "q_incremental_lsh",
    // round 10: trend/governance family + the Expand-free
    // certified HLL profiler + one-pass grouped histogram quantiles
    "q_holt_linear", "q_theil_sen", "q_k_anonymity", "q_centroid_drift",
    "q_mann_kendall", "q_good_turing",
    "q_table_profile_hll", "q_rfm_scores")

  /** Per-query caveats appended under the dump — where the printable
    * (audit-transparent) plan differs from what executes. */
  private val Notes: Map[String, String] = {
    val cachedNote =
      "NOTE: this is the audit-transparent plan (Cached.auditPlan). At " +
        "runtime the builder persists and MATERIALIZES the shared " +
        "intermediate before the consuming job, so subtrees shown here " +
        "more than once execute ONCE and the other consumers read the " +
        "InMemoryRelation; the builder unpersists in finally " +
        "(graft.queries.Cached.withPinned — r15: consumers additionally " +
        "build on one-node LogicalRDD pins over the cache, so the " +
        "duplicated subtrees shown here are not even re-ANALYZED at " +
        "runtime; see org.apache.spark.sql.graft.PlanPin)."
    Map(
      "q_bloom_dedup_gate" -> (cachedNote +
        " Concretely: the TWO ObjectHashAggregate bloom-build subtrees " +
        "below are one 1-row cached build at runtime — filterDf.count() " +
        "runs first, both BroadcastExchanges then consume the cache."),
      "q_minhash_lsh_neardup" -> cachedNote,
      "q_simhash_hamming" -> cachedNote,
      "q_ingest_pipeline_e2e" -> cachedNote)
  }
}
