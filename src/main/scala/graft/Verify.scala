package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, Semaphore, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round 8 harness hardening (round-7 postmortem: ONE query with an
  * exponential-lineage plan hung the sequential sweep forever and emptied
  * the round's correctness artifact):
  *   - queries run CONCURRENTLY, `nThreads` at a time (default 8, env
  *     SPARK_GRAFT_VERIFY_THREADS), sharing one SparkSession — Spark's
  *     scheduler interleaves independent jobs fine, and the 230-query
  *     battery drops from ~15 min sequential to well under the driver
  *     budget;
  *   - each query is WALL-CLOCK BOXED (default 180 s, env
  *     SPARK_GRAFT_QUERY_TIMEOUT): on expiry its Spark job group is
  *     cancelled and the sweep moves on, so a planning/runaway bug costs
  *     one query line, not the round's artifacts.
  *
  * Round 9 (closing round 8's residual): concurrency is bounded by a
  * SEMAPHORE over an unbounded daemon pool, not by pool width. A query
  * hung in Catalyst ANALYSIS has no Spark jobs to cancel and ignores
  * interrupts — under the old fixed pool it permanently occupied one of
  * the 8 slots (8 such bugs would wedge a round). Now, if the slot is
  * still occupied one more timeout after cancellation (2× total), the
  * watchdog logs the query and releases a replacement permit: the zombie
  * thread keeps spinning harmlessly (daemon — can't block JVM exit) and
  * the sweep keeps its full width. VerifySpec certifies the reclaim.
  */
object Verify {

  private def daemonFactory(prefix: String) = new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.getAndIncrement()}")
      t.setDaemon(true)
      t
    }
  }

  /** Run every (name, builder) through the bounded concurrent sweep,
    * writing each result to `outDir/<name>` parquet. Returns per-query
    * status: "ok" | "timeout" | "error: …". Exposed for VerifySpec. */
  def runSweep(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String,
      nThreads: Int, timeoutSec: Long): Seq[(String, String)] = {
    val pool = Executors.newCachedThreadPool(daemonFactory("verify"))
    val sched = Executors.newSingleThreadScheduledExecutor(daemonFactory("verify-watchdog"))
    val permits = new Semaphore(nThreads)
    val done = new AtomicInteger(0)
    val tasks = queries.map { case (name, fn) =>
      // `released` guards the permit: exactly one of {task finally,
      // watchdog reclaim} returns it (CAS), so a recovered zombie can
      // never double-release
      val released = new AtomicBoolean(false)
      val startNanos = new java.util.concurrent.atomic.AtomicLong(0L)
      val fut = pool.submit(new Runnable {
        def run(): Unit = {
          permits.acquire() // outside try: an interrupt while queued must
                            // not release a permit this task never held
          startNanos.set(System.nanoTime())
          try {
            // the action runs under CacheHygiene's read gate so the
            // periodic clearCache below can never overlap a live cache
            // materialization (the round-10 Bench ABBA deadlock: a
            // cancelled worker inside buildBuffers holds the builder
            // monitor and calls back into the CacheManager, while
            // clearCache takes the same two monitors in opposite order)
            graft.plans.CacheHygiene.withQuery {
              // job group = query name, so the watchdog can cancel exactly
              // this query's jobs on timeout (setJobGroup is thread-local)
              spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
              // repartition(1), NOT coalesce(1): coalesce propagates the
              // 1-task constraint upstream through every narrow stage, so a
              // query whose heavy compute sits after its last shuffle runs
              // single-threaded (q_ngram_jaccard_blocked: 2s parallel →
              // timeout). repartition shuffles only the final small result
              // into the one output file.
              try {
                val df = fn(spark, sfDir)
                // a zombie that wakes AFTER the watchdog reclaimed its slot
                // must not write output for a query already reported
                // `timeout` (round-9 advisor: it would race the sweep — and
                // the downstream DuckDB read — at width nThreads+1); the
                // job-group cancellation below also covers the window
                // between cancel and reclaim
                if (!released.get())
                  df.repartition(1).write.mode("overwrite")
                    .parquet(s"$outDir/$name")
              } finally spark.sparkContext.clearJobGroup()
            }
          } finally {
            // builders persist intermediates they can't always unpersist
            // (they never see their last action); periodic sweeps bound
            // the leak without thrashing peers' in-flight caches. Outside
            // the read gate (a reader cannot upgrade to the write lock);
            // with peers usually in flight the gated clear mostly skips,
            // so ALSO relieve pressure at the BlockManager, which takes
            // no SQL locks and is safe concurrent with anything.
            // In the FINALLY (round-10 advisor): a query that throws or is
            // cancelled must still advance the sweep cadence — degraded
            // runs (failure bursts) are exactly the ones that leak most,
            // and a counter gated on success would stall the sweep then.
            // r16 (verdict #7): 2 s was never enough for the write lock
            // under 8 always-occupied read slots (the non-fair lock also
            // let new readers barge past the waiting writer), so the
            // deterministic clear ~never ran and the emergency
            // BlockManager unpersist fired instead — 3× per sweep in the
            // r15 driver log. With CacheHygiene's lock now FAIR, the
            // boundary is a deliberate drain point: new readers queue
            // behind the waiting writer, so the wait is bounded by the
            // slowest in-flight query (q_bpe_train_k's ~20 s driver-floor
            // loop at sf0.01 outlived a first-cut 15 s window — hence
            // 45 s, still ≪ the 180 s query timeout). The emergency path
            // remains as the true-zombie fallback.
            // One structured line per boundary: how long the drain
            // waited for the write lock, whether it cleared, and how many
            // RDDs the emergency path unpersisted when it did not.
            val k = done.incrementAndGet()
            if (k % 32 == 0) {
              val t0 = System.nanoTime()
              val cleared = graft.plans.CacheHygiene.tryClear(spark, 45)
              val waitedMs = (System.nanoTime() - t0) / 1000000
              val n = if (cleared) 0 else graft.plans.CacheHygiene.emergencyUnpersist(spark)
              System.err.println(s"[verify] drain n=$k waited_ms=$waitedMs " +
                s"cleared=$cleared emergency_unpersisted=$n")
            }
            if (released.compareAndSet(false, true)) permits.release()
          }
        }
      })
      (name, fut, released, startNanos)
    }
    // The run budget (`timeoutSec`) is measured from the task's ACTUAL
    // start, not the waiter's arrival — a task whose clock expired while
    // it sat queued behind a hung slot must not be cancelled un-run (that
    // would waste exactly the permit the watchdog reclaimed for it).
    // Queue wait gets its own, laxer cap (3× timeout from waiter arrival:
    // by then every reclaim for the slots ahead of it has fired).
    val statuses = tasks.map { case (name, fut, released, startNanos) =>
      val arrival = System.nanoTime()
      def secsSince(t0: Long) = (System.nanoTime() - t0) / 1e9
      var status: String = null
      while (status == null) {
        try { fut.get(1, TimeUnit.SECONDS); status = "ok" }
        catch {
          case _: TimeoutException =>
            val started = startNanos.get()
            if (started != 0L && secsSince(started) > timeoutSec) {
              // AndFutureJobs (round-9 advisor): a plain cancelJobGroup
              // only kills jobs active AT CANCEL TIME — an analysis-hung
              // zombie that wakes later would launch NEW jobs in the
              // 'cancelled' group and overwrite output for a query
              // reported timeout. The sticky cancellation makes any such
              // job fail at submit.
              spark.sparkContext.cancelJobGroupAndFutureJobs(name)
              fut.cancel(true)
              // drop any partial/complete output the timed-out query got
              // out before cancellation — a timeout row must not carry a
              // parquet dir the DuckDB compare could read as a result
              try {
                def rm(f: java.io.File): Unit = {
                  if (f.isDirectory) f.listFiles().foreach(rm)
                  f.delete()
                }
                rm(new java.io.File(s"$outDir/$name"))
              } catch { case _: Throwable => () }
              // analysis-hang fallback: if cancellation+interrupt didn't
              // free the slot within one more timeout (2× total), reclaim
              // it so the pool keeps its full width
              sched.schedule(new Runnable {
                def run(): Unit =
                  if (released.compareAndSet(false, true)) {
                    System.err.println(
                      s"[verify] $name HUNG — slot reclaimed after ${2 * timeoutSec}s")
                    permits.release()
                  }
              }, timeoutSec, TimeUnit.SECONDS)
              System.err.println(s"[verify] $name failed: TIMEOUT after ${timeoutSec}s")
              status = "timeout"
            } else if (started == 0L && secsSince(arrival) > 3 * timeoutSec) {
              fut.cancel(true) // never started → never held a permit
              System.err.println(s"[verify] $name failed: QUEUED past ${3 * timeoutSec}s")
              status = "timeout"
            } // else: queued or within budget — keep waiting
          case e: Throwable =>
            val msg = Option(e.getCause).getOrElse(e).getMessage
            System.err.println(s"[verify] $name failed: $msg")
            status = s"error: $msg"
        }
      }
      (name, status)
    }
    sched.shutdown()
    statuses
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump only those
    // (targeted re-gating after a fix; the driver always runs all)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()

    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "180").toLong
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    runSweep(spark, queries, sfDir, outDir, nThreads, timeoutSec)

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a permanently hung slot is a daemon thread; force a clean exit code
    System.exit(0)
  }
}
