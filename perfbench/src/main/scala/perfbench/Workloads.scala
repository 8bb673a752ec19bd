package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IngestPipeline
import graft.plans.CacheHygiene
import graft.queries.{QueryDef, Registry}
import graft.scoring.ScorePipeline
import graft.serve.Views
import graft.sources.Compact

private object Hygiene {
  /** The engine's between-query cache reset, as its sweep runners do it. */
  def clear(spark: SparkSession, tracer: Tracer): Unit =
    tracer.span("clearCache") {
      require(CacheHygiene.tryClear(spark, 60), "clearCache could not take the cache gate")
    }
}

/** `score`: one `ScorePipeline.fullScores` pass over the generated
  * `events`, persisted and counted in full, then the top-100
  * `Views.leaderboard` read from it. */
final class ScoreWorkload(spark: SparkSession, dir: String, outDir: String) extends Workload {
  private def pass(tracer: Tracer): (Long, String) = {
    val scores = tracer.span("build")(ScorePipeline.fullScores(spark, dir))
    val out = tracer.span("action") {
      val p = scores.persist()
      val n = p.count()
      val top = Views.leaderboard(p, "final_score", "entity_id", 100).collect()
      (n, top.map(r => s"${r.getAs[Long]("entity_id")}:${r.getAs[Double]("final_score")}")
        .mkString(",").hashCode.toHexString)
    }
    Hygiene.clear(spark, tracer)
    out
  }

  def warm(): Unit = pass(new Tracer(spark, false))

  def op(i: Int, tracer: Tracer): Map[String, Any] = {
    val (rows, top) = tracer.span("score", i)(pass(tracer))
    Map("rows" -> rows, "leaderboard" -> top)
  }

  def check(ops: Seq[Op]): Map[String, Any] = {
    val q = Registry.all.find(_.name == "q_full_scores").get
    q.build(spark, dir).write.mode("overwrite").parquet(s"$outDir/check/q_full_scores")
    spark.catalog.clearCache()
    val boards = ops.filter(_.ok).map(_.info("leaderboard")).distinct
    Map("oracle_outputs" -> Map("q_full_scores" -> q.oracle.get),
      "leaderboards_agree" -> (boards.size <= 1))
  }
}

/** `catalog`: one registered query per operation (`build` plus `count()`,
  * then the cache reset), over the frozen list in rounds drawn from the
  * seed (see `round`). */
final class CatalogWorkload(spark: SparkSession, dir: String, outDir: String, seed: Long,
    listFile: String) extends Workload {
  /** `name family heavy|-` per line, in list order. */
  private val listed = scala.io.Source.fromFile(listFile).getLines().map(_.trim)
    .filter(_.nonEmpty).map(_.split("\\s+")).toVector
  private val names = listed.map(_(0))
  private val heavy = listed.collect { case a if a(2) == "heavy" => a(0) }.toSet
  private val defs: Map[String, QueryDef] = names.map { n =>
    n -> Registry.all.find(_.name == n).getOrElse(sys.error(s"no query named $n"))
  }.toMap
  private val moduleOf: Map[String, String] = Registry.modules.flatMap { m =>
    m.queries.map(_.name -> m.getClass.getSimpleName.stripSuffix("$"))
  }.toMap
  private val rng = new Random(seed)
  private var order = Vector.empty[String]

  private def run(name: String, tracer: Tracer): Long = {
    val df = tracer.span("build")(defs(name).build(spark, dir))
    val n = tracer.span("action")(df.count())
    Hygiene.clear(spark, tracer)
    n
  }

  /** Runs `body` for every listed query, `cores` at a time, in list order
    * (the costly flagships first), then resets the cache. */
  private def concurrently(phase: String)(body: String => Unit): Unit = {
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try {
      names.map { n =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val t1 = System.nanoTime()
            body(n)
            println(f"$phase $n%s ${(System.nanoTime() - t1) / 1e9}%.3f s")
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    spark.catalog.clearCache()
    println(f"$phase pass ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def light: Vector[String] = names.filterNot(heavy)

  /** Untimed. First one pass that writes every query's result for the
    * oracle check, `cores` queries at a time, because this first pass is
    * bound by code generation and JIT compilation on the driver, not by
    * executors; the `heavy` queries also run the `count()` of a timed
    * operation there, whose pruned plan the write does not compile. Then one
    * pass over the other queries, run as the timed loop runs them: the
    * first one-at-a-time pass ran 1.2-1.4x slower than the passes after it
    * (more so the earlier an operation came in it), also when the JIT
    * compiler had gone quiet before it. */
  def warm(): Unit = {
    concurrently("warm") { n =>
      defs(n).build(spark, dir).write.mode("overwrite").parquet(s"$outDir/check/$n")
      if (heavy(n)) defs(n).build(spark, dir).count()
    }
    val t0 = System.nanoTime()
    val off = new Tracer(spark, false)
    light.foreach(run(_, off))
    println(f"warm sequential pass ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** One round of the timed loop: one pass over the queries that are not
    * `heavy`, then one over the whole list, each in an order drawn from the
    * seed. The heavy queries (one to four seconds each) run once a round,
    * so that a round fits the run's time box; the others run twice. With a
    * single pass the median fell on one sample of one of a few mid-cost
    * queries, and the 15-20% by which single operations of one query vary
    * moved it from run to run. */
  private def round(): Vector[String] = rng.shuffle(light) ++ rng.shuffle(names)
  override val roundLength: Int = 2 * names.size - heavy.size

  def op(i: Int, tracer: Tracer): Map[String, Any] = {
    if (i % roundLength == 0) order = round()
    val name = order(i % roundLength)
    val rows = tracer.span(name, i)(run(name, tracer))
    Map("name" -> name, "module" -> moduleOf(name), "rows" -> rows)
  }

  def check(ops: Seq[Op]): Map[String, Any] =
    Map("oracle_outputs" -> names.flatMap(n => defs(n).oracle.map(n -> _)).toMap)
}

object IngestWorkload {
  val BatchSize = 12
  val ResendShare = 0.25
  val FilingChars = 40000
  val CompactEvery = 3
  val CompactTargetBytes: Long = 4L << 20
  val WarmBatches = 3
  val MinBatches = 33
}

/** `ingest`: one `IngestPipeline.ingest` batch of generated filings,
  * appended to a parquet store that grows through the run, with
  * `Compact.compactStore` after every `CompactEvery`-th batch (timed as
  * part of that operation). */
final class IngestWorkload(spark: SparkSession, outDir: String, seed: Long) extends Workload {
  import IngestWorkload._
  import spark.implicits._

  override val minOps: Int = MinBatches
  private val filings = Filings(seed, BatchSize, ResendShare, FilingChars)
  private val store = s"$outDir/store"
  private var batches = 0
  private var compactions = Vector.empty[Map[String, Any]]
  private def storeFrame: DataFrame = spark.read.parquet(store)

  /** Hard links to the store's files as they are now, in `dir`. Parquet
    * files are never rewritten in place, so the links keep this state
    * readable after compaction has replaced the files; `run.py` compares
    * the row count and an order-free row hash of the two states once the
    * run is over, so the check adds no Spark job to the loop. */
  private def snapshot(dir: String): String = {
    val to = Files.createDirectories(Paths.get(dir))
    Files.list(Paths.get(store)).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.createLink(to.resolve(f.getFileName), f))
    dir
  }

  private def storeBytes(): Long = {
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  private def ingestBatch(b: Int, tracer: Tracer, op: Int): (Long, Long) = {
    val batch = filings.batch(b)
    val ds = spark.createDataset(batch)
    val t0 = System.nanoTime()
    tracer.span("ingest", op)(IngestPipeline.ingest(spark, ds, store))
    batches += 1
    (System.nanoTime() - t0, batch.map(_.html.getBytes("UTF-8").length.toLong).sum)
  }

  private def compact(tracer: Tracer, op: Int): (Long, Map[String, Any]) = {
    val before = snapshot(s"$outDir/snap/$op-before")
    val bytes = storeBytes()
    val t0 = System.nanoTime()
    val (fb, fa) = tracer.span("compact", op)(
      Compact.compactStore(spark, store, CompactTargetBytes))
    val ns = System.nanoTime() - t0
    val rec = Map[String, Any]("op" -> op, "compact_s" -> ns / 1e9, "rewritten_bytes" -> bytes,
      "files_before" -> fb, "files_after" -> fa, "before" -> before,
      "after" -> snapshot(s"$outDir/snap/$op-after"))
    compactions :+= rec
    (ns, rec)
  }

  def warm(): Unit = {
    val off = new Tracer(spark, false)
    (0 until WarmBatches).foreach { b =>
      ingestBatch(b, off, -1)
      if (b % CompactEvery == CompactEvery - 1) compact(off, -1 - b)
    }
    compactions = Vector.empty
  }

  def op(i: Int, tracer: Tracer): Map[String, Any] = {
    val b = batches
    val (ns, htmlBytes) = ingestBatch(b, tracer, i)
    val base = Map[String, Any]("html_bytes" -> htmlBytes, "filings" -> BatchSize,
      "post_compact" -> (i % CompactEvery == 0 && i > 0))
    if (i % CompactEvery == CompactEvery - 1) {
      val (cns, rec) = compact(tracer, i)
      base ++ Map("latency_ns" -> (ns + cns), "compact_s" -> rec("compact_s"))
    } else base + ("latency_ns" -> ns)
  }

  private def submitted: DataFrame =
    IngestPipeline.chunkSections(IngestPipeline.extractSections(
      spark.createDataset((0 until batches).flatMap(filings.batch)))).toDF()

  def check(ops: Seq[Op]): Map[String, Any] = {
    val storedRows = storeFrame.select("content_hash").collect().map(_.getString(0))
    val stored = storedRows.toSet
    val dupHashes = storedRows.groupBy(identity).count(_._2.length > 1)
    val expected = submitted.select("content_hash").distinct().collect().map(_.getString(0)).toSet
    val missing = (expected -- stored).size
    val extra = (stored -- expected).size
    val inputBytes = (0 until batches).flatMap(filings.batch)
      .map(_.html.getBytes("UTF-8").length.toLong).sum
    Map("store_ok" -> (dupHashes == 0 && missing == 0 && extra == 0),
      "duplicate_hashes" -> dupHashes, "missing_hashes" -> missing, "extra_hashes" -> extra,
      "compactions" -> compactions, "store_bytes" -> storeBytes(),
      "store_rows" -> storedRows.length, "input_bytes_all_batches" -> inputBytes,
      "batches" -> batches, "distinct_filings" -> filings.freshBefore(batches),
      "filings_submitted" -> batches * BatchSize, "resend_share" -> ResendShare)
  }

  /** Chunks produced before the dedup gates and rows stored, over every
    * batch submitted (warm-up included). */
  override def traced(ops: Seq[Op]): Map[String, Any] = {
    val rowsIn = submitted.count()
    Map("sources_rows_in" -> rowsIn, "sources_rows_kept" -> storeFrame.count())
  }
}
