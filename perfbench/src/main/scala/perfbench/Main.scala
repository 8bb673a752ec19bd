package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: its latency, whether it threw, and what it did. */
final case class Op(i: Int, name: String, latencyS: Double, ok: Boolean,
    info: Map[String, Any])

/** A benchmark workload as the closed loop drives it. */
trait Workload {
  /** Untimed warm-up, part of set-up. */
  def warm(): Unit
  /** Operation `i`; the loop times it. Extra fields go into `Op.info`. */
  def op(i: Int, tracer: Tracer): Map[String, Any]
  /** Run whole rounds only (catalog): the loop stops at a multiple of this. */
  def roundLength: Int = 1
  /** Fewest operations a run times, so its tail percentile has samples. */
  def minOps: Int = 1
  /** Untimed output checks after the loop: what they found, and the
    * outputs `run.py` compares with the DuckDB oracles. */
  def check(ops: Seq[Op]): Map[String, Any]
  /** Layer figures only the traced run reports. */
  def traced(ops: Seq[Op]): Map[String, Any] = Map.empty
}

/** JVM side of the benchmark: `run.py` generates the inputs, starts this
  * with one workload, and reads the JSON it writes.
  *
  * One driver thread issues one operation at a time (closed loop, one
  * client) into `local[cores]` with as many shuffle partitions as cores.
  * Arguments: workload seed seconds trace(0|1) dataDir outDir [extra...].
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir) = args.take(6)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val wl: Workload = workload match {
      case "score" => new ScoreWorkload(spark, dataDir, outDir)
      case "catalog" => new CatalogWorkload(spark, dataDir, outDir, seed, args(6))
      case "ingest" => new IngestWorkload(spark, outDir, seed)
      case other => sys.error(s"unknown workload: $other")
    }
    val sessionReadyMs = System.currentTimeMillis()
    wl.warm()

    // bytes the timed operations write to local shuffle files (store bytes
    // are measured on disk by the ingest workload itself)
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) shuffleWritten.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    OldGen.reset()
    val firstOpMs = System.currentTimeMillis()
    // the budget counts timed work only: untimed per-op bookkeeping and
    // checks (input generation, ingest's compaction fingerprints) do not
    // shorten the sample
    val start = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    var timed = 0.0
    var i = 0
    while (timed < seconds || i % wl.roundLength != 0 || i < wl.minOps) {
      val t0 = System.nanoTime()
      val (ok, info) =
        try (true, wl.op(i, tracer))
        catch { case e: Exception => (false, Map[String, Any]("error" -> e.toString)) }
      val lat = info.get("latency_ns") match {
        case Some(ns: Long) => ns / 1e9
        case _ => (System.nanoTime() - t0) / 1e9
      }
      ops += Op(i, info.getOrElse("name", workload).toString, lat, ok, info - "latency_ns" - "name")
      println(f"op $i%d ${ops.last.name}%s $lat%.3f s ok=$ok%s")
      timed += lat
      i += 1
    }
    val loopS = (System.nanoTime() - start) / 1e9
    val (heapPeakMb, heapCollections) = (OldGen.peakMb, OldGen.collections)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val shuffleBytes = shuffleWritten.get

    val checks = wl.check(ops.toSeq)
    val layers =
      if (trace) wl.traced(ops.toSeq) ++ Layers.kernels(spark, seed, tracer) ++
        Layers.text(spark, Filings(seed, 40, 0.0, IngestWorkload.FilingChars), tracer)
      else Map.empty[String, Any]

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs, "first_op_ms" -> firstOpMs,
      "loop_s" -> loopS, "heap_peak_mb" -> heapPeakMb,
      "heap_collections" -> heapCollections, "shuffle_write_bytes" -> shuffleBytes,
      "ops" -> ops.map(o => Map("i" -> o.i, "name" -> o.name, "latency_s" -> o.latencyS,
        "ok" -> o.ok) ++ o.info),
      "checks" -> checks, "layers" -> layers)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(outDir, "result.json"),
      mapper.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
    if (trace) {
      val lines = tracer.allSpans.map { s =>
        mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.usage.toMap)
      }
      Files.write(Paths.get(outDir, "spans.jsonl"),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
