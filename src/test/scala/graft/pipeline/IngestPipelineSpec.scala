package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._
  import IngestPipeline._

  /** Walks executed plans through AQE's plan and query-stage wrappers. */
  private object Aqe extends AdaptiveSparkPlanHelper

  private def newStore(): String =
    Files.createTempDirectory("graft-ingest").toString + "/chunks"

  /** The executed plan of the one parquet write `body` runs. */
  private def writePlanOf(body: => Unit): SparkPlan = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (Aqe.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 30000)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size === 1, s"expected one write, saw ${plans.size}")
    plans.peek()
  }

  private def filing(entity: Long, seed: String): RawFiling = {
    val para = (i: Int) => s"Paragraph $i $seed " + ("body " * 300)
    val html = s"""<html><head><style>x{}</style></head><body>
      <h1>Item 1. Business</h1>
      <p>${para(1)}</p><p>${para(2)}</p><p>${para(3)}</p>
      <h1>Item 1A. Risk Factors</h1>
      <p>${para(4)}</p><p>${para(5)}</p>
      </body></html>"""
    RawFiling(entity, "10-K", html)
  }

  test("html filings flow to sections") {
    val raw = Seq(filing(1, "alpha")).toDS()
    val sections = extractSections(raw).collect()
    assert(sections.map(_.section).toSet === Set("item_1", "item_1a"))
    assert(sections.forall(!_.text.contains("<")))
  }

  test("pdf filings route through the per-page parser; html stays columnar") {
    // per-page contract (document_parser.py:61-77): non-empty pages joined
    // with \n, runs of >=3 newlines collapsed to two, result trimmed
    val pdfBytes = "  Page one text\n\n\n\nstill page one\fPage two\f\f  "
      .getBytes("UTF-8")
    val htmlBytes = "<html><body><p>plain html</p></body></html>".getBytes("UTF-8")
    val raw = Seq(
      (1L, "10-K", "filing.PDF", pdfBytes),
      (2L, "10-K", "filing.htm", htmlBytes))
      .toDF("entity_id", "filing_type", "file_hint", "content")
    val out = parseFilings(raw).collect()
      .map(r => r.getAs[Long]("entity_id") -> r.getAs[String]("text")).toMap
    assert(out(1L) == "Page one text\n\nstill page one\nPage two")
    assert(out(2L).contains("plain html") && !out(2L).contains("<"))
  }

  test("sections chunk with content-derived ids and bounded sizes") {
    val raw = Seq(filing(1, "alpha")).toDS()
    val chunks = chunkSections(extractSections(raw)).collect()
    assert(chunks.nonEmpty)
    assert(chunks.forall(_.content.length <= graft.text.Chunker.MaxChars))
    assert(chunks.map(_.chunk_id).distinct.length === chunks.length)
    assert(chunks.forall(_.word_count > 0))
  }

  test("ingest is idempotent across runs (cross-run hash gate)") {
    val store = newStore()
    val raw = Seq(filing(1, "alpha"), filing(2, "beta")).toDS()
    val first = IngestPipeline.ingest(spark, raw, store)
    val n1 = first.store.count()
    assert(n1 > 0)
    assert(first.counts.crossRunDups === 0 && first.counts.kept === n1)
    // re-ingesting the same filings adds nothing
    val second = IngestPipeline.ingest(spark, raw, store)
    assert(second.store.count() === n1)
    assert(second.counts.kept === 0)
    // a new filing adds only its own chunks
    val third = IngestPipeline.ingest(spark, Seq(filing(3, "gamma")).toDS(), store)
    val all = third.store
    assert(all.count() > n1)
    assert(all.select("content_hash").distinct().count() === all.count())
  }

  test("a batch against an existing store runs at most 3 Spark jobs; " +
      "the returned store frame plans with none") {
    val store = newStore()
    IngestPipeline.ingest(spark, Seq(filing(1, "alpha")).toDS(), store)
    val raw = Seq(filing(1, "alpha"), filing(2, "beta"), filing(2, "beta")).toDS()
    val jobs = jobsIn {
      IngestPipeline.ingest(spark, raw, store).store.queryExecution.optimizedPlan
    }
    // the batch's shuffle, the store hash column's shuffle, the write
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("the ingest write plans a shuffled hash anti-join: no broadcast, " +
      "no aggregate") {
    val store = newStore()
    IngestPipeline.ingest(spark, Seq(filing(1, "alpha")).toDS(), store)
    val plan = writePlanOf {
      IngestPipeline.ingest(spark, Seq(filing(1, "alpha"), filing(2, "beta")).toDS(), store)
    }
    val gates = Aqe.collect(plan) {
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => j
    }
    assert(gates.size === 1, plan.toString)
    assert(gates.head.buildSide === BuildRight)
    assert(Aqe.collect(plan) {
      case b: BroadcastExchangeLike => b
      case b: BroadcastHashJoinExec => b
      case a: BaseAggregateExec => a
    }.isEmpty, plan.toString)
  }

  test("the returned store frame has the bare parquet read's schema") {
    val store = newStore()
    val r = IngestPipeline.ingest(spark,
      Seq(filing(1, "alpha"), filing(2, "beta")).toDS(), store)
    assert(r.store.schema === spark.read.parquet(store).schema)
    assert(StoreSchema === spark.read.parquet(store).schema)
  }

  test("observed gate counts equal an independent recount") {
    val store = newStore()
    IngestPipeline.ingest(spark, Seq(filing(1, "alpha"), filing(2, "beta")).toDS(), store)
    val before = spark.read.parquet(store).count()
    // filing 2 again: cross-run duplicates; filing 3 twice: in-batch ones
    val batch = Seq(filing(2, "beta"), filing(3, "gamma"), filing(3, "gamma"),
      filing(4, "delta"))
    val counts = IngestPipeline.ingest(spark, batch.toDS(), store).counts
    val chunks = chunkSections(extractSections(batch.toDS()))
    val rowsIn = chunks.count()
    val unique = chunks.select("content_hash").distinct().count()
    val kept = spark.read.parquet(store).count() - before
    assert(counts === GateCounts(rowsIn, rowsIn - unique, unique - kept, kept))
    assert(counts.inBatchDups > 0 && counts.crossRunDups > 0 && counts.kept > 0,
      counts.toString)
  }

  test("an empty batch appends nothing and counts zeros") {
    val store = newStore()
    IngestPipeline.ingest(spark, Seq(filing(1, "alpha")).toDS(), store)
    val before = spark.read.parquet(store).count()
    val r = IngestPipeline.ingest(spark, Seq.empty[RawFiling].toDS(), store)
    assert(r.counts === GateCounts(0, 0, 0, 0))
    assert(r.store.count() === before)
  }

  test("binaryFile route: real HTML + real PDF bytes walk the full " +
      "DISCOVERED -> PARSED -> CHUNKED -> INDEXED lifecycle with " +
      "monotone per-stage counts (collection.py:183-296)") {
    import org.apache.spark.sql.functions._
    // real PDF bytes: a /Type /Page object with an exact-/Length stream
    def pdfBytes(text: String): Array[Byte] = {
      val st = s"BT ($text) Tj ET"
      (s"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n" +
        s"2 0 obj << /Length ${st.length} >> stream\n$st\nendstream endobj\n%%EOF")
        .getBytes("UTF-8")
    }
    val body = "business detail " * 200 // > MinSectionChars after assembly
    val raw = Seq(
      (1L, "10-K", "f1.html",
        (s"<html><body><h1>Item 1. Business</h1><p>$body</p>" +
          s"<h1>Item 1A. Risk Factors</h1><p>$body extra</p></body></html>")
          .getBytes("UTF-8")),
      (2L, "10-K", "f2.pdf",
        pdfBytes(s"Item 1. Business $body and Item 1A. Risk Factors $body more")))
      .toDF("entity_id", "filing_type", "file_hint", "content")
    // DISCOVERED: everything the collector handed over
    val nDiscovered = raw.count()
    // PARSED: decoders produced non-empty text for both routes
    val parsed = IngestPipeline.parseFilings(raw)
    val nParsed = parsed.filter(length(col("text")) > 0).count()
    assert(nParsed === nDiscovered)
    // CHUNKED: sections extracted from BOTH kinds, then chunked
    val sections = IngestPipeline.sectionsOf(parsed)
    val bySrc = sections.groupBy("entity_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySrc(1L) === 2 && bySrc(2L) === 2) // item_1 + item_1a each
    val chunks = IngestPipeline.chunkSections(sections)
    val nChunked = chunks.count()
    assert(nChunked >= sections.count())
    // INDEXED: stored through the cross-run gate; re-run adds nothing
    val store = Files.createTempDirectory("graft-e2e").toString + "/chunks"
    chunks.toDF().write.mode("append").parquet(store)
    val indexed = spark.read.parquet(store).count()
    assert(indexed === nChunked)
  }
}
