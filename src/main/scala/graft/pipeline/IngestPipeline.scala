package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Upsert
import graft.text.{Chunker, HtmlText, PdfText, SectionExtractor}

/** The reference's evidence-collection lifecycle (§3.2:
  * collection.py:183-296 — fetch → parse F11 → sections F13 → hash-dedup
  * S12 → chunk F14 → persist S8) as one typed Spark pipeline.
  *
  * Fetch stays an external concern (rate-limited HTTP has no place on
  * executors); the pipeline input is a DataFrame of raw filing payloads.
  * Parse/section run as column expressions + a typed flatMap (pure Scala,
  * deterministic — SURVEY.md §2.11); dedup is the left_anti hash gate;
  * chunk ids are content-derived sha2, not uuid4 (SURVEY.md §7.3).
  *
  * Scale: one scan, one flatMap, one anti-join shuffle, one write. Chunk
  * explosion is bounded (MaxChars), so partitions stay memory-safe; output
  * is partitionable by entity for downstream co-located joins.
  */
object IngestPipeline {

  final case class RawFiling(entity_id: Long, filing_type: String, html: String)
  final case class SectionRow(entity_id: Long, filing_type: String,
      section: String, text: String)
  final case class ChunkRow(entity_id: Long, filing_type: String,
      section: String, chunk_index: Int, content: String, word_count: Int,
      content_hash: String, chunk_id: String)

  /** parse_filing_bytes (document_parser.py:81-90): file_hint routes PDFs
    * through the per-page parser (F12), everything else through the HTML
    * path (F11). Input is the `binaryFile`-source shape (binary `content`
    * + a path/filename hint). HTML rows stay fully columnar/codegen'd;
    * only the PDF branch takes the typed-map seam, and the two unions
    * back into one text frame — at 100 TB the split-route-union is two
    * filters over one scan, no shuffle. */
  def parseFilings(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    // null hint → HTML branch (the reference routes every non-PDF through
    // HTML); without the coalesce a null hint fails BOTH filters silently
    val isPdf = coalesce(lower(col("file_hint")).endsWith(".pdf"), lit(false))
    val htmls = raw.filter(!isPdf)
      .select(col("entity_id"), col("filing_type"),
        HtmlText.htmlToText(decode(col("content"), "UTF-8")).as("text"))
    val pdfs = raw.filter(isPdf)
      .select(col("entity_id"), col("filing_type"), col("content"))
      .as[(Long, String, Array[Byte])]
      .map { case (e, ft, b) => (e, ft, PdfText.pdfToText(b)) }
      .toDF("entity_id", "filing_type", "text")
    htmls.unionByName(pdfs)
  }

  /** Parsed text frame (entity_id, filing_type, text) → named sections
    * (F13) — the shared seam between the HTML-only path below and the
    * binaryFile route through [[parseFilings]]. */
  def sectionsOf(parsed: DataFrame): Dataset[SectionRow] = {
    import parsed.sparkSession.implicits._
    parsed.select(col("entity_id"), col("filing_type"), col("text"))
      .as[(Long, String, String)].flatMap { case (e, ft, text) =>
        SectionExtractor.extract(text).map { case (k, t) => SectionRow(e, ft, k, t) }
      }
  }

  /** HTML → cleaned text → named sections (F11 + F13). */
  def extractSections(raw: Dataset[RawFiling]): Dataset[SectionRow] = {
    val cleaned = raw.toDF()
      .withColumn("text", HtmlText.htmlToText(col("html")))
      .select(col("entity_id"), col("filing_type"), col("text"))
    sectionsOf(cleaned)
  }

  /** Sections → overlapping chunks with content-derived ids (F14 + F17). */
  def chunkSections(sections: Dataset[SectionRow]): Dataset[ChunkRow] = {
    import sections.sparkSession.implicits._
    sections.flatMap { s =>
      Chunker.chunk(s.text).map { c =>
        val hash = java.security.MessageDigest.getInstance("SHA-256")
          .digest(c.content.getBytes("UTF-8")).map("%02x".format(_)).mkString
        ChunkRow(s.entity_id, s.filing_type, s.section, c.index, c.content,
          c.content.split("\\s+").count(_.nonEmpty), hash,
          s"${s.entity_id}#${s.filing_type}#${s.section}#${c.index}#${hash.take(16)}")
      }
    }
  }

  /** The store's schema: the [[ChunkRow]] columns [[ingest]] appends, all
    * nullable, as parquet reads them back. Reading the store with it plans
    * with no Spark job; a bare `spark.read.parquet` runs one to infer it. */
  val StoreSchema: StructType =
    StructType(Encoders.product[ChunkRow].schema.map(_.copy(nullable = true)))

  /** One [[ingest]] batch's gate counts: chunks in, chunks dropped as
    * duplicates within the batch, chunks dropped because the store already
    * held their hash, and chunks appended (`rowsIn` is the sum of the other
    * three). */
  final case class GateCounts(rowsIn: Long, inBatchDups: Long,
      crossRunDups: Long, kept: Long)

  /** What one [[ingest]] call leaves: `store` is the whole store, read with
    * [[StoreSchema]] — lazy, and planned with no Spark job. `counts` are
    * taken by `Dataset.observe` on the write's own pass; reading them waits
    * for the listener bus to deliver that pass's metrics. */
  final class Ingested private[pipeline] (val store: DataFrame,
      observed: Seq[Observation]) {
    lazy val counts: GateCounts = {
      val Seq(in, unique, kept) = observed.map { o =>
        Await.result(o.future, 60.seconds).getAs[Long]("rows")
      }
      GateCounts(in, in - unique, unique - kept, kept)
    }
  }

  /** Full run: parse → section → chunk → in-batch hash-dedup → cross-run
    * hash gate ([[Upsert.storeGate]]) → append. Three Spark jobs against an
    * existing store: the batch's shuffle on `content_hash`, the store hash
    * column's shuffle, and the write; the counts ride the write. */
  def ingest(spark: SparkSession, raw: Dataset[RawFiling], storePath: String): Ingested = {
    val observed = Seq.fill(3)(Observation())
    def counted(df: DataFrame, o: Observation) = df.observe(o, count(lit(1)).as("rows"))
    val chunks = counted(chunkSections(extractSections(raw)).toDF(), observed(0))
    val unique = counted(Upsert.dedupInBatch(chunks, "content_hash",
      Seq(col("chunk_id").asc)), observed(1))
    val kept = counted(Upsert.storeGate(unique, storePath,
      StoreSchema("content_hash")), observed(2))
    kept.write.mode("append").parquet(storePath)
    new Ingested(spark.read.schema(StoreSchema).parquet(storePath), observed)
  }
}
