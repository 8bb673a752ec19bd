package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end evidence-ingest lifecycle over REAL fixture bytes
  * (reference §3.2, collection.py:183-296: fetch → parse → sections →
  * chunk → dedup → store, with the DISCOVERED→CHUNKED→INDEXED status
  * walk): binaryFile-shaped rows whose `content` is an actual HTML
  * document or an actual %PDF- file built from the documents table, run
  * through the REAL decoders (`HtmlText.htmlToText` /
  * `PdfText.pdfToText` via `IngestPipeline.parseFilings`), the REAL
  * section extractor and chunker, and the bloom-gated exact dedup gate —
  * reporting the per-stage row counts per source kind.
  *
  * The oracle replays the lifecycle arithmetically: both engines build
  * the same filing text (letters+single-spaces only, so byte = char
  * everywhere), and because HTML collapse / PDF passthrough normalize to
  * the SAME string, sections are fixed-offset substrings and chunks are
  * 6500-char hard-split pieces whose contents DuckDB can reconstruct with
  * substr — certifying the decode→section→chunk→dedup chain end to end,
  * not just row counts of a black box.
  *
  * Scale shape: one scan builds fixtures; parse/section/chunk are
  * per-row flatMaps (no shuffle); the only shuffles are the per-kind
  * aggregates and the dedup gate's anti-join, with the bloom probe in
  * the join condition exactly as q_bloom_dedup_gate.
  */
object PipelineQueries extends QueryModule {

  private val ingestE2e = QueryDef(
    "q_ingest_pipeline_e2e",
    (s, dir) => {
      import org.apache.spark.sql.graft.BloomFunctions
      // fixture text: letters and single spaces only — no digits (so no
      // spoofed section headings), no PDF string delimiters, and byte
      // length == char length in both engines
      // fixture corpus: a deterministic 50% slice (doc_id % 4 <= 1 keeps
      // both even and odd ids, so the seen/incoming dedup halves stay
      // populated), with mostly-small repeat factors plus a 1-in-16 5×
      // boost so the >6500-char hard-split chunk path is still exercised
      // — sized so the demo stays a few seconds at sf1, not a synthetic
      // multi-GB corpus (the volume path is certified by the dedicated
      // dedup/chunk queries)
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 4 <= 1)
        .withColumn("san", trim(regexp_replace(
          regexp_replace(col("text"), "[^a-zA-Z ]", ""), " +", " ")))
        .filter(length(col("san")) >= 20)
        .withColumn("a", trim(expr(
          "repeat(concat(san, ' '), CAST((doc_id % 8 + 1) * " +
            "(CASE WHEN doc_id % 16 = 1 THEN 5 ELSE 1 END) AS INT))")))
        .withColumn("b", trim(expr("repeat(concat(san, ' '), CAST(doc_id % 5 + 1 AS INT))")))
        .withColumn("kind", when(col("doc_id") % 5 === 0, "pdf").otherwise("html"))
      // real HTML bytes: tags + a style block the parser must strip
      val htmlRaw = base.filter(col("kind") === "html")
        .withColumn("payload", concat(
          lit("<html><head><style>p{margin:0}</style></head><body><h1>Item 1. Business</h1><p>"),
          col("a"),
          lit("</p><h1>Item 1A. Risk Factors</h1><p>"),
          col("b"),
          lit("</p><script>var x=1;</script></body></html>")))
        .withColumn("file_hint", concat(lit("filing_"), col("doc_id"), lit(".html")))
      // real PDF bytes: one /Type /Page object whose /Contents stream
      // shows the filing text with a Tj operator; /Length is the exact
      // stream extent, so PdfText's direct-length path is exercised
      val pdfRaw = base.filter(col("kind") === "pdf")
        .withColumn("ptext", concat(
          lit("Item 1. Business "), col("a"),
          lit(" Item 1A. Risk Factors "), col("b")))
        .withColumn("st", concat(lit("BT ("), col("ptext"), lit(") Tj ET")))
        .withColumn("payload", concat(
          lit("%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n2 0 obj << /Length "),
          length(col("st")),
          lit(" >> stream\n"), col("st"),
          lit("\nendstream endobj\n%%EOF")))
        .withColumn("file_hint", concat(lit("filing_"), col("doc_id"), lit(".pdf")))
      val raw = htmlRaw.select(col("doc_id").as("entity_id"),
          lit("10-K").as("filing_type"), col("file_hint"),
          encode(col("payload"), "UTF-8").as("content"))
        .unionByName(pdfRaw.select(col("doc_id").as("entity_id"),
          lit("10-K").as("filing_type"), col("file_hint"),
          encode(col("payload"), "UTF-8").as("content")))
      // --- the REAL pipeline: decode → sections → chunks ---
      // every stage is consumed by both its per-stage count AND the next
      // stage, so the whole chain is cached stage by stage (withPinned
      // materializes in order: parse runs once, section-extract once,
      // chunking once) and unpersisted in finally
      import s.implicits._
      val parsed = graft.pipeline.IngestPipeline.parseFilings(raw)
      val sections = graft.pipeline.IngestPipeline.sectionsOf(parsed).toDF()
      val chunks = graft.pipeline.IngestPipeline.chunkSections(
          sections.as[graft.pipeline.IngestPipeline.SectionRow]).toDF()
        .select(col("entity_id"), col("section"), col("chunk_index"),
          col("content"), col("content_hash"))
        .withColumn("kind",
          when(col("entity_id") % 5 === 0, "pdf").otherwise("html"))
        .withColumn("kh", xxhash64(col("content_hash")))
      def kindOf(df: DataFrame, c: String) =
        df.withColumn("kind", when(col(c) % 5 === 0, "pdf").otherwise("html"))
      Cached.withPinned(parsed, sections, chunks) { case Seq(parsed, sections, chunks) => // r15: pin + plan-truncate
        // S12 at the end of the lifecycle: bloom-gated exact dedup of the
        // odd-entity half against the even-entity "already indexed" half,
        // probe in the join condition (the q_bloom_dedup_gate shape)
        val seen = chunks.filter(col("entity_id") % 2 === 0)
        val incoming = chunks.filter(col("entity_id") % 2 === 1)
        val filterDf = seen.agg(
          BloomFunctions.bloomBuild(col("kh"), 1 << 20, 5).as("bloom_f"))
        def probe(f: DataFrame) =
          BloomFunctions.bloomMightContain(f("bloom_f"), incoming("kh"))
        val fAnti = broadcast(filterDf)
        val fSemi = broadcast(filterDf)
        val definitelyNew = incoming.join(fAnti, probe(fAnti), "left_anti")
        val verifiedNew = graft.sources.Upsert.dedupGate(
          incoming.join(fSemi, probe(fSemi), "left_semi"), seen, "content_hash")
        val fresh = definitelyNew.select("kind", "content_hash")
          .unionByName(verifiedNew.select("kind", "content_hash"))
        // --- per-stage counts, the status walk of collection.py:183-296 ---
        val nFilings = kindOf(raw, "entity_id")
          .groupBy("kind").agg(count(lit(1)).as("n_filings"))
        val nParsed = kindOf(parsed.filter(length(col("text")) > 0), "entity_id")
          .groupBy("kind").agg(count(lit(1)).as("n_parsed"))
        val nSections = kindOf(sections, "entity_id")
          .groupBy("kind").agg(count(lit(1)).as("n_sections"))
        val nChunks = chunks.groupBy("kind")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct("content_hash").as("n_chunk_contents"))
        val nNew = fresh.groupBy("kind").agg(count(lit(1)).as("n_new_chunks"))
        nFilings.join(nParsed, Seq("kind"), "left")
          .join(nSections, Seq("kind"), "left")
          .join(nChunks, Seq("kind"), "left")
          .join(nNew, Seq("kind"), "left")
          .select(col("kind"),
            col("n_filings"),
            coalesce(col("n_parsed"), lit(0L)).as("n_parsed"),
            coalesce(col("n_sections"), lit(0L)).as("n_sections"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("n_chunk_contents"), lit(0L)).as("n_chunk_contents"),
            coalesce(col("n_new_chunks"), lit(0L)).as("n_new_chunks"))
          .orderBy("kind")
      }
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text, '[^a-zA-Z ]', '', 'g'),
                    ' +', ' ', 'g')) AS san
        FROM documents WHERE doc_id % 4 <= 1),
      f AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN 'pdf' ELSE 'html' END AS kind,
               trim(repeat(san || ' ', CAST((doc_id % 8 + 1) *
                 (CASE WHEN doc_id % 16 = 1 THEN 5 ELSE 1 END) AS INT))) AS a,
               trim(repeat(san || ' ', CAST(doc_id % 5 + 1 AS INT))) AS b
        FROM d WHERE length(san) >= 20),
      -- both decode paths normalize to the SAME filing text
      t AS (
        SELECT doc_id, kind,
               'Item 1. Business ' || a || ' Item 1A. Risk Factors ' || b AS text,
               length(a) AS la, length(b) AS lb
        FROM f),
      -- sections: last-heading-offset slices; min-length rule applied to
      -- the RAW slice (item_1 carries a trailing space before item_1a)
      sec AS (
        SELECT doc_id, kind, 'item_1' AS section,
               substr(text, 1, la + 18) AS stext
        FROM t WHERE la + 18 >= 1000
        UNION ALL
        SELECT doc_id, kind, 'item_1a', substr(text, la + 19)
        FROM t WHERE lb + 22 >= 1000),
      -- chunks: a section is one paragraph (whitespace was collapsed), so
      -- chunking = trim + hard split at 6500 chars
      ch AS (
        SELECT doc_id, kind, section, i.i AS chunk_index,
               substr(trim(stext), 1 + 6500 * i.i, 6500) AS content
        FROM sec, (SELECT unnest(generate_series(0, 31)) AS i) i
        WHERE i.i < ceil(length(trim(stext)) / 6500.0)),
      seen AS (SELECT DISTINCT content FROM ch WHERE doc_id % 2 = 0),
      newch AS (
        SELECT kind, content FROM ch
        WHERE doc_id % 2 = 1 AND content NOT IN (SELECT content FROM seen))
      SELECT t.kind AS kind,
             count(DISTINCT t.doc_id) AS n_filings,
             count(DISTINCT t.doc_id) AS n_parsed,
             coalesce(s.n_sections, 0) AS n_sections,
             coalesce(c.n_chunks, 0) AS n_chunks,
             coalesce(c.n_chunk_contents, 0) AS n_chunk_contents,
             coalesce(n.n_new_chunks, 0) AS n_new_chunks
      FROM t
      LEFT JOIN (SELECT kind, count(*) AS n_sections FROM sec GROUP BY kind) s
        ON t.kind = s.kind
      LEFT JOIN (SELECT kind, count(*) AS n_chunks,
                        count(DISTINCT content) AS n_chunk_contents
                 FROM ch GROUP BY kind) c ON t.kind = c.kind
      LEFT JOIN (SELECT kind, count(*) AS n_new_chunks FROM newch GROUP BY kind) n
        ON t.kind = n.kind
      GROUP BY t.kind, s.n_sections, c.n_chunks, c.n_chunk_contents, n.n_new_chunks
      ORDER BY kind"""))

  def queries: Seq[QueryDef] = Seq(ingestE2e)
}
