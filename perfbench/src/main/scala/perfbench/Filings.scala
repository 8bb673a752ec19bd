package perfbench

import java.util.SplittableRandom

import graft.pipeline.IngestPipeline.RawFiling

/** Seeded SEC-style HTML filings for the ingest workload.
  *
  * Filing `k` is a pure function of (seed, k): a style and script block, a
  * table of contents naming the four headings `graft.text.SectionExtractor`
  * matches (so the extractor must take the last match), then the four
  * sections as paragraphs of words from a seeded vocabulary. Batch `b`
  * holds `size` filings; after the first batch, `resendShare` of them are
  * byte-identical re-sends of filings submitted in earlier batches, which
  * the ingest dedup gate must drop.
  */
final case class Filings(seed: Long, size: Int, resendShare: Double, filingChars: Int) {
  private val resends = math.round(size * resendShare).toInt
  private val fresh = size - resends

  private val vocab: Array[String] = {
    val r = new SplittableRandom(seed * 7919 + 1)
    Array.fill(2000)(Iterator.fill(3 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString)
  }

  private val headings = Seq(
    "Item 1. Business",
    "Item 1A. Risk Factors",
    "Item 7. Management&#39;s Discussion and Analysis of Financial Condition",
    "Item 7A. Quantitative and Qualitative Disclosures About Market Risk")
  private val types = Array("10-K", "10-K/A", "10-KT")

  /** Number of distinct filings submitted in batches 0 until `b`. */
  def freshBefore(b: Int): Int = if (b == 0) 0 else size + (b - 1) * fresh

  def filing(k: Int): RawFiling = {
    val r = new SplittableRandom(seed * 1000003L + k)
    val sb = new StringBuilder(filingChars + 4096)
    sb ++= "<html><head><title>Annual report</title><style>p { margin: 0 }</style>"
    sb ++= s"<script>var filing = $k;</script></head><body>"
    sb ++= s"<div>Table of contents: ${headings.mkString(" ")}</div>"
    val perSection = filingChars / headings.size
    headings.foreach { h =>
      sb ++= "<h2>" ++= h ++= "</h2>"
      val end = sb.length + perSection
      while (sb.length < end) {
        sb ++= "<p>"
        var w = 40 + r.nextInt(80)
        while (w > 0) { sb ++= vocab(r.nextInt(vocab.length)) += ' '; w -= 1 }
        sb ++= "&amp; co.</p>\n"
      }
    }
    sb ++= "</body></html>"
    RawFiling(k / 3L, types(k % 3), sb.result())
  }

  /** Filing ids of batch `b`: the fresh ones, then the re-sends. */
  def batchIds(b: Int): Seq[Int] = {
    val start = freshBefore(b)
    if (b == 0) 0 until size
    else {
      val r = new SplittableRandom(seed * 31L + b)
      (start until start + fresh) ++ Seq.fill(resends)(r.nextInt(start))
    }
  }

  def batch(b: Int): Seq[RawFiling] = batchIds(b).map(filing)
}
