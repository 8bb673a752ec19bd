package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextSimilarity, VectorFunctions}
import graft.text.{Chunker, HtmlText, SectionExtractor}
import org.apache.spark.sql.graft.{BloomFunctions, SketchFunctions}

/** Layer microbenchmarks of the traced run, driven from outside the engine
  * over generated columns: the native column functions against their
  * built-in equivalents, and the three text stages of ingest. */
object Layers {
  private val KernelRows = 200000
  private val Reps = 3

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Median seconds of `Reps` evaluations of `c` over every row of `df`
    * (summed, so nothing is pruned), and the last sum. */
  private def time(df: DataFrame, c: Column, name: String, tracer: Tracer): (Double, Double) = {
    var out = 0.0
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      out = tracer.span(s"kernel.$name")(df.agg(sum(c.cast("double"))).head().getDouble(0))
      (System.nanoTime() - t0) / 1e9
    }
    (median(ts), out)
  }

  private def timeAgg(df: DataFrame, c: Column, name: String, tracer: Tracer): (Double, Double) = {
    var out = 0.0
    val ts = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      out = tracer.span(s"kernel.$name")(df.agg(c.cast("double")).head().getDouble(0))
      (System.nanoTime() - t0) / 1e9
    }
    (median(ts), out)
  }

  def kernels(spark: SparkSession, seed: Long, tracer: Tracer): Map[String, Any] = {
    val n = KernelRows
    def h(parts: Column*) = xxhash64((lit(seed) +: parts): _*)
    val idx = sequence(lit(0), lit(63))
    val words = sequence(lit(0), lit(23))
    val df = spark.range(n).select(
      col("id"),
      transform(idx, i => pmod(h(col("id"), i), lit(2001)).cast("double") / 1000.0 - 1.0).as("a"),
      transform(idx, i => pmod(h(col("id"), i, lit(1)), lit(2001)).cast("double") / 1000.0 - 1.0).as("b"),
      array_sort(array_distinct(transform(words, i =>
        concat(lit("w"), pmod(h(col("id"), i, lit(2)), lit(200)).cast("string"))))).as("s"),
      array_sort(array_distinct(transform(words, i =>
        concat(lit("w"), pmod(h(col("id"), i, lit(3)), lit(200)).cast("string"))))).as("t"),
      concat(lit("acme "), pmod(h(col("id"), lit(4)), lit(5000)).cast("string"), lit(" corp")).as("u"),
      concat(lit("acme "), pmod(h(col("id"), lit(5)), lit(5000)).cast("string"), lit(" co")).as("v"),
      h(col("id"), lit(6)).as("k"),
      // KMV hashes into [0, 2^32), as the engine's sketch queries do
      pmod(h(col("id"), lit(7)), lit(4294967296L)).as("h32"))
      .persist()
    df.count()
    // the filter holds the even ids' keys and is probed as a literal, as
    // the engine's dedup gate probes its broadcast filter
    val bloom = df.filter(col("id") % 2 === 0)
      .agg(BloomFunctions.bloomBuild(col("k"), 1 << 20, 5)).head().getAs[Array[Byte]](0)
    val probe = BloomFunctions.bloomMightContain(lit(bloom), col("k")).cast("int")

    val (dotS, dot) = time(df, VectorFunctions.vecDot(col("a"), col("b")), "vec_dot", tracer)
    val (dotB, dotRef) = time(df, aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x), "vec_dot.builtin", tracer)
    val (sicS, sic) = time(df, TextSimilarity.sortedIntersectCount(col("s"), col("t")),
      "sorted_intersect_count", tracer)
    val (sicB, sicRef) = time(df, size(array_intersect(col("s"), col("t"))),
      "sorted_intersect_count.builtin", tracer)
    val (kmvS, kmv) = timeAgg(df, SketchFunctions.kmvDistinctEst(col("h32"), 1024), "kmv", tracer)
    val (kmvB, hll) = timeAgg(df, approx_count_distinct(col("h32")), "kmv.builtin", tracer)
    val exact = df.agg(countDistinct(col("h32"))).head().getLong(0).toDouble
    val (bloomS, _) = time(df, probe, "bloom_probe", tracer)
    val hits = df.filter(col("id") % 2 === 0).agg(sum(probe)).head().getLong(0)
    val (jwS, jw) = time(df, TextSimilarity.jaroWinkler(col("u"), col("v")), "jaro_winkler", tracer)
    val jwSelf = df.agg(min(TextSimilarity.jaroWinkler(col("u"), col("u")))).head().getDouble(0)
    df.unpersist()

    val rate = (s: Double) => n / s
    Map(
      "kernel.vec_dot.rows_per_s" -> rate(dotS), "kernel.vec_dot.builtin_rows_per_s" -> rate(dotB),
      "kernel.sorted_intersect_count.rows_per_s" -> rate(sicS),
      "kernel.sorted_intersect_count.builtin_rows_per_s" -> rate(sicB),
      "kernel.kmv.rows_per_s" -> rate(kmvS), "kernel.kmv.builtin_rows_per_s" -> rate(kmvB),
      "kernel.bloom_probe.rows_per_s" -> rate(bloomS),
      "kernel.jaro_winkler.rows_per_s" -> rate(jwS),
      "kernel_checks" -> Map(
        "vec_dot_equal" -> (math.abs(dot - dotRef) <= 1e-9 * math.max(1.0, math.abs(dotRef))),
        "sorted_intersect_count_equal" -> (sic == sicRef),
        // both estimate the distinct count: each within twice its designed
        // relative error of the exact count (KMV k=1024: ~3%; HLL: 5%)
        "kmv_within_error" -> (math.abs(kmv - exact) / exact < 0.06),
        "approx_count_distinct_within_error" -> (math.abs(hll - exact) / exact < 0.1),
        "bloom_no_false_negatives" -> (hits == n / 2),
        "jaro_winkler_identity" -> (jwSelf == 1.0),
        "jaro_winkler_in_range" -> (jw >= 0 && jw <= n)))
  }

  /** `htmlToText` as a Spark job, `SectionExtractor.extract` and
    * `Chunker.chunk` in the driver, each over the stage's own input. */
  def text(spark: SparkSession, filings: Filings, tracer: Tracer): Map[String, Any] = {
    import spark.implicits._
    val html = spark.createDataset(filings.batch(0)).toDF().persist()
    html.count()
    val htmlMb = filings.batch(0).map(_.html.getBytes("UTF-8").length).sum / 1048576.0
    val htmlS = median((0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("text.html")(html.agg(sum(length(HtmlText.htmlToText(col("html"))))).head())
      (System.nanoTime() - t0) / 1e9
    })
    val texts = html.select(HtmlText.htmlToText(col("html"))).as[String].collect().toSeq
    html.unpersist()
    val textMb = texts.map(_.length).sum / 1048576.0
    var sections = Seq.empty[String]
    val secS = median((0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      sections = tracer.span("text.section")(texts.flatMap(SectionExtractor.extract).map(_._2))
      (System.nanoTime() - t0) / 1e9
    })
    val secMb = sections.map(_.length).sum / 1048576.0
    val chunkS = median((0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("text.chunk")(sections.map(Chunker.chunk(_).size).sum)
      (System.nanoTime() - t0) / 1e9
    })
    Map("text.html_mb_per_s" -> htmlMb / htmlS, "text.section_mb_per_s" -> textMb / secS,
      "text.chunk_mb_per_s" -> secMb / chunkS, "text_sections" -> sections.size)
  }
}
