package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession recipe behind every entry point (Bench,
  * Verify, GenScale, Tool). */
object Session {

  /** Local cores: SPARK_GRAFT_CPUS, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI and
    * WARN logging; `extra` confs are applied last, so they override. */
  def local(cpus: Int = Session.cpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the codegen LRU defaults to 100 generated-class entries; a
      // ~240-query sweep (plus the sf1 repeat) cycles ~500 plan shapes
      // through it, so by mid-sweep EVERY query recompiles every stage —
      // janino defines serialize on a class-load monitor and the
      // round-12 boxed-kill dumps caught executor threads queued there.
      // 2000 entries keeps the sweep's working set resident.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
