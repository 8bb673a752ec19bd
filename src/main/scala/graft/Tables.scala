package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata (see TESTDATA.md).
  *
  * All tables are plain parquet under `dir` (e.g. /root/testdata/sf0.01).
  * Loaders return the raw schema except `events`, which needs nanosecond
  * handling (below). Filters/projections applied downstream are pushed into
  * the parquet scan by Catalyst — keep these loaders bare so pushdown works:
  * each one is a plain `spark.read...parquet(path)`, i.e. a `HadoopFsRelation`
  * leaf the optimizer prunes and pushes filters into; a loader that
  * projected, cast or cached here would sit between the scan and the query.
  *
  * Schema memo. A bare `spark.read.parquet` infers the schema from the
  * footers with one Spark job per call, and the query builders call these
  * loaders ~320 times. `load` therefore keeps a JVM-wide memo of Spark's
  * own inferred schema, one entry per qualified path, holding
  *   - the stamp: (relative name, length, mtime) of every file under the
  *     path (the file itself for a single-file table; every file of a
  *     Spark-written directory), read through the path's Hadoop FileSystem
  *     on the Spark driver — a superset of the data files Spark lists;
  *   - the session's `spark.sql.*parquet*` confs, which change inference
  *     (`spark.sql.legacy.parquet.nanosAsLong`, set by `events`, turns
  *     `ts` into a long);
  *   - the StructType Spark inferred.
  * A load whose stamp and confs equal the entry's reads with
  * `spark.read.schema(memo).parquet(path)` — the same relation, planned with
  * no Spark job. On a miss or any difference it infers exactly as a bare
  * read does (one job) and replaces the entry. Two threads missing at once
  * may both infer; they store equal schemas, so the race is harmless. A
  * missing path is read bare, so its error is Spark's own.
  */
object Tables {
  private final case class Inferred(stamp: Seq[(String, Long, Long)],
                                    confs: Map[String, String],
                                    schema: StructType)
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val qualified = fs.makeQualified(p)
      val key = qualified.toString
      val stamp = fileStamp(fs, qualified)
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") && k.contains("parquet")
      }
      val hit = inferred.get(key)
      val schema =
        if (hit != null && hit.stamp == stamp && hit.confs == confs) hit.schema
        else {
          val s = spark.read.parquet(path).schema
          inferred.put(key, Inferred(stamp, confs, s))
          s
        }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** (name relative to `root`, length, mtime) of every file under `root`,
    * or of `root` itself when it is a file; sorted by name. */
  private def fileStamp(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val prefix = root.toString
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString.stripPrefix(prefix), f.getLen, f.getModificationTime))
    }
    out.result().sortBy(_._1)
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** events.parquet stores TIMESTAMP(NANOS,false), which Spark's parquet
    * reader rejects outright ([PARQUET_TYPE_ILLEGAL]). Read the nanos as a
    * plain long (legacy conf) and derive:
    *   - ts_us: microseconds-since-epoch (long) — integer `div`, NOT `/`,
    *     because ns-since-epoch (~1.7e18) exceeds double's 53-bit mantissa;
    *   - ts:    a proper TimestampType column (µs precision, matching what
    *     DuckDB sees after its own ns→µs truncation).
    *
    * Generated scale-ups (GenScale's sf1) store ts as a plain µs TIMESTAMP
    * so DuckDB can run the oracle there directly — that branch only
    * derives ts_us.
    *
    * Round 6: the driver's regenerated testdata stores ts as timestamp[us]
    * WITHOUT timezone, which Spark reads as TIMESTAMP_NTZ and `unix_micros`
    * rejects. Every graft session pins spark.sql.session.timeZone=UTC, so
    * casting NTZ→TIMESTAMP is value-identity here and keeps the rest of the
    * engine (and the DuckDB oracle, which sees a naive µs timestamp either
    * way) unchanged. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_us", expr("ts div 1000L"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_us", unix_micros(col("ts")))
      case _ =>
        raw.withColumn("ts_us", unix_micros(col("ts")))
    }
  }
}
