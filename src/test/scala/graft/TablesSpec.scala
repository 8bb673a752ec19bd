package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.load` memoizes Spark's inferred parquet schema per path: the
  * memoized read must be indistinguishable from a bare `spark.read.parquet`,
  * plan with no Spark job once warm, and re-infer when the files or the
  * parquet confs change. */
class TablesSpec extends SparkSpec {
  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Runs `body` in a fresh temp directory and deletes it afterwards. */
  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def copyTable(from: String, toDir: JPath, name: String): Unit =
    Files.copy(new java.io.File(from).toPath, toDir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

  /** The single data file Spark wrote under `dir`. */
  private def partFile(dir: JPath): JPath =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.head

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("memoized schema equals Spark's inferred schema for every table at sf0.001 and sf0.01") {
    for (dir <- sfDirs; t <- tables) {
      val bare = spark.read.parquet(s"$dir/$t.parquet").schema
      // twice: the first load may infer, the second comes from the memo
      for (_ <- 1 to 2) {
        val got = Tables.load(spark, dir, t).schema
        assert(got == bare, s"$dir/$t")
        assert(got.fields.map(_.metadata).toSeq == bare.fields.map(_.metadata).toSeq, s"$dir/$t")
      }
    }
  }

  test("events: same schema and rows as the bare-read loader") {
    def bareEvents(dir: String): DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts_us", expr("ts div 1000L"))
            .withColumn("ts", timestamp_micros(col("ts_us")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
            .withColumn("ts_us", unix_micros(col("ts")))
        case _ =>
          raw.withColumn("ts_us", unix_micros(col("ts")))
      }
    }
    for (dir <- sfDirs) {
      val want = bareEvents(dir)
      for (_ <- 1 to 2) {
        val got = Tables.events(spark, dir)
        assert(got.schema == want.schema, dir)
        assert(sortedRows(got) == sortedRows(want), dir)
      }
    }
  }

  test("a second load launches no Spark job; the first load of a new path infers once") {
    withTempDir { tmp =>
      copyTable(s"${sfDirs.head}/orders.parquet", tmp, "orders")
      assert(jobsIn(Tables.load(spark, tmp.toString, "orders").schema) == 1)
      assert(jobsIn(Tables.load(spark, tmp.toString, "orders").schema) == 0)
      for (dir <- sfDirs; t <- tables) {
        Tables.load(spark, dir, t)
        assert(jobsIn(Tables.load(spark, dir, t).queryExecution.optimizedPlan) == 0, s"$dir/$t")
      }
    }
  }

  test("overwriting a Spark-written directory table with a new schema re-infers") {
    withTempDir { tmp =>
      val path = tmp.resolve("t.parquet").toString
      spark.range(5).selectExpr("id", "cast(id as string) AS s")
        .write.mode("overwrite").parquet(path)
      assert(Tables.load(spark, tmp.toString, "t").columns.toSeq == Seq("id", "s"))
      assert(Tables.load(spark, tmp.toString, "t").count() == 5)
      spark.range(3).selectExpr("cast(id * 2 AS double) AS x")
        .write.mode("overwrite").parquet(path)
      val after = Tables.load(spark, tmp.toString, "t")
      assert(after.schema == spark.read.parquet(path).schema)
      assert(after.columns.toSeq == Seq("x"))
      assert(after.agg(sum("x")).head().getDouble(0) == 6.0)
    }
  }

  test("replacing a single-file table with a new schema re-infers") {
    withTempDir { tmp =>
      val a = tmp.resolve("a").toString
      val b = tmp.resolve("b").toString
      spark.range(4).selectExpr("id AS k").coalesce(1).write.parquet(a)
      spark.range(4).selectExpr("cast(id as int) AS k", "id % 2 = 0 AS even")
        .coalesce(1).write.parquet(b)
      val single = tmp.resolve("s.parquet")
      Files.copy(partFile(tmp.resolve("a")), single)
      assert(Tables.load(spark, tmp.toString, "s").schema == spark.read.parquet(a).schema)
      Files.copy(partFile(tmp.resolve("b")), single, StandardCopyOption.REPLACE_EXISTING)
      val after = Tables.load(spark, tmp.toString, "s")
      assert(after.schema == spark.read.parquet(b).schema)
      assert(after.where("even").count() == 2)
    }
  }

  test("a parquet conf that changes inference re-infers") {
    // the test data's events.ts is a µs timestamp without time zone: NTZ
    // under NTZ inference, a plain timestamp without it
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val dir = sfDirs.head
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampType)
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("eight threads loading the same new tables at once get equal schemas") {
    withTempDir { tmp =>
      val names = Seq("customer", "lineitem", "documents", "embeddings")
      names.foreach(t => copyTable(s"${sfDirs.head}/$t.parquet", tmp, t))
      val pool = Executors.newFixedThreadPool(8)
      try {
        val futures = (0 until 8).map { _ =>
          pool.submit(new Callable[Seq[org.apache.spark.sql.types.StructType]] {
            def call() = names.map(t => Tables.load(spark, tmp.toString, t).schema)
          })
        }
        val got = futures.map(_.get(120, TimeUnit.SECONDS))
        val want = names.map(t => spark.read.parquet(tmp.resolve(s"$t.parquet").toString).schema)
        got.foreach(s => assert(s == want))
      } finally pool.shutdownNow()
    }
  }
}
