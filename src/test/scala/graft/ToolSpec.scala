package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

import graft.queries.{Cached, Registry}

/** graft.Tool's command dispatch, name checks, failure policy and plan
  * rendering, on the shared test session. */
class ToolSpec extends SparkSpec {

  private val sfDir = graft.plans.FleetPlans.SfDir

  /** (result of `args`, its stdout lines) */
  private def run(args: String*): (Boolean, Seq[String]) = {
    val out = new ByteArrayOutputStream()
    val ok = Console.withOut(out)(Tool.run(spark, args))
    (ok, out.toString("UTF-8").linesIterator.toSeq)
  }

  /** Spark jobs started on any thread while `body` runs. */
  private def allJobsIn(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 30000)
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("tool-spec")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  test("an unknown command fails and names it") {
    val e = intercept[IllegalArgumentException](run("benchone", sfDir))
    assert(e.getMessage.contains("'benchone'"), e.getMessage)
  }

  test("unknown query names fail before any query runs, each named") {
    val names = Seq("q_pricing_summary", "q_no_such_a", "q_no_such_b")
    for (args <- Seq(
        Seq("time", sfDir) ++ names,
        Seq("ab", sfDir, "1") ++ names,
        Seq("stages", sfDir) ++ names,
        Seq("spill", sfDir) ++ names,
        Seq("plans", sfDir, "unused-dir", "x") ++ names.map("raw:" + _))) {
      var msg = ""
      val jobs = allJobsIn {
        msg = intercept[IllegalArgumentException](run(args: _*)).getMessage
      }
      assert(msg.contains("q_no_such_a") && msg.contains("q_no_such_b") &&
        !msg.contains("q_pricing_summary"), s"${args.head}: $msg")
      assert(jobs == 0, s"${args.head} ran $jobs jobs before failing")
    }
    assert(!new java.io.File("unused-dir").exists())
  }

  test("time prints one line per query, in order") {
    val (ok, lines) = run("time", sfDir, "q_pricing_summary", "q_filtered_revenue")
    assert(ok)
    assert(lines.size == 2, lines)
    assert(lines(0).matches("""\[benchone\] q_pricing_summary \d+\.\d\d s"""), lines)
    assert(lines(1).matches("""\[benchone\] q_filtered_revenue \d+\.\d\d s"""), lines)
  }

  test("the warm-up loads every table under the dir, so no timed query " +
      "pays a schema inference") {
    withTempDir { dir =>
      val tables = new java.io.File(sfDir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
      tables.foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
      val (ok, _) = run("time", dir.toString, "q_pricing_summary")
      assert(ok)
      val jobs = allJobsIn {
        Tables.events(spark, dir.toString).queryExecution.optimizedPlan
        tables.map(_.getName.stripSuffix(".parquet")).filterNot(_ == "events")
          .foreach(t => Tables.load(spark, dir.toString, t).queryExecution.optimizedPlan)
      }
      assert(jobs === 0)
    }
  }

  test("a failing query is reported and the run goes on, ending false") {
    withTempDir { empty =>
      val (ok, lines) = run("time", empty.toString, "q_pricing_summary",
        "q_filtered_revenue")
      assert(!ok)
      assert(lines.isEmpty, lines)
    }
  }

  test("plans writes the audit plan by default and the executed plan for raw:") {
    // ids assigned per build differ between two builds of the same plan:
    // expression and plan ids, and in the executed plan the pins' RDD ids
    // and the codegen and operator ids of the cached plans under them
    def masked(s: String) = s.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=").replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("codegen id : \\d+", "codegen id : ")
      .replaceAll("(?m)^Arguments: \\d+$", "Arguments: ")
    def diffs(a: String, b: String) = masked(a).linesIterator.zipAll(
      masked(b).linesIterator, "<end>", "<end>").filter(p => p._1 != p._2).take(10).toSeq
    val q = Registry.all.find(_.name == "q_curation_e2e").get
    def fmt = q.build(spark, sfDir).queryExecution.explainString(FormattedMode)
    withTempDir { dir =>
      assert(run("plans", sfDir, dir.toString, "a", "q_curation_e2e")._1)
      assert(run("plans", sfDir, dir.toString, "r", "raw:q_curation_e2e")._1)
      val audit = Files.readString(dir.resolve("q_curation_e2e_a.txt"))
      val raw = Files.readString(dir.resolve("q_curation_e2e_r.txt"))
      try {
        assert(diffs(audit, Cached.auditPlan(fmt)).isEmpty)
        assert(diffs(raw, fmt).isEmpty)
        assert(raw.contains("Scan ExistingRDD") && !audit.contains("Scan ExistingRDD"))
      } finally spark.catalog.clearCache()
    }
  }
}
