package graft.plans

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

import graft.TestSpark
import graft.queries.{Cached, Registry}

/** The fleet plan pass shared by the registry-wide audits
  * (WindowAuditSpec, PlanComplexitySpec, PlanSpec's every-query net):
  * each registered query is built ONCE under Cached.auditPlan at sf0.001,
  * and only the facts those audits read are kept — not the
  * QueryExecution, whose trees would otherwise stay live for the rest of
  * the suite. */
object FleetPlans {

  val SfDir = "/root/testdata/sf0.001"
  val BuildBoxSec = 120L

  /** @param analyzedNodes node count of the analyzed logical plan
    * @param unpartitionedWindows windows with an empty partition spec in
    *   the pre-AQE physical plan
    * @param pmodWindows windows partitioned by a constant `pmod(col, 1)` key
    * @param executedPlan `executedPlan.toString` */
  final case class Facts(
      analyzedNodes: Int,
      unpartitionedWindows: Seq[String],
      pmodWindows: Seq[String],
      executedPlan: String)

  /** Windows whose partition keys satisfy `spec`. The analyzer moves a
    * non-attribute partition key into an alias below the window (`pmod(x,
    * 1) AS _w0`) and partitions by that alias, so a key that is an alias
    * is read as the expression it names (one level: a plain column
    * computed from a pmod further down is not a constant key). */
  private def windows(plan: SparkPlan)(spec: Seq[Expression] => Boolean): Seq[String] = {
    val aliases = plan.flatMap(_.expressions)
      .flatMap(_.collect { case a: Alias => a.exprId -> a.child }).toMap
    def keys(partitionSpec: Seq[Expression]) = partitionSpec.map {
      case a: Attribute => aliases.getOrElse(a.exprId, a)
      case e => e
    }
    plan.collect {
      case w: WindowExec if spec(keys(w.partitionSpec)) =>
        s"WindowExec(${w.windowExpression.map(_.sql).mkString(", ")})"
      case w: WindowGroupLimitExec if spec(keys(w.partitionSpec)) =>
        s"WindowGroupLimitExec(limit=${w.limit})"
    }
  }

  private def factsOf(qe: QueryExecution): Facts = Facts(
    qe.analyzed.collect { case n => n }.size,
    windows(qe.sparkPlan)(_.isEmpty),
    windows(qe.sparkPlan)(_.exists(_.sql.contains("pmod"))),
    qe.executedPlan.toString)

  /** Each registered query's facts, or why it has none: its build or
    * analysis threw, or did not finish inside [[BuildBoxSec]]. */
  lazy val all: Seq[(String, Either[String, Facts])] = {
    val spark = TestSpark.spark
    // daemon pool: a query hung in analysis must fail the audits with its
    // name, not hang the suite (the round-7 failure mode for sbt test)
    val pool = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "plan-audit")
      t.setDaemon(true)
      t
    })
    try Registry.all.map { q =>
      val fut = pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = Cached.auditPlan {
          val df = q.build(spark, SfDir)
          df.queryExecution.analyzed
          df
        }
      })
      val facts =
        try {
          val df = fut.get(BuildBoxSec, TimeUnit.SECONDS)
          Right(Cached.auditPlan(factsOf(df.queryExecution)))
        } catch {
          case _: TimeoutException =>
            fut.cancel(true)
            Left(s"analysis did not finish in ${BuildBoxSec}s — " +
              "exponential lineage (see round-7 q_bradley_terry postmortem)")
          case e: Throwable =>
            Left(s"build threw ${Option(e.getCause).getOrElse(e)}")
        }
      q.name -> facts
    } finally pool.shutdown()
  }

  /** `name: finding` lines for every query `findings` flags, plus
    * `name: <why>` for every query without facts; queries `skip` names are
    * left out. */
  def offenders(skip: Set[String] = Set.empty)(
      findings: (String, Facts) => Seq[String]): Seq[String] =
    all.filterNot(e => skip(e._1)).flatMap {
      case (name, Right(f)) => findings(name, f).map(x => s"$name: $x")
      case (name, Left(why)) => Seq(s"$name: $why")
    }
}
