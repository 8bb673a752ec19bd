package perfbench

import java.lang.management.ManagementFactory

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span. Tasks and stages arrive through the
  * job group (set to the span id while the span is open); planning phases
  * arrive through the query-execution listener and are charged to the
  * operation that was running. */
final class Usage {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs, "scan_bytes" -> scanBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

/** One timed interval of benchmark work: an operation (`op` >= 0) or a
  * layer call inside one; `parent` is 0 at the top level. */
final case class Span(id: Long, name: String, parent: Long, op: Int, startNs: Long,
    var endNs: Long = 0L, usage: Usage = new Usage)

/** Spans around the benchmark's calls into the engine. Disabled, `span`
  * only runs its body: untraced runs register no listener and set no job
  * group. Enabled, every span is kept in memory and written when the run
  * ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  @volatile private var opSpan: Span = null

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .flatMap(g => byIdSync(g.toLong)).foreach { s =>
            s.usage.jobs += 1
            e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
          }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.usage.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { s =>
          val u = s.usage
          u.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            u.runMs += m.executorRunTime
            u.gcMs += m.jvmGCTime
            u.scanBytes += m.inputMetrics.bytesRead
            u.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            u.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            u.spillBytes += m.diskBytesSpilled
            u.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Option(opSpan).foreach { s =>
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          s.usage.analysisMs += ms("analysis")
          s.usage.optimizationMs += ms("optimization")
          s.usage.planningMs += ms("planning")
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def byIdSync(id: Long): Option[Span] = byId.synchronized(byId.get(id))

  /** Run `body` inside a span named `name`; `op` < 0 marks set-up work. */
  def span[T](name: String, op: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = byId.synchronized {
      val s = Span(nextId, name, parent.map(_.id).getOrElse(0L),
        parent.map(_.op).getOrElse(op), System.nanoTime())
      nextId += 1
      byId(s.id) = s
      s
    }
    spans += s
    stack = s :: stack
    if (parent.isEmpty) opSpan = s
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None =>
          sc.clearJobGroup()
          // events are delivered asynchronously: let this operation's
          // arrive before the next one starts charging
          org.apache.spark.perfbench.ListenerBus.drain(sc)
          opSpan = null
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
}

/** Peak old-generation occupancy after a collection, in MB.
  *
  * `reset` takes one full collection (untimed, before the first timed
  * operation) and starts the peak at the live data left after warm-up.
  * From then on every collection the JVM makes by itself reports the old
  * pools' usage after it, and the peak keeps the largest: the data the
  * operations hold (pins, persisted frames, broadcasts) at the moment a
  * collection runs. No collection is forced between operations. */
object OldGen {
  private def isOld(pool: String): Boolean = pool.contains("Old Gen") || pool.contains("Tenured")
  @volatile private var armed = false
  private val peakBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val seen = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
        peakBytes.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        seen.incrementAndGet()
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = {
    armed = false
    System.gc()
    peakBytes.set(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum)
    seen.set(0L)
    armed = true
  }

  /** Collections seen since `reset`. */
  def collections: Long = seen.get

  def peakMb: Double = peakBytes.get / 1048576.0
}
