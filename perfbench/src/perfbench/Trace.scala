package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer. Off
  * (a plain call) unless [[enable]] ran; kept in memory and written out
  * once at the end of the run. */
object Spans {
  final case class Span(id: Int, name: String, parent: Int, request: String,
                        startNs: Long, endNs: Long)

  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def enable(): Unit = on = true
  def disable(): Unit = on = false

  def apply[A](name: String, request: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, name, parent, request, t0, System.nanoTime()))
      }
    }

  /** A span whose bounds were measured elsewhere (a streaming trigger
    * phase reported by Spark). Returns its id, for use as a parent. */
  def record(name: String, request: String, parent: Int, startNs: Long,
             endNs: Long): Int =
    if (!on) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, request, startNs, endNs))
      id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: count, total seconds, and self seconds (duration minus
    * the part of it that child spans cover). */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.endNs - s.startNs).sum
      val self = group.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))).sum
        math.max(0L, s.endNs - s.startNs - covered)
      }.sum
      name -> ((group.size, total / 1e9, self / 1e9))
    }
  }
}

/** Spark's public listener APIs, registered by the traced run: scheduler
  * counts per scope (the `perfbench.scope` local property of the job),
  * planning phases and broadcasts per executed query, and the micro-batch
  * progress of streaming queries. */
final class Probe(spark: SparkSession) {
  final class Counts {
    var jobs, stages, tasks = 0L
    var taskTimeMs, shuffleWriteBytes, spillBytes = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var executions, broadcasts = 0L
    var worstSkew = 1.0
  }
  private val counts = new ConcurrentHashMap[String, Counts]
  private val stageScope = new ConcurrentHashMap[Int, String]
  private val executionScope = new ConcurrentHashMap[Long, String]
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]

  private def of(scope: String) = counts.computeIfAbsent(scope, _ => new Counts)
  private def scopeOf(p: java.util.Properties) =
    Option(p).flatMap(x => Option(x.getProperty(Probe.ScopeKey))).getOrElse("default")

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val scope = scopeOf(e.properties)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionScope.put(id.toLong, scope))
      val s = of(scope)
      s.synchronized(s.jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val scope = scopeOf(e.properties)
      stageScope.put(e.stageInfo.stageId, scope)
      val s = of(scope)
      s.synchronized(s.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        val s = of(stageScope.getOrDefault(e.stageId, "default"))
        s.synchronized {
          s.tasks += 1
          s.taskTimeMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
          m.executorRunTime
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val ms = Option(stageTaskMs.remove(e.stageInfo.stageId)).map(_.sorted).getOrElse(Nil)
      if (ms.size >= 2) {
        val median = math.max(1L, ms(ms.size / 2))
        val s = of(stageScope.getOrDefault(e.stageInfo.stageId, "default"))
        s.synchronized(s.worstSkew = math.max(s.worstSkew, ms.last.toDouble / median))
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = of(executionScope.getOrDefault(qe.id, Probe.currentScope))
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val b = Probe.nodes(qe.executedPlan).count(_.isInstanceOf[BroadcastExchangeExec])
      s.synchronized {
        s.analysisMs += ms("analysis"); s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning"); s.executions += 1; s.broadcasts += b
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(queries)
  spark.streams.addListener(streams)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Scheduler events arrive on an asynchronous bus; give it time to
    * drain before the counts are read. */
  def settle(): Unit = Thread.sleep(750)

  def scopes: Map[String, Counts] = counts.asScala.toMap

  /** Sum over the measured scopes: those not named with a leading `_`
    * (preparation, warm-up and output checks). */
  def total: Counts = {
    val t = new Counts
    counts.asScala.collect { case (k, c) if !k.startsWith("_") => c }.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskTimeMs += c.taskTimeMs; t.shuffleWriteBytes += c.shuffleWriteBytes
      t.spillBytes += c.spillBytes; t.analysisMs += c.analysisMs
      t.optimizationMs += c.optimizationMs; t.planningMs += c.planningMs
      t.executions += c.executions; t.broadcasts += c.broadcasts
      t.worstSkew = math.max(t.worstSkew, c.worstSkew)
    }
    t
  }
}

object Probe {
  val ScopeKey = "perfbench.scope"
  @volatile var currentScope = "default"

  /** Label the jobs and executions the calling thread starts from now on. */
  def scope(spark: SparkSession, name: String): Unit = {
    spark.sparkContext.setLocalProperty(ScopeKey, name)
    currentScope = name
  }

  /** Every node of an executed plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
