package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark calls made inside one span cost, summed over their jobs,
  * stages, tasks and query executions. */
final class Cost {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var queries = 0L
  var exchanges = 0L
  var planningMs = 0L
  var fallbackNodes = 0L
  /** Largest max/median executor run time over this span's stages. */
  var taskSkew = 1.0

  def add(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    queries += o.queries; exchanges += o.exchanges; planningMs += o.planningMs
    fallbackNodes += o.fallbackNodes; taskSkew = math.max(taskSkew, o.taskSkew)
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "queries" -> queries, "exchanges" -> exchanges, "planning_ms" -> planningMs,
    "codegen_fallback_nodes" -> fallbackNodes, "task_skew" -> taskSkew)
}

final class Span(val id: Int, val name: String, val parent: Int, val run: Int,
    val startNs: Long) {
  var endNs = 0L
  val cost = new Cost
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer, plus the
  * Spark-side cost of each span: a SparkListener attributes jobs, stages
  * and tasks through a local property that names the open span, and a
  * QueryExecutionListener inspects each executed plan. Spans stay in
  * memory and are written out when the run ends. With tracing off, `span`
  * runs its body and records nothing. */
final class Tracer(spark: SparkSession, t0Ns: Long) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageRuns = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  @volatile private var current: Span = null
  private var attached = false
  var on = false
  var run = 0

  private def attach(): Unit = if (!attached) {
    attached = true
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
            s.cost.synchronized { s.cost.jobs += 1 }
            e.stageIds.foreach(stageSpan.put(_, s))
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { s =>
          val m = e.taskMetrics
          if (m != null) s.cost.synchronized {
            s.cost.tasks += 1
            s.cost.runMs += m.executorRunTime
            s.cost.gcMs += m.jvmGCTime
            s.cost.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.cost.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            stageRuns.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]()) += m.executorRunTime
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
          val runs = Option(stageRuns.remove(e.stageInfo.stageId)).map(_.sorted).getOrElse(ArrayBuffer())
          s.cost.synchronized {
            s.cost.stages += 1
            if (runs.size >= 2) {
              val med = math.max(1L, runs(runs.size / 2))
              s.cost.taskSkew = math.max(s.cost.taskSkew, runs.last.toDouble / med)
            }
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Option(current).foreach { s =>
          val nodes = Tracer.planNodes(qe.executedPlan)
          val planning = qe.tracker.phases.values.map(_.durationMs).sum
          val fallback = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
          s.cost.synchronized {
            s.cost.queries += 1
            s.cost.planningMs += planning
            s.cost.exchanges += nodes.count(_.isInstanceOf[Exchange])
            s.cost.fallbackNodes += fallback
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def drain(): Unit = ListenerDrain(sc)

  /** Run `body` inside a span named `name`; returns its result and the
    * seconds the body took (the drains around it are not counted). */
  def span[T](name: String)(body: => T): (Double, T) = {
    if (!on) {
      val t = System.nanoTime()
      val r = body
      return ((System.nanoTime() - t) / 1e9, r)
    }
    attach()
    drain()
    val parent = current
    val s = new Span(spans.size, name, Option(parent).map(_.id).getOrElse(-1), run,
      System.nanoTime())
    spans += s
    byId.put(s.id, s)
    current = s
    sc.setLocalProperty(Key, s.id.toString)
    try {
      val r = body
      s.endNs = System.nanoTime()
      (s.seconds, r)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      drain()
      current = parent
      sc.setLocalProperty(Key, Option(parent).map(_.id.toString).orNull)
    }
  }

  /** Spans of one run (cycle) id, with their costs summed. */
  def runCost(runId: Int): Cost = {
    val c = new Cost
    spans.filter(_.run == runId).foreach(s => c.add(s.cost))
    c
  }

  /** Per span name: the span plus its descendants' cost, per occurrence. */
  def inclusive(s: Span): Cost = {
    val c = new Cost
    c.add(s.cost)
    spans.filter(_.parent == s.id).foreach(ch => c.add(inclusive(ch)))
    c
  }

  def spansJsonl: String = spans.map { s =>
    Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
      "cost" -> s.cost.toMap))
  }.mkString("", "\n", "\n")
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages; a reused exchange is listed once, not walked again. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case c: CommandResultExec => c +: planNodes(c.commandPhysicalPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }
}
