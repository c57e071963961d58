package graft.jobs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-metrics sink (SURVEY.md §2 A5): a QueryExecutionListener that
  * records, for every completed action on the session, the action name,
  * wall time, and the root operator's output-row metric. Complements the
  * per-partition lineage JSON (SnapshotTable.writeLineage) — lineage says
  * what each bucket produced; this says what each job cost.
  */
final class MetricsCollector extends QueryExecutionListener {

  final case class QueryMetric(action: String, durationMs: Long, outputRows: Option[Long],
      error: Option[String])

  private val queue = new ConcurrentLinkedQueue[QueryMetric]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rows = qe.executedPlan.metrics.get("numOutputRows").map(_.value)
    queue.add(QueryMetric(funcName, durationNs / 1000000, rows, None))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    queue.add(QueryMetric(funcName, -1, None,
      Option(exception.getMessage).orElse(Some(exception.toString))))

  def snapshot(): Seq[QueryMetric] = queue.iterator().asScala.toSeq
  def clear(): Unit = queue.clear()
}

object MetricsCollector {
  /** Attach a collector to the session; returns it for inspection. */
  def attach(spark: SparkSession): MetricsCollector = {
    val c = new MetricsCollector
    spark.listenerManager.register(c)
    c
  }
}

/** Spark jobs started and stages completed while a block ran, with the
  * wall seconds of each finished job in job-id order (from the events'
  * own timestamps, so listener delivery lag does not count). */
final case class JobCounts(jobs: Int, stages: Int, jobSeconds: Seq[Double])

object JobCounts {
  /** Runs `f` and counts the jobs and stages it schedules: the one job
    * counter behind `graft.tools.Profile` and every job-count spec. The
    * listener bus is drained before the listener attaches, so no earlier
    * action's late events count, and again after `f`, so none of its own
    * are missed — the counts are exact, not a race against a sleep. */
  def during[A](spark: SparkSession)(f: => A): (A, JobCounts) = {
    val sc = spark.sparkContext
    val starts = new ConcurrentHashMap[Int, Long]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val stages = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { starts.put(j.jobId, j.time); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { ends.put(j.jobId, j.time); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      ListenerBusBridge.drain(sc)
      val ids = starts.keySet.asScala.toSeq.sorted
      val secs = ids.filter(ends.containsKey).map(id => (ends.get(id) - starts.get(id)) / 1000.0)
      (a, JobCounts(ids.size, stages.get, secs))
    } finally sc.removeSparkListener(l)
  }
}
