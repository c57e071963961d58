package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.SparkEntry
import graft.jobs.JobCounts
import graft.util.{CacheBag, GraftSession}

/** Per-query profiler: `runMain graft.tools.Profile <qid>...` dumps each
  * query's pre-execution formatted plan (to the git-ignored
  * target/qprof/<qid>.txt, or with `SPARK_GRAFT_PLAN_TAG` set to the
  * committed plans/r06/<qid>_<tag>.txt), then times `SPARK_GRAFT_REPS`
  * (default 3) warm build + `count()` runs on `SPARK_GRAFT_SF_DIR`
  * (default sf0.1), and prints one `PROFILE` line. Each run's build and
  * its `count()` are counted by separate [[JobCounts.during]] blocks:
  * cjobs are the jobs the build ran (0 for a lazy plan; COVERAGE.md lists
  * the eager exceptions), jobs/stages/jobSecs those of the count.
  * exchanges are the dumped plan's distinct `Exchange` nodes, a reused
  * one counted once (perfbench's `plans.exchanges` rule), with a cached
  * result's own plan walked too; codegen counts the whole-stage spans of
  * the last run's executed plan, as the pre-execution adaptive plan has
  * none yet. */
object Profile {
  final case class Settings(queries: Seq[String], reps: Int, sf: String, tag: Option[String]) {
    def dump(q: String): String = tag.fold(s"target/qprof/$q.txt")(t => s"plans/r06/${q}_$t.txt")
  }

  final case class Record(query: String, construct: Seq[Double], runs: Seq[Double],
      constructJobs: Seq[Int], counts: Seq[JobCounts], rows: Long, exchanges: Int,
      hashExchanges: Int, nestedLoop: Boolean, codegen: Int) {
    private def secs(xs: Seq[Double]) = if (xs.isEmpty) "-" else xs.map(x => f"$x%.2f").mkString(",")
    def line: String = f"PROFILE $query construct=${median(construct)}%.2f med=${median(runs)}%.2f " +
      s"runs=${secs(runs)} cjobs=${constructJobs.mkString(",")} " +
      s"jobs=${counts.map(_.jobs).mkString(",")} " +
      s"stages=${counts.map(_.stages).mkString(",")} jobSecs=${secs(counts.last.jobSeconds)} " +
      s"rows=$rows exchanges=$exchanges hashExchanges=$hashExchanges " +
      s"nestedLoop=$nestedLoop codegen=$codegen"
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Query ids and env checked before any session starts. */
  def settings(args: Seq[String], env: Map[String, String]): Settings = {
    require(args.nonEmpty, "usage: graft.tools.Profile <qid>...")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query id: ${unknown.mkString(", ")}")
    val reps = env.getOrElse("SPARK_GRAFT_REPS", "3")
    require(reps.toIntOption.exists(_ >= 1),
      s"SPARK_GRAFT_REPS must be an integer >= 1, got '$reps'")
    Settings(args, reps.toInt, env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      env.get("SPARK_GRAFT_PLAN_TAG"))
  }

  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and the plans of persisted frames, subqueries included;
    * a reused exchange is listed once, not walked again. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** Dumps `q`'s plan and profiles `reps` warm runs of it. */
  def profile(spark: SparkSession, s: Settings, q: String): Record = {
    val build = SparkEntry.queries(q)
    val qe = build(spark, s.sf).queryExecution
    val dump = Paths.get(s.dump(q))
    Files.createDirectories(dump.getParent)
    Files.write(dump, qe.explainString(FormattedMode).getBytes("UTF-8"))
    val nodes = planNodes(qe.executedPlan)
    val exchanges = nodes.collect { case e: Exchange => e }.distinctBy(_.canonicalized)
    CacheBag.release()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      (f, (System.nanoTime() - t0) / 1e9)
    }
    val runs = (1 to s.reps).map { _ =>
      // count() is exactly this aggregate, collected; its frame keeps the executed plan
      val ((counted, construct), built) =
        JobCounts.during(spark)(timed(build(spark, s.sf).groupBy().count()))
      val ((rows, run), counts) = JobCounts.during(spark)(timed(counted.collect().head.getLong(0)))
      CacheBag.release()
      (construct, construct + run, built.jobs, counts, rows, counted.queryExecution.executedPlan)
    }
    val (_, _, _, _, rows, executed) = runs.last
    Record(q, runs.map(_._1), runs.map(_._2), runs.map(_._3), runs.map(_._4), rows, exchanges.size,
      exchanges.count(_.outputPartitioning.isInstanceOf[HashPartitioning]),
      nodes.exists { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true; case _ => false },
      planNodes(executed).count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  def main(args: Array[String]): Unit = {
    val s = try settings(args.toSeq, sys.env) catch { case e: IllegalArgumentException =>
      System.err.println(s"graft.tools.Profile: ${e.getMessage}"); sys.exit(2) }
    val spark = GraftSession.build("graft-profile")
    // warm-up: absorb session and codegen start-up cost
    SparkEntry.queries("q10_pricing_summary")(spark, s.sf).count()
    SparkEntry.queries("q31_ann_l2")(spark, s.sf).count()
    CacheBag.release()
    for (q <- s.queries) {
      try println(profile(spark, s, q).line)
      catch {
        case NonFatal(e) => println(s"PROFILE $q FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally CacheBag.release()
    }
    spark.stop()
  }
}
