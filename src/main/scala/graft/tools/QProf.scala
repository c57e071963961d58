package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Round-6 optimization profiler: for each query id, dump the
  * `.explain("formatted")` plan and time REPS warm `count()` runs while
  * counting Spark jobs/stages — the guide-§1 "measure first" loop in one
  * command.
  *
  *   SPARK_GRAFT_REPS=3 sbt -batch "runMain graft.tools.QProf q106_page_rank ..."
  *
  * The dumps go to the git-ignored target/qprof/<qid>.txt. Only a run
  * with `SPARK_GRAFT_PLAN_TAG` set writes plans/r06/<qid>_<tag>.txt, the
  * committed before/after evidence, so a plain run never overwrites it.
  *
  * The session is `GraftSession.build` (local[`SPARK_GRAFT_CPUS`],
  * default 4; shuffle partitions = cores, AQE on), the settings Bench
  * uses, so plan shapes match what Bench measures at the same core count.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val (planDir, suffix) = sys.env.get("SPARK_GRAFT_PLAN_TAG")
      .fold(("target/qprof", ""))(t => ("plans/r06", s"_$t"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.GraftSession.build("graft-qprof")

    @volatile var jobs = 0
    @volatile var stages = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
    })

    // warm-up (same spirit as Bench/QTime)
    SparkEntry.queries("q10_pricing_summary")(spark, sf).count()
    SparkEntry.queries("q31_ann_l2")(spark, sf).count()
    graft.util.CacheBag.release()

    Files.createDirectories(Paths.get(planDir))
    for (q <- args) {
      // plan dump (pre-execution formatted plan, driver-checkable)
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        val planStr = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$planDir/$q$suffix.txt"), planStr.getBytes("UTF-8"))
        val exch = "Exchange".r.findAllIn(planStr).length
        graft.util.CacheBag.release()
        val times = (1 to reps).map { _ =>
          val j0 = jobs; val s0 = stages
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(q)(spark, sf).count()
          val sec = (System.nanoTime() - t0) / 1e9
          graft.util.CacheBag.release()
          (sec, jobs - j0, stages - s0, n)
        }
        val med = times.map(_._1).sorted.apply(reps / 2)
        println(f"QPROF $q med=$med%.2f runs=${times.map(t => f"${t._1}%.2f").mkString(",")} " +
          f"jobs=${times.last._2} stages=${times.last._3} exchanges=$exch rows=${times.last._4}")
      } catch {
        case e: Throwable => println(s"QPROF $q FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
