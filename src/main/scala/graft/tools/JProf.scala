package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._

/** Job/stage profile for one suite query at sf0.1 — how many jobs and
  * stages an action schedules and where the wall time goes (fixed
  * stage-latency diagnosis; round-2 verdict). Usage:
  * `runMain graft.tools.JProf <qid> [<qid>...]`. The session is
  * `GraftSession.build`: local[`SPARK_GRAFT_CPUS`] (default 4). */
object JProf {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.build("graft-jprof")
    val sf = "/root/testdata/sf0.1"
    SparkEntry.queries("q10_pricing_summary")(spark, sf).count() // warm-up
    for (q <- args) {
      SparkEntry.queries(q)(spark, sf).count() // warm pass
      graft.util.CacheBag.release()
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val stages = new java.util.concurrent.atomic.AtomicInteger
      var t0 = 0L
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.put(j.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val s = jobs.getOrDefault(j.jobId, 0L)
          println(f"  job ${j.jobId}%3d  ${(System.nanoTime() - s) / 1e9}%6.2f s")
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sf)
      val tPlan = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
      graft.util.CacheBag.release()
      println(f"PROF $q construct=$tPlan%.2f total=$total%.2f s jobs=${jobs.size} stages=${stages.get} rows=$n")
    }
    spark.stop()
  }
}
