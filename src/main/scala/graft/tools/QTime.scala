package graft.tools

import graft.SparkEntry

/** Per-query wall-time probe at sf0.1 with JVM warm-up —
  * `runMain graft.tools.QTime <query ids...>`, on a `GraftSession.build`
  * session: local[`SPARK_GRAFT_CPUS`] (default 4). The headline and skew-join
  * paths are timed by perfbench instead
  * (`python3 perfbench/run.py --workload pip_tile|skew_join ...`). */
object QTime {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.build("graft-qtime")
    val sf = "/root/testdata/sf0.1"
    // warm-up: absorb session/codegen startup cost
    SparkEntry.queries("q10_pricing_summary")(spark, sf).count()
    SparkEntry.queries("q31_ann_l2")(spark, sf).count()
    for (q <- args) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sf).count()
      println(f"TIMING $q ${(System.nanoTime()-t0)/1e9}%.2f s, $n rows")
      graft.util.CacheBag.release()
    }
    spark.stop()
  }
}
