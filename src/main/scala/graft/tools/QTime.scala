package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
/** Per-query wall-time probe at sf0.1/local[32] with JVM warm-up —
  * `runMain graft.tools.QTime <query ids...>`. The headline and skew-join
  * paths are timed by perfbench instead
  * (`python3 perfbench/run.py --workload pip_tile|skew_join ...`). */
object QTime {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
