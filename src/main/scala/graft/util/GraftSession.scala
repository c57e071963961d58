package graft.util

import org.apache.spark.sql.SparkSession

/** Single source of truth for the engine's session configuration: the
  * CLI, the `graft.tools` mains and any future main build their session
  * here, with the core count from `SPARK_GRAFT_CPUS` (default 4).
  * Bench.scala and Verify.scala keep their own builders with the same
  * settings — those files are the harness contract and stay untouched. */
object GraftSession {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // under spark-submit the master comes from the launcher; default local
    val s = (if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
