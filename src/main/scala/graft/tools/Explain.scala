package graft.tools
import graft.SparkEntry

/** Plan summary per query — `runMain graft.tools.Explain <qid>...`: hash
  * exchanges, nested-loop joins and codegen spans of the executed plan,
  * on SPARK_GRAFT_SF_DIR (default sf0.01). The session is
  * `GraftSession.build`: local[`SPARK_GRAFT_CPUS`] (default 4). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.build("graft-explain")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for (q <- args) {
      val df = SparkEntry.queries(q)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      val bnl = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
      val codegen = "WholeStageCodegen".r.findAllIn(plan).length
      println(s"PLAN $q shuffles=$shuffles nestedloop=$bnl codegenSpans=$codegen")
    }
    spark.stop()
  }
}
