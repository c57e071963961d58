package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.jobs.JobCounts
import graft.testutil.SparkTestBase

/** `Inputs` pins each generated table's schema: it must be exactly the
  * schema Spark infers from the files at every scale factor, and reading
  * under it must run no Spark job. */
class InputsSpec extends SparkTestBase {

  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "documents" -> Inputs.documents, "embeddings" -> Inputs.embeddings,
    "lineitem" -> Inputs.lineitem, "orders" -> Inputs.orders,
    "customer" -> Inputs.customer, "events" -> Inputs.events)

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); (table, read) <- tables)
    test(s"$table at $sf: the pinned schema equals the inferred one") {
      val dir = s"/root/testdata/$sf"
      val (df, built) = JobCounts.during(spark)(read(spark, dir))
      assert(df.schema === spark.read.parquet(s"$dir/$table.parquet").schema)
      assert(built.jobs === 0)
    }
}
