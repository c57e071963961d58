package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.jobs.{IngestJob, JobCounts}
import graft.operators.{GeoSemanticQueries, IndexStoreQueries}
import graft.testutil.SparkTestBase
import graft.tools.Profile.planNodes

/** `Inputs` pins each generated table's schema: it must be exactly the
  * schema Spark infers from the files at every scale factor, and reading
  * under it must run no Spark job. The side artifacts of the fixture
  * tables are read under schemas pinned beside their writers, held to
  * the same rule. */
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

  /** (artifact dir, a query reading it, its pinned schema). */
  private val artifacts: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("inv/s1", IngestJob.incrementalInventory, IngestJob.StoredInvDdl),
    ("agg/s1", (s, d) => GeoSemanticQueries.incrementalCentroids(s, d),
      GeoSemanticQueries.StoredAggDdl),
    ("artifacts/centroids", (s, d) => IndexStoreQueries.servedCosineTopK(s, d),
      IndexStoreQueries.CentroidsDdl))

  for ((dir, query, ddl) <- artifacts)
    test(s"side artifact $dir: the pinned schema equals the inferred one") {
      val scanned = planNodes(query(spark, sf0001).queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s.relation.location.rootPaths }
        .flatten.map(_.toString)
      val path = scanned.find(_.endsWith(dir))
      assert(path.nonEmpty, s"no scan of $dir in ${scanned.mkString(", ")}")
      assert(spark.read.schema(ddl).parquet(path.get).schema ===
        spark.read.parquet(path.get).schema)
    }
}
