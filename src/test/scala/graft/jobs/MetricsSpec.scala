package graft.jobs

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusBridge
import graft.jobs.{IngestJob, JobCounts, MetricsCollector}
import graft.testutil.SparkTestBase

class MetricsSpec extends SparkTestBase {

  /** G1 — bulk archive in ONE pass, spatially clustered:
    * `repartitionByRange(p_cell, p_date)` range-partitions by the spatial
    * bucket (sampled bounds), so each output partition dir is written by
    * few tasks and files are cell-clustered. No per-bucket resume (that is
    * `IngestJob.run`). Returns the rows read back. */
  private def bulkArchive(sfDir: String, root: String): Long = {
    IngestJob.pagesWithPartitions(spark, sfDir)
      .repartitionByRange(col("p_cell"), col("p_date"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("p_cell", "p_date")
      .parquet(s"$root/data")
    spark.read.parquet(s"$root/data").count()
  }

  test("metrics collector records completed actions with durations") {
    val c = MetricsCollector.attach(spark)
    spark.read.parquet(s"$sf0001/documents.parquet").count()
    // listener bus is async — let the event land
    ListenerBusBridge.drain(spark.sparkContext)
    val ms = c.snapshot()
    assert(ms.nonEmpty)
    assert(ms.forall(_.durationMs >= 0))
    assert(ms.exists(_.action.nonEmpty))
    spark.listenerManager.unregister(c)
  }

  test("JobCounts.during counts exactly the jobs and stages its block runs") {
    val sc = spark.sparkContext
    // a listener that lags on every job end and stage completion keeps
    // those events queued after each action returns, so only the drains
    // around the block make these counts exact
    val lag = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(100)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(lag)
    try {
      // just before the block, a two-stage job: not counted
      sc.parallelize(1 to 10, 2).map(i => (i % 3, i)).reduceByKey(_ + _).count()
      val (_, c) = JobCounts.during(spark) {
        (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count())
      }
      assert(c.jobs === 3 && c.stages === 3, c)
      assert(c.jobSeconds.size === 3 && c.jobSeconds.forall(_ >= 0), c)
    } finally sc.removeSparkListener(lag)
  }

  test("bulk archive: range-clustered write lands all rows partitioned by cell/date") {
    val root = Files.createTempDirectory("graft-bulk").toString
    val n = bulkArchive(sf0001, root)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(n === docs)
    val withParts = spark.read.parquet(s"$root/data")
    // partition columns recovered from directory layout
    assert(withParts.columns.contains("p_cell") && withParts.columns.contains("p_date"))
    assert(withParts.select("p_cell").distinct().count() > 1)
    // cell-clustered: each (p_cell, p_date) dir exists
    val dirs = new java.io.File(s"$root/data").listFiles().count(_.getName.startsWith("p_cell="))
    assert(dirs > 1)
  }

  test("approximate distinct (HLL sketch) within 10% of exact at sf0.01") {
    val pages = graft.sources.Pages.fromDocuments(spark, sf001)
    val r = pages.agg(
      countDistinct(col("url")).as("exact"),
      approx_count_distinct(col("url")).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1, s"$approx vs $exact")
  }

  test("q51 grouped HLL (rsd 0.02) within 5% of exact per cell at sf0.1") {
    val sf01 = "/root/testdata/sf0.1"
    val approx = graft.operators.RelationalQueries.cellDistinctsApprox(spark, sf01)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val exact = graft.sources.Pages.fromDocuments(spark, sf01)
      .withColumn("cell2", graft.sources.Pages.cellCol(col("ilat"), col("ilon"), 2))
      .groupBy(col("cell2"))
      .agg(countDistinct(col("url")).as("u"), countDistinct(col("source")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    for ((cell, (u, s)) <- exact) {
      val (au, as_) = approx(cell)
      assert(math.abs(au - u).toDouble / math.max(u, 1) < 0.05, s"cell $cell urls $au vs $u")
      assert(math.abs(as_ - s).toDouble / math.max(s, 1) < 0.05, s"cell $cell sources $as_ vs $s")
    }
  }
}
