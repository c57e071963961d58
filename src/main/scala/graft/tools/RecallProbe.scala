package graft.tools

import graft.operators.SimilarityQueries

/** Measures q41 banded-LSH recall@20 vs brute force and the bucket-share
  * cap at both verify sfs — the tuning probe for the NumTables /
  * BandPlanes / BucketCap knobs. The session is `GraftSession.build`:
  * local[`SPARK_GRAFT_CPUS`] (default 4). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.GraftSession.build("graft-recall-probe")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val t0 = System.nanoTime()
      val banded = pairs(SimilarityQueries.nearDupPairs(spark, sf))
      val sec = (System.nanoTime() - t0) / 1e9
      val brute = pairs(SimilarityQueries.nearDupBruteForce(spark, sf))
      println(f"RECALL $sf: ${(brute & banded).size.toDouble / brute.size}%.3f (banded $sec%.1f s)")
      graft.util.CacheBag.release()
    }
    val n = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").count()
    val buckets = SimilarityQueries.bandedBucketStats(spark, "/root/testdata/sf0.1").collect()
    println(f"MAXSHARE ${buckets.map(_.getLong(2)).max.toDouble / n}%.4f")
    spark.stop()
  }
}
