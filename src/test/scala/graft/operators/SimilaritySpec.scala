package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.testutil.SparkTestBase

class SimilaritySpec extends SparkTestBase {

  /** Float cosine top-k: an independent reference with its own ranking
    * window (float-sum order is engine-specific — q96's integer
    * one-division formulation is the oracle-gated one, and the test below
    * asserts the two agree on ranking). */
  private def cosineTopKFloat(sfDir: String): DataFrame = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qvec"))
    val dot = aggregate(zip_with(col("qvec"), col("v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val nq = sqrt(aggregate(transform(col("qvec"), x => x * x), lit(0.0), (a, x) => a + x))
    val nv = sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    q.crossJoin(e)
      .withColumn("cos", dot / (nq * nv))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  test("brute-force L2: rank 1 is the query itself at distance 0") {
    val rows = SimilarityQueries.l2TopK(spark, sf001).collect()
    val r1 = rows.filter(_.getInt(1) == 1)
    assert(r1.length === 10)
    assert(r1.forall(r => r.getLong(0) === r.getLong(2) && r.getLong(3) === 0L))
  }

  test("LSH multi-probe recall@5 >= 0.5 vs brute force (random-vector worst case)") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val brute = topSets(SimilarityQueries.l2TopK(spark, sf001))
    val lsh = topSets(SimilarityQueries.lshTopK(spark, sf001))
    val recalls = brute.map { case (q, t) => (t & lsh.getOrElse(q, Set())).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean")
  }

  test("SQ8 recall@5 >= 0.9 vs brute force; self always rank 1 at dist 0") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val brute = topSets(SimilarityQueries.l2TopK(spark, sf001))
    val sq8rows = SimilarityQueries.sq8TopK(spark, sf001).collect()
    val sq8 = sq8rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = brute.map { case (q, t) => (t & sq8.getOrElse(q, Set())).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall $mean — the span-weighted surrogate should be tight")
    // every query finds itself first: surrogate distance 0 implies exact 0
    sq8rows.filter(_.getInt(1) == 1).foreach { r =>
      assert(r.getLong(2) === r.getLong(0) && r.getLong(3) === 0L)
    }
  }

  test("cosine top-k: self is rank 1 at exactly 1e6; values bounded") {
    val rows = SimilarityQueries.cosineTopK(spark, sf001).collect()
    rows.filter(_.getInt(1) == 1).foreach { r =>
      assert(r.getLong(2) === r.getLong(0), "self must be the best cosine match")
      assert(r.getLong(3) === 1000000L, "cos(v, v) must report exactly 1e6")
    }
    assert(rows.forall(r => r.getLong(3) >= -1000000L && r.getLong(3) <= 1000000L))
    // cosine != L2 ranking in general: both queries exist and the law that
    // distinguishes them is the metric itself, pinned by the oracle
  }

  test("bucket histogram covers every vector exactly once") {
    val stats = SimilarityQueries.bucketStats(spark, sf001).collect()
    val total = stats.map(_.getLong(1)).sum
    val nVecs = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    assert(total === nVecs)
    assert(stats.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 16))
  }

  test("IVF multi-probe recall@5 vs brute force, self always found") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val brute = topSets(SimilarityQueries.l2TopK(spark, sf001))
    val ivf = topSets(SimilarityQueries.ivfTopK(spark, sf001))
    // the query's own vector is always in its probed list
    assert(ivf.forall { case (q, s) => s.contains(q) })
    val recalls = brute.map { case (q, t) => (t & ivf.getOrElse(q, Set())).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    // trained sqrt(n) centroids: measured 0.96 at sf0.01 (fixed-16 was 0.74)
    assert(mean >= 0.85, s"mean recall $mean")
  }

  test("banded LSH: bounded buckets (max share < 5%), refinement splits oversized bands") {
    val sf01 = "/root/testdata/sf0.1"
    val n = spark.read.parquet(s"$sf01/embeddings.parquet").count()
    val buckets = SimilarityQueries.bandedBucketStats(spark, sf01).collect()
    val maxShare = buckets.map(_.getLong(2)).max.toDouble / n
    assert(maxShare < 0.05, s"max bucket share $maxShare")
    // every vector lands in exactly NumTables buckets
    assert(buckets.map(_.getLong(2)).sum === n * SimilarityQueries.NumTables)
    // the refinement path actually fires at sf0.1: some band exceeded the
    // cap (band_cnt > BucketCap) and was split into sub-keys (key % stride != 0)
    val refined = buckets.filter(r => r.getLong(3) > SimilarityQueries.BucketCap)
    assert(refined.nonEmpty, "no band exceeded BucketCap — refinement untested")
    assert(refined.forall(r => r.getLong(1) % SimilarityQueries.KeyStride != 0L))
  }

  test("banded near-dup recall@20 vs brute force beats the 16-bucket design") {
    // deterministic planes + fixed data => recall is a constant per sf.
    // Measured at 16 tables: 0.70 at sf0.01, 0.85 at sf0.1 (8 tables
    // measured 0.50/0.55; the round-1 16-bucket join 0.20/0.25). Assert
    // with a small safety margin.
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilarityQueries.nearDupBruteForce(spark, sf001))
    val banded = pairs(SimilarityQueries.nearDupPairs(spark, sf001))
    val recall = (brute & banded).size.toDouble / brute.size
    assert(recall >= 0.65, s"recall@20 $recall")
  }

  test("PQ ADC recall@5 vs brute force; self always survives re-rank") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val brute = topSets(SimilarityQueries.l2TopK(spark, sf001))
    val pq = topSets(SimilarityQueries.pqTopK(spark, sf001))
    // the query's own codes give ADC distance == sum of its own quantization
    // errors — minimal, so self survives the 4k ADC cut and re-ranks to #1
    assert(pq.forall { case (q, s) => s.contains(q) })
    val recalls = brute.map { case (q, t) => (t & pq.getOrElse(q, Set())).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    // 4x16-dim codebooks on uniform-random vectors (PQ worst case):
    // deterministic per sf; assert with a safety margin under measured
    assert(mean >= 0.5, s"mean recall $mean")
  }

  test("PQ exact re-rank: reported dist equals true quantized L2") {
    val pq = SimilarityQueries.pqTopK(spark, sf001).collect()
    val brute = SimilarityQueries.l2TopK(spark, sf001, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    for (r <- pq)
      assert(r.getLong(3) === brute((r.getLong(0), r.getLong(2))),
        s"re-ranked dist mismatch for ${(r.getLong(0), r.getLong(2))}")
  }

  test("cosine IVF ANN (q98): recall@5 >= 0.9 vs exact q96; self rank 1 at 1e6") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val exact = topSets(SimilarityQueries.cosineTopK(spark, sf001))
    val annRows = SimilarityQueries.cosineIvfTopK(spark, sf001).collect()
    val ann = annRows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    // the query's own (normalized) vector always lands in its probed list
    annRows.filter(_.getInt(1) == 1).foreach { r =>
      assert(r.getLong(2) === r.getLong(0), "self must be the best cosine match")
      assert(r.getLong(3) === 1000000L, "cos(v, v) must report exactly 1e6")
    }
    val recalls = exact.map { case (q, t) => (t & ann.getOrElse(q, Set())).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@5 $mean vs exact cosine")
  }

  test("TopKAgg: bounded state, order-invariant merge, matches a full sort") {
    val agg = new SimilarityQueries.TopKAgg(5)
    import SimilarityQueries.TopPair
    val xs = (0 until 200).map(i => TopPair((i * 7919L) % 101, i.toLong))
    val want = xs.sortBy(p => (p.a, p.b)).take(5)
    // single-pass reduce
    val r1 = xs.foldLeft(agg.zero)(agg.reduce)
    assert(r1 === want)
    assert(r1.length <= 5, "state must stay bounded")
    // arbitrary split + merge (the map-side-combine path)
    for (cut <- Seq(1, 50, 137, 199)) {
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.reverse.foldLeft(agg.zero)(agg.reduce))
      assert(merged === want, s"merge at $cut diverged")
    }
  }

  test("synthetic pages generator is partitioning-invariant") {
    import org.apache.spark.sql.functions._
    def digest(parts: Int) = graft.sources.Pages.synthetic(spark, 5000, parts)
      .agg(sum(conv(substring(md5(col("html")), 1, 15), 16, 10).cast("long") % 1000000007L).as("h"),
        sum(col("ilat").cast("long") * col("doc_id")).as("s")).collect()(0).toSeq
    assert(digest(3) === digest(11))
  }

  test("float cosine top-k: self-similarity is 1.0 at rank 1; agrees with q96 ranking") {
    val rows = cosineTopKFloat(sf001).collect()
    val r1 = rows.filter(_.getInt(1) == 1)
    assert(r1.forall(r => r.getLong(0) === r.getLong(2) && math.abs(r.getDouble(3) - 1.0) < 1e-9))
    // the oracle-gated integer formulation must produce the same top-k
    // sets (permicro floor ties aside, identical ordering on this data)
    val ints = SimilarityQueries.cosineTopK(spark, sf001).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val flts = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(ints === flts)
  }
}
