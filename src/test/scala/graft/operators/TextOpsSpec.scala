package graft.operators

import org.apache.spark.sql.functions._
import graft.testutil.SparkTestBase

class TextOpsSpec extends SparkTestBase {

  test("minhash: identical texts get identical signatures") {
    import spark.implicits._
    val sigs = TextQueries.minhashSigs(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("h", md5(col("text")))
    val joined = sigs.join(docs.select("doc_id", "h"), "doc_id")
    // group by content hash: every group must have exactly 1 distinct sig tuple
    val bad = joined.groupBy("h")
      .agg(countDistinct(struct((0 until 8).map(i => col(s"s$i")): _*)).as("nsig"))
      .filter($"nsig" > 1).count()
    assert(bad === 0)
  }

  test("lsh near-dup pairs all have jaccard >= threshold and exact dups are found (sf0.1)") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val pairs = TextQueries.lshNearDupPairs(spark, sf01).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getLong(2) >= 200))
    // exact duplicate texts (they exist at sf0.1) must surface with jac == 1000
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val dupPairs = docs.as("a").join(docs.as("b"),
        $"a.text" === $"b.text" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs.filter(_.getLong(2) === 1000L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.subsetOf(found), s"missing exact dups: ${dupPairs -- found}")
  }

  test("minhash pair core: at minJacM = 0 the pairs are the doc pairs sharing a band, each once") {
    val pairs = TextQueries.minhashPairs(spark, sf001, TextQueries.LshFamily, 0)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.util.CacheBag.release()
    // brute force over q28's signatures: band b of a doc is its signature
    // pair (s2b, s2b+1), and two docs are candidates iff any band agrees
    val bands = TextQueries.minhashSigs(spark, sf001).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).grouped(2).toSeq)
    val want = (for {
      (d1, b1) <- bands.iterator; (d2, b2) <- bands.iterator
      if d1 < d2 && b1.zip(b2).exists { case (x, y) => x == y }
    } yield (d1, d2)).toSet
    assert(want.nonEmpty)
    assert(pairs.distinct.length === pairs.length, "a pair was emitted more than once")
    assert(pairs.toSet === want)
  }

  test("simhash: exact-dup docs have identical simhash") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val sh = TextQueries.simhash(spark, sf01)
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
      .filter($"doc_id" < 200).withColumn("h", md5($"text"))
    val bad = sh.join(docs.select("doc_id", "h"), "doc_id")
      .groupBy("h").agg(countDistinct($"simhash16").as("n"))
      .filter($"n" > 1).count()
    assert(bad === 0)
  }

  test("fingerprint distinguishes at least as well as md5 within sample") {
    // n_fp <= n_docs and fingerprint collisions only where md5 collides (modulo 1e9+7 collisions, none expected here)
    val fp = TextQueries.fingerprint(spark, sf001).collect()
    for (r <- fp) assert(r.getLong(2) <= r.getLong(1))
  }

  test("tfidf pair similarity: symmetric dot, self-excluded, positive weights") {
    // topK above corpus size: the top-k cut keeps EVERY pair, so both
    // directions of each query-query pair are present for the symmetry law
    val out = TextQueries.tfidfPairSim(spark, sf001, topK = 600, nQueries = 20).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) != r.getLong(2)), "self pairs must be excluded")
    assert(out.forall(_.getLong(3) > 0), "shared-token pairs carry positive sim")
    // symmetry law of the sparse dot: for pairs where BOTH ends are query
    // docs AND both directions survived the top-k cut, sim(a,b) == sim(b,a)
    val sims = out.filter(r => r.getLong(2) < 20)
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    var checked = 0
    for (((a, b), s) <- sims; rev <- sims.get((b, a))) { assert(rev === s, s"asym $a,$b"); checked += 1 }
    assert(checked > 0, "no symmetric pair survived — law untested")
    graft.util.CacheBag.release()
  }

  test("tfidf df-cap pruning: capped sims are a monotone under-approximation") {
    // the production skew lever (verdict r4 #2): dropping high-df tokens
    // can only REMOVE non-negative dot contributions, so every surviving
    // capped pair must report sim <= its uncapped sim, and the capped
    // pair set must be a subset of the uncapped one
    val full = TextQueries.tfidfPairSim(spark, sf001, topK = 600, nQueries = 20).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    graft.util.CacheBag.release()
    val capped = TextQueries.tfidfPairSim(spark, sf001, topK = 600, nQueries = 20,
      dfCapPm = 800).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    graft.util.CacheBag.release()
    assert(capped.nonEmpty, "cap at 800 permille must keep some pairs in the fixture")
    assert(capped.size <= full.size)
    capped.foreach { case (pair, s) =>
      val f = full.getOrElse(pair, fail(s"capped-only pair $pair").asInstanceOf[Long])
      assert(s <= f, s"pair $pair gained similarity under pruning")
    }
    // the cap actually engaged: at least one pair lost a pruned token's
    // contribution (the fixture has df > 800‰ tokens)
    assert(capped.exists { case (p, s) => full(p) > s }, "cap never engaged")
  }

  test("chunk dedup: conservation laws + exact-dup doc keeps zero chunks (sf0.1)") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    val out = TextQueries.chunkDedup(spark, sf01)
    // corpus conservation: total kept chunks == corpus-wide distinct chunks
    // (computed the set way, independent of the window-rank formulation)
    val w = TextQueries.ChunkWords
    val distinctChunks = spark.read.parquet(s"$sf01/documents.parquet")
      .select(explode(expr(
        s"transform(sequence(0, int((size(split(text, ' ')) - 1) div $w)), " +
          s"i -> array_join(slice(split(text, ' '), i * $w + 1, $w), ' '))")).as("c"))
      .select(countDistinct($"c")).as[Long].head()
    val agg = out.agg(sum($"kept_chunks"), sum($"n_chunks")).head()
    assert(agg.getLong(0) === distinctChunks)
    assert(agg.getLong(0) < agg.getLong(1), "sf0.1 corpus must contain duplicate chunks")
    // per-doc sanity + a full-duplicate text (they exist at sf0.1) keeps 0
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val laterDup = docs.as("a").join(docs.as("b"),
        $"a.text" === $"b.text" && $"a.doc_id" < $"b.doc_id")
      .select(max($"b.doc_id")).as[Long].head()
    val dupRow = out.filter($"doc_id" === laterDup).head()
    assert(dupRow.getLong(2) === 0L, s"doc $laterDup is a full duplicate but kept chunks")
  }

  test("repetition signals: hand-built fixture hits exact permille values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repfix").toString
    Seq(
      (0L, "a a a a", "en", "s0", 7L),     // top 4/4 = 1000; grams 3, 1 distinct -> 666
      (1L, "a b c d", "en", "s0", 7L),     // top 1/4 = 250; no dup grams -> 0
      (2L, "a b a b a", "en", "s0", 9L),   // top 3/5 = 600; grams 4, 2 distinct -> 500
      (3L, "x", "en", "s0", 1L))           // single token: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextQueries.repetitionSignals(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    val byId = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(byId(0L) === ((4L, 1000L, 666L)))
    assert(byId(1L) === ((4L, 250L, 0L)))
    assert(byId(2L) === ((5L, 600L, 500L)))
    graft.sources.SnapshotTable.recursiveDelete(java.nio.file.Paths.get(dir))
  }
}
