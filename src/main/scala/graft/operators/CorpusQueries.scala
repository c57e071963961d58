package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Inputs

/** Corpus-shaping operators — the steps between "deduplicated documents"
  * and "training shards" in a large-scale training-data pipeline:
  * token-stream shard packing, benchmark decontamination, PII scrubbing,
  * and per-domain caps. All oracle-gated (q77–q80); determinism rules per
  * FIXTURES.md §3 (integer token counts, md5-derived hashes, explicit
  * ORDER BY with unique tiebreaks).
  */
object CorpusQueries {

  final val ShardTokens = 4096L
  final val PackBucket = 100L

  /** q77 — token-stream shard packing: documents are laid out in doc_id
    * order as one concatenated token stream and each document is assigned
    * to the shard containing its STARTING offset (documents may straddle
    * a boundary — the contiguous-stream convention used when packing
    * fixed-length training sequences).
    *
    * The global exclusive prefix sum is computed DISTRIBUTED, never with
    * a single-partition window over the corpus: stage 1 computes
    * within-bucket prefixes (window partitioned by `doc_id div B` — B
    * bounds every window partition), stage 2 turns per-bucket totals into
    * bucket offsets (a window over n/B rows — metadata-sized, recurse at
    * 10^12 docs), stage 3 broadcasts the offsets back. The oracle is the
    * single-window formulation — hash equality proves the distributed
    * prefix sum exact. */
  def shardPacking(spark: SparkSession, sfDir: String,
      shardTokens: Long = ShardTokens, bucket: Long = PackBucket): DataFrame = {
    val d = Inputs.documents(spark, sfDir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("bucket", expr(s"doc_id div $bucket"))
    val wB = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val inBucket = d.withColumn("cum_in", sum(col("n_tok")).over(wB) - col("n_tok"))
    val wT = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = d.groupBy(col("bucket")).agg(sum(col("n_tok")).as("btok"))
      .withColumn("offset", sum(col("btok")).over(wT) - col("btok"))
      .select(col("bucket"), col("offset"))
    inBucket.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start_tok", col("cum_in") + col("offset"))
      .withColumn("shard", expr(s"start_tok div $shardTokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  final val ContamShared = 5

  /** q78 — benchmark decontamination: documents sharing >= `minShared`
    * distinct 3-gram shingle hashes with the benchmark set (fixture:
    * every 97th doc) are flagged. The corpus side explodes its distinct
    * shingle hashes and equi-joins the (small, broadcast) benchmark hash
    * set — at 10^12 docs this is one shuffle-free hash join per shingle,
    * never a doc×doc product; a billion-doc benchmark would bucket-join
    * instead of broadcasting. */
  /** Shared contamination core (q78 + the q86 pipeline): per non-benchmark
    * doc, the count of distinct 3-gram shingle hashes shared with the
    * benchmark set (docs absent = zero shared). The shingle-hash pipeline
    * (the expensive stage) feeds both sides — persisted lazily + CacheBag
    * so it runs once per execution, not once per branch. */
  private def sharedWithBenchmark(spark: SparkSession, sfDir: String): DataFrame = {
    val withSh = TextQueries.withShingleHashes(Inputs.documents(spark, sfDir))
      .select(col("doc_id"), array_distinct(col("h0raw")).as("shd"))
      .persist()
    graft.util.CacheBag.register(withSh)
    val benchHashes = withSh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("shd")).as("h")).distinct()
    withSh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("shd")).as("h"))
      .join(broadcast(benchHashes), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Doc ids the pipeline must drop at `minShared` (threshold applied to
    * [[sharedWithBenchmark]]). */
  private[operators] def contaminatedDocIds(spark: SparkSession, sfDir: String,
      minShared: Int): DataFrame =
    sharedWithBenchmark(spark, sfDir)
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"))

  def decontaminate(spark: SparkSession, sfDir: String,
      minShared: Int = ContamShared): DataFrame = {
    Inputs.documents(spark, sfDir).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"))
      .join(sharedWithBenchmark(spark, sfDir), Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_shared") >= minShared, 1L).otherwise(0L)).as("n_contam"),
        max(col("n_shared")).as("max_shared"))
      .orderBy(col("lang"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{4,6}"

  /** q79 — PII scrubbing: the fixture corpus carries no PII, so a
    * deterministic planting step adds an email to every 7th doc and a
    * phone number to every 11th; the scrub replaces both patterns and the
    * aggregate counts redactions per language. Pure regexp_replace /
    * regexp_count projections — whole-stage codegen, zero shuffle before
    * the final agg; patterns restricted to syntax RE2 (DuckDB) and Java
    * regex interpret identically. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = Inputs.documents(spark, sfDir).withColumn("text2", concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-01"), lpad((col("doc_id") % 100).cast("string"), 2, "0")))
        .otherwise(lit(""))))
    planted
      .withColumn("n_email", regexp_count(col("text2"), lit(EmailRe)))
      .withColumn("n_phone", regexp_count(col("text2"), lit(PhoneRe)))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_email")).cast("long").as("n_email_red"),
        sum(col("n_phone")).cast("long").as("n_phone_red"),
        sum(length(col("scrubbed"))).cast("long").as("sum_chars_after"))
      .orderBy(col("lang"))
  }

  final val DomainCap = 20

  /** q80 — per-domain cap (corpus balancing): keep the `cap` largest
    * documents per source (n_chars desc, doc_id tiebreak) so no domain
    * dominates the training mix. One window shuffle on source; at scale
    * the heavy-domain skew is exactly what the cap removes. */
  def domainCap(spark: SparkSession, sfDir: String, cap: Int = DomainCap): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    Inputs.documents(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_kept_chars"))
      .orderBy(col("source"))
  }

  /** q86 — the FULL training-corpus pipeline, composed end to end:
    *
    *   quality filter → exact dedup (min doc_id per content hash) →
    *   decontaminate (drop benchmark docs + docs sharing ≥ 5 shingle
    *   hashes with them) → per-domain cap (top-20 by size) → token-stream
    *   shard packing.
    *
    * Every stage is the already-oracle-gated operator (q62/q78/q80/q77
    * semantics) — this query gates their COMPOSITION: filter pushdown
    * through the joins, the anti-join plumbing between stages, and the
    * ordering contract the packer needs. Output = the final shard
    * inventory. */
  def corpusPipeline(spark: SparkSession, sfDir: String,
      shardTokens: Long = ShardTokens): DataFrame = {
    val d = Inputs.documents(spark, sfDir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_tok") >= 5 && col("n_tok") <= 10000 && col("n_chars") < 100000)
      .filter(col("lang").isin("en", "de", "fr"))
    val deduped = d
      .groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("source"), col("n_chars"), col("n_tok")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.n_chars").as("n_chars"), col("r.n_tok").as("n_tok"))
    // decontamination: benchmark docs out, contaminated docs out (same
    // shared core as q78 — one semantics, one implementation)
    val clean = deduped
      .filter(col("doc_id") % 97 =!= 0)
      .join(contaminatedDocIds(spark, sfDir, ContamShared), Seq("doc_id"), "left_anti")
    // per-domain cap, then pack the survivors in doc_id order. The cap
    // bounds the packed set to DomainCap × n_sources rows — metadata-
    // sized — so the single-partition prefix window here is legal; an
    // unbounded input packs through q77's distributed 3-stage prefix sum.
    val wCap = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    val capped = clean.withColumn("rnk", row_number().over(wCap))
      .filter(col("rnk") <= DomainCap)
      .select(col("doc_id"), col("n_tok"))
    val wPack = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    capped
      .withColumn("start_tok", sum(col("n_tok")).over(wPack) - col("n_tok"))
      .withColumn("shard", expr(s"start_tok div $shardTokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  val oracle: Map[String, String] = Map(
    // single-window global prefix sum — the distributed three-stage
    // version must hash-match it exactly
    "q77_shard_packing" ->
      (s"WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok FROM d) " +
        s"SELECT CAST(start_tok // $ShardTokens AS BIGINT) AS shard, count(*) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS sum_tok, min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM c GROUP BY shard ORDER BY shard"),
    "q78_decontaminate" -> {
      val hash = TextQueries.sqlTokHash("x")
      s"WITH ${TextQueries.shCte}, " +
        s"m AS (SELECT doc_id, lang, list_distinct(list_transform(sh, x -> $hash)) AS shd FROM s), " +
        "bh AS (SELECT DISTINCT h FROM (SELECT unnest(shd) AS h FROM m WHERE doc_id % 97 = 0)), " +
        "e AS (SELECT doc_id, unnest(shd) AS h FROM m WHERE doc_id % 97 <> 0), " +
        "cs AS (SELECT e.doc_id, count(*) AS n_shared FROM e JOIN bh ON e.h = bh.h GROUP BY e.doc_id), " +
        "a AS (SELECT d.doc_id, d.lang, coalesce(cs.n_shared, 0) AS n_shared " +
        "FROM documents d LEFT JOIN cs ON d.doc_id = cs.doc_id WHERE d.doc_id % 97 <> 0) " +
        s"SELECT lang, count(*) AS n_docs, " +
        s"CAST(sum(CASE WHEN n_shared >= $ContamShared THEN 1 ELSE 0 END) AS BIGINT) AS n_contam, " +
        "CAST(max(n_shared) AS BIGINT) AS max_shared FROM a GROUP BY lang ORDER BY lang"
    },
    "q79_pii_scrub" ->
      ("WITH p AS (SELECT lang, text || " +
        "(CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) || " +
        "(CASE WHEN doc_id % 11 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END) AS text2 " +
        "FROM documents), " +
        s"s AS (SELECT lang, len(regexp_extract_all(text2, '$EmailRe')) AS n_email, " +
        s"len(regexp_extract_all(text2, '$PhoneRe')) AS n_phone, " +
        s"length(regexp_replace(regexp_replace(text2, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')) AS len_after FROM p) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_email) AS BIGINT) AS n_email_red, " +
        "CAST(sum(n_phone) AS BIGINT) AS n_phone_red, CAST(sum(len_after) AS BIGINT) AS sum_chars_after " +
        "FROM s GROUP BY lang ORDER BY lang"),
    "q80_domain_cap" ->
      (s"WITH r AS (SELECT source, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk FROM documents) " +
        s"SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        s"min(n_chars) AS min_kept_chars FROM r WHERE rnk <= $DomainCap " +
        "GROUP BY source ORDER BY source"),
    "q86_corpus_pipeline" -> {
      val hash = TextQueries.sqlTokHash("x")
      s"WITH ${TextQueries.shCte}, " +
        s"m AS (SELECT doc_id, list_distinct(list_transform(sh, x -> $hash)) AS shd FROM s), " +
        "bh AS (SELECT DISTINCT h FROM (SELECT unnest(shd) AS h FROM m WHERE doc_id % 97 = 0)), " +
        "e AS (SELECT doc_id, unnest(shd) AS h FROM m WHERE doc_id % 97 <> 0), " +
        "contam AS (SELECT e.doc_id FROM e JOIN bh ON e.h = bh.h " +
        s"GROUP BY e.doc_id HAVING count(*) >= $ContamShared), " +
        "g AS (SELECT doc_id, source, n_chars, text, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents " +
        "WHERE len(string_split(text, ' ')) BETWEEN 5 AND 10000 AND n_chars < 100000 " +
        "AND lang IN ('en', 'de', 'fr')), " +
        "dd AS (SELECT arg_min(doc_id, doc_id) AS doc_id, arg_min(source, doc_id) AS source, " +
        "arg_min(n_chars, doc_id) AS n_chars, arg_min(n_tok, doc_id) AS n_tok " +
        "FROM g GROUP BY md5(text)), " +
        "cl AS (SELECT * FROM dd WHERE doc_id % 97 <> 0 " +
        "AND doc_id NOT IN (SELECT doc_id FROM contam)), " +
        "cap AS (SELECT doc_id, n_tok FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk FROM cl) WHERE rnk <= $DomainCap), " +
        "c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok FROM cap) " +
        s"SELECT CAST(start_tok // $ShardTokens AS BIGINT) AS shard, count(*) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS sum_tok, min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM c GROUP BY shard ORDER BY shard"
    },
  )
}
