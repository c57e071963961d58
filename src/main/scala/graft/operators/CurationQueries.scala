package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Inputs

/** Web-corpus curation operators — round-4 wave of the training-data
  * surface (SURVEY.md §2.R5): duplicated-span removal, link-graph
  * centrality + degree audit, URL canonicalization, frequency-rank and
  * bigram-LM quality scoring, language rebalancing, positional phrase
  * retrieval, containment dedup, syndication auditing, dedup-rate
  * monitoring, and a BPE merge trainer.
  *
  * Determinism (FIXTURES.md §3): integer arithmetic end to end, md5-derived
  * 60-bit hashes where a portable hash is needed, explicit ORDER BY with
  * unique tiebreaks, floor division only on non-negative operands (so
  * Spark `div` and DuckDB `//` agree).
  */
object CurationQueries {

  // 60-bit md5-derived portable hash: the single source of truth is
  // TextQueries.tokHash / sqlTokHash (salted variants) — no local copy.

  // -------------------------------------------------------------------------
  // q105 — duplicated-span removal (exact substring dedup)
  // -------------------------------------------------------------------------

  final val SpanGram = 5

  /** q105 — the "deduplicating training data" shape (Lee et al. 2022,
    * public): any [[SpanGram]]-token window occurring ≥2 times anywhere in
    * the corpus marks its token span as duplicated; overlapping OR
    * token-adjacent marked spans merge into islands (n_spans counts
    * maximal contiguous covered runs), and the per-document report is
    * (n_tok, dup_tok, n_spans, kept_tok).
    *
    * Scale shape: gram generation is a map-side higher-order projection
    * (transform + slice, exploded once); corpus-wide duplication detection
    * is ONE count window keyed on the gram text (at 100 TB the key would
    * be the 128-bit digest of the gram — bytes on the wire change, the
    * plan does not); the island merge windows partition by doc_id, whose
    * per-partition row count is bounded by document length — never a
    * corpus-wide single partition. */
  def spanDedup(spark: SparkSession, sfDir: String, w: Int = SpanGram): DataFrame = {
    // feeds BOTH the gram pipeline and the final per-doc join — persist so
    // the scan+tokenize runs once per query (released via CacheBag)
    val base = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .persist()
    graft.util.CacheBag.register(base)
    val grams = base.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, size(ws) - $w), i -> array_join(slice(ws, i + 1, $w), ' '))"))
        .as(Seq("pos", "gram")))
    // a gram is duplicated if it occurs >= 2 times corpus-wide (any doc,
    // any position — within-doc repeats count, like the reference method).
    // groupBy + semi-join back, NOT count().over(partitionBy(gram))
    // (verdict r4 #3b): the partial aggregate combines map-side, so a hot
    // gram (stopword 5-grams) ships one pre-counted row per map task
    // instead of landing its full corpus-wide occurrence stream in a
    // single window partition; AQE can further split the join's skew.
    val dupGrams = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gram"))
    val dupIntervals = grams
      .join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + w - 1).cast("long").as("e"))
    // classic island merge: running max of e over preceding rows; a new
    // island starts only when s jumps PAST pmax+1 — token-ADJACENT
    // intervals ([i, i+4] then [i+5, i+9]) form one contiguous covered
    // run and must merge, not just overlapping ones
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val flagged = dupIntervals
      .withColumn("pmax", max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag", when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("flag")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    val spans = flagged.groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("s0"), max(col("e")).as("e1"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("e1") - col("s0") + 1).as("dup_tok"))
    base.select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tok"), lit(0L)).as("dup_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (col("n_tok") - coalesce(col("dup_tok"), lit(0L))).as("kept_tok"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // q106 — link-graph PageRank (crawl-prioritization centrality)
  // -------------------------------------------------------------------------

  final val PrIters = 5
  final val PrInit = 1000000L // integer rank scale

  /** Deterministic synthetic link graph shared by q106/q115: doc i links
    * to (i+1)%N always, (i+7)%N when i%3>=1, (i+31)%N when i%3==2 —
    * variable out-degree so centrality and degree stats differentiate.
    * N comes from a ONE-row broadcast count (the q102 lazy-scalar shape,
    * allow-listed in PlanShapeSpec). */
  private def linkEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Inputs.documents(spark, sfDir).select(col("doc_id"))
    val n = d.groupBy().agg(count(lit(1)).as("n"))
    val strides = array(
      struct(lit(1L).as("s"), lit(0).as("minMod")),
      struct(lit(7L).as("s"), lit(1).as("minMod")),
      struct(lit(31L).as("s"), lit(2).as("minMod")))
    d.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"), col("n"), explode(strides).as("st"))
      .filter(col("src") % 3 >= col("st.minMod"))
      .select(col("src"), ((col("src") + col("st.s")) % col("n")).as("dst"))
  }

  /** DuckDB twin of [[linkEdges]] — CTEs `n` (node count) and `e`
    * (src, dst). */
  private val sqlEdgesCte: String =
    "n AS (SELECT count(*) AS c FROM documents), " +
      "e AS (SELECT doc_id AS src, (doc_id + v.s) % (SELECT c FROM n) AS dst FROM documents " +
      "CROSS JOIN (VALUES (1), (7), (31)) AS v(s) " +
      "WHERE v.s = 1 OR (v.s = 7 AND doc_id % 3 >= 1) OR (v.s = 31 AND doc_id % 3 = 2))"

  /** q106 — PageRank over a deterministic synthetic link graph (doc i
    * links to (i+1)%N always, (i+7)%N when i%3>=1, (i+31)%N when i%3==2 —
    * variable out-degree so ranks differentiate), 5 iterations of the
    * integer-scaled power method: r' = 0.15·S + 0.85·Σ r(u) div outdeg(u),
    * all arithmetic floor-integer so Spark and DuckDB agree bit-exactly.
    *
    * Scale shape (r6 optimization, guide §2.4 — remove shuffles
    * outright): ONE exchange per iteration. The edge⋈out-degree frame is
    * joined once and cached PRE-PARTITIONED on src (the iteration join
    * key), so each iteration's contribution join re-uses that
    * partitioning; the rank vector arrives at iteration i already
    * hash-partitioned on v (it is the iteration i−1 `groupBy(dst)`
    * output, alias-preserved through the projection), so the join plans
    * with NO new exchange and the dst-keyed partial-aggregable sum is
    * the iteration's only shuffle. The former per-iteration left-join
    * re-anchor onto the doc set is DROPPED as an identity: linkEdges
    * emits dst = (src+1) mod N unconditionally and doc_ids are dense
    * 0..N−1 (FIXTURES), so that stride alone is a bijection onto the
    * node set — every node has in-degree ≥ 1, `infl` carries exactly the
    * full key set each iteration, and coalesce(infl, 0) never fired
    * (CurationSpec pins row-identity against the re-anchored
    * formulation). Plan: 68 Exchange nodes → 13, bench median 9.4 s →
    * see OPTIMIZATION_r06.md. No driver state, no collect, rank rows ∝
    * corpus. Output is the top-20 pages with a rank tiebreak. */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = PrIters): DataFrame = {
    val edges = linkEdges(spark, sfDir)
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val contribs = edges.join(outdeg, "src").repartition(col("src")).persist()
    graft.util.CacheBag.register(contribs)
    var r = Inputs.documents(spark, sfDir).select(col("doc_id").as("v"), lit(PrInit).as("r"))
    for (_ <- 1 to iters) {
      r = contribs.join(r, col("src") === col("v"))
        .select(col("dst"), expr("r div od").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("infl"))
        .select(col("dst").as("v"),
          expr(s"${PrInit * 15 / 100} + (85 * infl) div 100").as("r"))
    }
    // top-20 via orderBy+limit = distributed TakeOrdered (each partition
    // contributes its local top-20) — NEVER a partition-less row_number
    // window over the corpus-sized rank vector (the verdict-r3 hotspot
    // shape; plan-gated in PlanShapeSpec). The rank column is attached by
    // a window over the BOUNDED 20-row result.
    val top = r.orderBy(col("r").desc, col("v")).limit(20)
    top.select(row_number().over(Window.orderBy(col("r").desc, col("v"))).as("rnk"),
        col("v").as("doc_id"), col("r"))
      .orderBy(col("rnk"))
  }

  // -------------------------------------------------------------------------
  // q107 — URL canonicalization + dedup
  // -------------------------------------------------------------------------

  /** q107 — URL canonicalization (lowercase scheme/host, strip default
    * :443 port and trailing slash, drop utm_* tracking params, sort the
    * remaining query params) followed by canonical-key dedup. Raw URLs
    * are synthesized deterministically: doc i carries one of four noisy
    * spellings of the page doc/(i div 2), so every consecutive pair
    * collapses to one canonical URL and the expected dup rate is exactly
    * 1/2 (asserted in CurationSpec).
    *
    * Scale shape: canonicalization is a pure zero-shuffle projection
    * (string/array built-ins, fully codegen); the dedup is one count-
    * distinct agg keyed by host — the standard exact-dedup shape. */
  def urlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val raw =
      "CASE CAST(doc_id % 4 AS INT) " +
        "WHEN 0 THEN concat('HTTPS://SRC', CAST((doc_id div 2) % 20 AS STRING), '.EXAMPLE.COM:443/doc/', CAST(doc_id div 2 AS STRING), '?utm_source=feed') " +
        "WHEN 1 THEN concat('https://src', CAST((doc_id div 2) % 20 AS STRING), '.example.com/doc/', CAST(doc_id div 2 AS STRING), '/') " +
        "WHEN 2 THEN concat('https://src', CAST((doc_id div 2) % 20 AS STRING), '.example.com/doc/', CAST(doc_id div 2 AS STRING), '?b=2&a=1&utm_c=x') " +
        "ELSE concat('https://src', CAST((doc_id div 2) % 20 AS STRING), '.example.com/doc/', CAST(doc_id div 2 AS STRING), '?a=1&b=2') END"
    Inputs.documents(spark, sfDir)
      .selectExpr("doc_id", s"$raw AS raw")
      .selectExpr("doc_id", "raw",
        "lower(split_part(raw, '://', 1)) AS scheme",
        "split_part(raw, '://', 2) AS rest")
      .selectExpr("doc_id", "raw", "scheme", "rest",
        "lower(split_part(rest, '/', 1)) AS hostport")
      .selectExpr("doc_id", "raw", "scheme",
        "CASE WHEN hostport LIKE '%:443' THEN substr(hostport, 1, length(hostport) - 4) ELSE hostport END AS host",
        "substr(rest, length(hostport) + 1) AS pathq")
      .selectExpr("doc_id", "raw", "scheme", "host",
        "split_part(pathq, '?', 1) AS path0",
        "CASE WHEN instr(pathq, '?') > 0 THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END AS q")
      .selectExpr("doc_id", "raw", "scheme", "host",
        "CASE WHEN path0 LIKE '%/' AND length(path0) > 1 THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path",
        "filter(split(q, '&'), p -> p <> '' AND substr(p, 1, 4) <> 'utm_') AS keep")
      .selectExpr("doc_id", "host",
        "concat(scheme, '://', host, path, CASE WHEN size(keep) = 0 THEN '' ELSE concat('?', array_join(array_sort(keep), '&')) END) AS canon")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_raw"), countDistinct(col("canon")).as("n_canon"),
        (count(lit(1)) - countDistinct(col("canon"))).as("n_dups"),
        min(col("canon")).as("first_canon"))
      .orderBy(col("host"))
  }

  // -------------------------------------------------------------------------
  // q108 — corpus-frequency-rank quality scoring
  // -------------------------------------------------------------------------

  /** q108 — frequency-rank quality signals: rank the corpus vocabulary by
    * (count desc, token asc); per document compute the mean token rank
    * (low = head-heavy boilerplate, high = tail-heavy noise) and the
    * tail-token share (rank > 15) in permille; report per-language
    * aggregates.
    *
    * Scale shape: the vocabulary is sublinear in the corpus (Heaps' law)
    * but still ~10^9 tokens at 100 TB — too big for a single-partition
    * rank window OR a broadcast (verdict r4 #3a). The rank is computed
    * DISTRIBUTED with the q77 three-stage prefix shape generalized to an
    * arbitrary sort key: (1) range-partition the vocabulary on the rank
    * key so each partition holds a contiguous, sampled-balanced key
    * range; (2) row_number within each materialized partition (the
    * window keys on the partition id — every window partition IS one
    * bounded range partition); (3) per-partition counts → exclusive
    * prefix over ≤ nPartitions rows (metadata-sized) → broadcast
    * offsets. The rank table then joins back to the token stream on
    * token — a plain equi-join AQE turns into a broadcast only when the
    * vocab actually fits. The persist pins the sampled range boundaries
    * so stages 2 and 3 see the SAME partitioning (RangePartitioner
    * re-samples per job); the oracle stays the single-window
    * formulation, so hash equality proves the distributed rank exact. */
  def tokenRankQuality(spark: SparkSession, sfDir: String): DataFrame = {
    // the token stream feeds both the vocabulary agg and the score join —
    // persist so the scan+explode runs once (released via CacheBag)
    val tok = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .persist()
    graft.util.CacheBag.register(tok)
    val vocab = Ranks.distributed(
      tok.groupBy(col("token")).agg(count(lit(1)).as("c")),
      col("c").desc, col("token"))
      .select(col("token"), col("rnk"))
    val perDoc = tok.join(vocab, Seq("token"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tok"), sum(col("rnk")).as("sum_rnk"),
        sum(when(col("rnk") > 15, 1L).otherwise(0L)).as("tail"))
      .select(col("lang"), expr("sum_rnk div n_tok").as("mean_rank"),
        expr("(tail * 1000) div n_tok").as("tail_pm"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(mean_rank) div count(1)").as("avg_mean_rank"),
        min(col("tail_pm")).as("min_tail_pm"), max(col("tail_pm")).as("max_tail_pm"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------------
  // q109 — language rebalancing (deterministic integer resampling)
  // -------------------------------------------------------------------------

  /** q109 — rebalance the corpus toward a uniform language mix: each
    * language gets an integer permille repeat factor
    * f = total·200 div count(lang) (5 languages → 200‰ target each); a
    * document emits f div 1000 whole copies plus one more iff its
    * md5-derived hash permille falls below f mod 1000 — deterministic
    * fractional resampling, the DoReMi/rebalance primitive.
    *
    * Scale shape: factors come from one tiny per-language agg (broadcast
    * back); the resample is a zero-shuffle explode of a copies-sized
    * sequence; the report is one partial-agg shuffle. The oracle computes
    * the same counts arithmetically (Σ copies) — agreement proves the
    * explode materialization. */
  def langRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Inputs.documents(spark, sfDir)
    val cnts = d.groupBy(col("lang")).agg(count(lit(1)).as("docs_in"))
      .withColumn("total", sum(col("docs_in")).over(Window.partitionBy()))
      .select(col("lang"), col("docs_in"), expr("(total * 200) div docs_in").as("factor_pm"))
    val resampled = d.join(broadcast(cnts), Seq("lang"))
      .withColumn("hpm", TextQueries.tokHash(col("doc_id").cast("string"), "mix") % 1000)
      .withColumn("copies",
        expr("factor_pm div 1000") + when(col("hpm") < col("factor_pm") % 1000, 1L).otherwise(0L))
      // Spark's sequence(1, 0) yields the DESCENDING [1, 0], not empty —
      // zero-copy documents must be dropped before the explode
      .filter(col("copies") > 0)
      .select(col("lang"), col("n_chars"), explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
    val out = resampled.groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_out"), sum(col("n_chars")).as("out_chars"))
    // LEFT join + coalesce: a language whose every document draws 0
    // copies must still report (docs_out = 0), exactly like the oracle's
    // arithmetic sum over all docs
    cnts.join(out, Seq("lang"), "left")
      .select(col("lang"), col("docs_in"), col("factor_pm"),
        coalesce(col("docs_out"), lit(0L)).as("docs_out"),
        coalesce(col("out_chars"), lit(0L)).as("out_chars"))
      .withColumn("total_out", sum(col("docs_out")).over(Window.partitionBy()))
      .select(col("lang"), col("docs_in"), col("factor_pm"), col("docs_out"),
        expr("(docs_out * 1000) div total_out").as("out_pm"), col("out_chars"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------------
  // q110 — positional phrase retrieval (inverted index with positions)
  // -------------------------------------------------------------------------

  /** The fixed phrase workload (qid, phrase) — literals from the corpus
    * grammar so every query has hits at every SF. */
  final val Phrases: Seq[(Int, String)] = Seq(
    1 -> "batch batch", 2 -> "the fast", 3 -> "join order",
    4 -> "slow small filter", 5 -> "scan merge")

  /** q110 — conjunctive positional phrase search over a positional
    * inverted index: postings are (token, doc, pos); a phrase t0..tk
    * occurs at base b iff every term i matches at pos b+i — expressed as
    * the classic group-by-(qid, doc, pos − i) HAVING count(distinct i) =
    * k+1, which needs no per-phrase join arity. Overlapping occurrences
    * count (both engines agree by construction).
    *
    * Scale shape: the phrase table is tiny → broadcast onto the posting
    * stream (only postings whose token appears in some phrase survive the
    * join — the inverted-index pruning); the occurrence agg is one
    * shuffle keyed (qid, doc, base) with bounded group sizes. */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qt = Phrases.toDF("qid", "phrase")
      .select(col("qid"), col("phrase"), posexplode(split(col("phrase"), " ")).as(Seq("idx", "term")))
      .withColumn("n_terms", count(lit(1)).over(Window.partitionBy(col("qid"))))
    val postings = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
    val occ = postings.join(broadcast(qt), col("token") === col("term"))
      .groupBy(col("qid"), col("phrase"), col("doc_id"), (col("pos") - col("idx")).as("base"))
      .agg(countDistinct(col("idx")).as("k"), max(col("n_terms")).as("nt"))
      .filter(col("k") === col("nt") && col("base") >= 0)
    occ.groupBy(col("qid"), col("phrase"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("qid"))
  }

  // -------------------------------------------------------------------------
  // q114 — bigram LM coverage (KenLM-lite quality scoring)
  // -------------------------------------------------------------------------

  final val LmMinCount = 5L

  /** q114 — n-gram LM coverage scoring: the corpus's own bigram counts
    * stand in for a language model (the KenLM-filtering shape, integer
    * surrogate: coverage instead of log-prob so both engines agree
    * bit-exactly); per document, the permille of its bigrams seen
    * ≥ [[LmMinCount]] times corpus-wide plus the floored mean bigram
    * count; reported per language.
    *
    * Scale shape: the bigram table is Heaps-sublinear in the corpus (one
    * token-keyed agg); the score join keys on the bigram (the exact q57
    * df shape); everything else is partial-agg shuffles. */
  def bigramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    // the bigram stream feeds both the LM-count agg and the score join —
    // persist so the scan+explode runs once (released via CacheBag)
    val bg = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(0, size(ws) - 2), i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")).as("bg"))
      .persist()
    graft.util.CacheBag.register(bg)
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    val perDoc = bg.join(counts, Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bg"), sum(col("cnt")).as("sum_cnt"),
        sum(when(col("cnt") >= LmMinCount, 1L).otherwise(0L)).as("covered"))
      .select(col("lang"), expr("(covered * 1000) div n_bg").as("cov_pm"),
        expr("sum_cnt div n_bg").as("mean_cnt"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(cov_pm) div count(1)").as("avg_cov_pm"),
        min(col("cov_pm")).as("min_cov_pm"), max(col("cov_pm")).as("max_cov_pm"),
        expr("sum(mean_cnt) div count(1)").as("avg_mean_cnt"))
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------------
  // q115 — webgraph degree audit
  // -------------------------------------------------------------------------

  /** q115 — webgraph structural audit over the q106 link graph: the joint
    * (in-degree, out-degree) distribution with per-bucket reciprocity
    * (links whose reverse also exists) — the degree/reciprocity audit run
    * on any crawl graph before trusting link-based quality signals.
    *
    * Scale shape: in/out degrees are two partial-agg shuffles keyed on
    * node id; reciprocity is ONE self-equi-join keyed on the (src, dst)
    * pair (never all-pairs); the joint histogram is grid-sized output. */
  def webgraphAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = linkEdges(spark, sfDir).persist()
    graft.util.CacheBag.register(edges)
    val nodes = Inputs.documents(spark, sfDir).select(col("doc_id"))
    val indeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("indeg"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val recip = edges.as("a").join(edges.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("rnode")).agg(count(lit(1)).as("recip_out"))
    nodes
      .join(indeg, col("doc_id") === col("dst"), "left")
      .join(outdeg, col("doc_id") === col("src"), "left")
      .join(recip, col("doc_id") === col("rnode"), "left")
      .select(col("doc_id"), coalesce(col("indeg"), lit(0L)).as("indeg"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("recip_out"), lit(0L)).as("recip_out"))
      .groupBy(col("indeg"), col("outdeg"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("recip_out")).as("n_recip"),
        min(col("doc_id")).as("min_node"), max(col("doc_id")).as("max_node"))
      .orderBy(col("indeg"), col("outdeg"))
  }

  // -------------------------------------------------------------------------
  // q116 — containment dedup (asymmetric near-dup: quote expansion)
  // -------------------------------------------------------------------------

  final val ContCandJacM = 100
  final val ContMinM = 600

  /** q116 — asymmetric containment detection over the LSH candidate
    * pairs: containment(A→B) = |shingles(A) ∩ shingles(B)|·1000 div
    * |shingles(A)| — near 1000 when A is quoted/expanded inside B even
    * though symmetric Jaccard is low (the dedup case MinHash-Jaccard
    * alone under-reports). Candidates come from the q29 banding at a low
    * Jaccard floor; pairs where either direction ≥ [[ContMinM]] survive.
    *
    * Scale shape: identical to q29 (banded equi-join candidates, two
    * bounded shingle-set joins); the containment math adds two
    * projections to the verified-pair stage. */
  def containmentPairs(spark: SparkSession, sfDir: String,
      minContM: Int = ContMinM): DataFrame = {
    // r6: take the UNSORTED pairs plus the pipeline's own shingle-set
    // cache (keepSh) — the r5 version re-ran the shingle+hash kernel over
    // the corpus and re-sorted pairs it was about to re-key (guide §2.4)
    val (pairs, sh) = TextQueries.lshNearDupPairsAnd(spark, sfDir,
      minJacM = ContCandJacM, keepSh = true)
    pairs
      .join(sh.as("x"), col("d1") === col("x.doc_id"))
      .join(sh.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"), col("jac_m"),
        size(array_intersect(col("x.shd"), col("y.shd"))).cast("long").as("inter"),
        size(col("x.shd")).cast("long").as("sz_a"),
        size(col("y.shd")).cast("long").as("sz_b"))
      // integer floor division end to end (FIXTURES §3) — operands are
      // non-negative, so `div` here ≡ DuckDB's `//` with no IEEE detour
      .withColumn("cont_ab_m", expr("(inter * 1000) div sz_a"))
      .withColumn("cont_ba_m", expr("(inter * 1000) div sz_b"))
      .filter(greatest(col("cont_ab_m"), col("cont_ba_m")) >= minContM)
      .select(col("d1"), col("d2"), col("jac_m"), col("cont_ab_m"), col("cont_ba_m"))
      .orderBy(col("d1"), col("d2"))
  }

  // -------------------------------------------------------------------------
  // q118 — syndication matrix (who copies from whom)
  // -------------------------------------------------------------------------

  /** q118 — cross-source duplication matrix: the q29 near-dup pairs
    * aggregated to (source, source) cells — which hosts syndicate each
    * other's content, the audit that decides whether dedup should be
    * source-aware. Pair sources are order-normalized (least, greatest) so
    * the matrix is upper-triangular.
    *
    * Scale shape: q29's banded candidates (linear) + two doc_id-keyed
    * joins to attach sources + one matrix-sized agg. */
  def syndicationMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = TextQueries.lshNearDupPairsAnd(spark, sfDir)._1
    val src = Inputs.documents(spark, sfDir).select(col("doc_id"), col("source"))
    pairs
      .join(src.as("a"), col("d1") === col("a.doc_id"))
      .join(src.as("b"), col("d2") === col("b.doc_id"))
      .select(least(col("a.source"), col("b.source")).as("src_a"),
        greatest(col("a.source"), col("b.source")).as("src_b"), col("jac_m"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), min(col("jac_m")).as("min_jac"),
        max(col("jac_m")).as("max_jac"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // -------------------------------------------------------------------------
  // q119 — dedup-rate timeline (crawl-health monitoring)
  // -------------------------------------------------------------------------

  /** q119 — duplication rate per crawl 6-hour bucket: a document is a duplicate if
    * an identical text (md5) was crawled EARLIER (order = (ts, doc_id));
    * per bucket the report is docs / dups / dup permille — the dashboard
    * that catches a crawler re-fetching the same pages.
    *
    * Scale shape: one content-hash window (first occurrence) + one
    * bucket-keyed partial agg; identical to q88's first-occurrence ranking
    * with a time key. */
  def dedupTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("ts_sec"), col("doc_id"))
    graft.sources.Pages.fromDocuments(spark, sfDir)
      .select(col("doc_id"), col("ts_sec"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(w))
      .withColumn("tbucket", expr(s"(ts_sec - ${graft.sources.Pages.Epoch}) div 21600"))
      .groupBy(col("tbucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dups"))
      .select(col("tbucket"), col("n_docs"), col("n_dups"),
        expr("(n_dups * 1000) div n_docs").as("dup_pm"))
      .orderBy(col("tbucket"))
  }

  // -------------------------------------------------------------------------
  // q126 — robots-rules filtering (longest-prefix-wins)
  // -------------------------------------------------------------------------

  /** q126 — robots.txt-style path filtering with the longest-prefix-wins
    * rule (the crawl-pipeline gate every fetcher applies before a page
    * enters the corpus). Each source publishes two deterministic rules: a
    * broad allow on `/doc/` and a narrower DISALLOW on `/doc/<s%10>` —
    * so e.g. src3 blocks every doc id starting with the digit 3; the
    * longer match always decides (standard robots semantics). Report per
    * source: pages seen / blocked / blocked permille.
    *
    * Scale shape: the rule table is tiny → broadcast equi-join on source;
    * the per-page winner is a max_by on prefix length (no window); one
    * report agg. */
  def robotsFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // Rules are DERIVED from the corpus's own distinct sources (not a
    // hard-coded 0-until-20) so a fixture cardinality change can't
    // silently drop pages out of the inner join; CurationSpec asserts
    // sum(n_pages) == corpus rows. The distinct is source-cardinality
    // sized → broadcast-safe.
    val rules = Inputs.documents(spark, sfDir).select(col("source")).distinct()
      .withColumn("sfx", substring(col("source"), 4, 10).cast("int") % 10)
      .select(col("source"), explode(array(
        struct(lit("/doc/").as("prefix"), lit(1).as("allow")),
        struct(concat(lit("/doc/"), col("sfx")).as("prefix"), lit(0).as("allow")))).as("r"))
      .select(col("source"), col("r.prefix").as("prefix"), col("r.allow").as("allow"))
    Inputs.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        concat(lit("/doc/"), col("doc_id").cast("string")).as("path"))
      .join(broadcast(rules), Seq("source"))
      .filter(expr("substr(path, 1, length(prefix)) = prefix"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max_by(col("allow"), length(col("prefix"))).as("allow"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("allow") === 0, 1L).otherwise(0L)).as("n_blocked"))
      .select(col("source"), col("n_pages"), col("n_blocked"),
        expr("(n_blocked * 1000) div n_pages").as("blocked_pm"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------------
  // q137 — quality filter cascade audit
  // -------------------------------------------------------------------------

  final val CascShortTok = 20L
  final val CascDup2Pm = 60L
  final val CascDiversPm = 350L

  /** q137 — the Gopher-style filter-cascade AUDIT: evaluate every quality
    * rule on every document and report, per rule, how many documents it
    * flags and how many it flags ALONE (the marginal value of the rule —
    * a rule with zero sole rejections is redundant), plus the TOTAL row
    * (rejected, kept). Rules: too-short (n_tok < [[CascShortTok]]),
    * repetitive (duplicate-2-gram share > [[CascDup2Pm]]‰), low
    * lexical diversity (distinct-token share < [[CascDiversPm]]‰) —
    * each a zero-shuffle array-lambda signal (the q89 formulation).
    *
    * Scale shape: pure per-row projection + ONE global aggregate row,
    * unpivoted with stack — no shuffle before the final 4-row agg. */
  def filterCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val flags = Inputs.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_tok", size(col("ws")).cast("long"))
      .withColumn("grams", expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2))) " +
          "ELSE array() END"))
      .withColumn("f_short", (col("n_tok") < CascShortTok).cast("long"))
      .withColumn("f_rep", expr(
        s"CAST(size(grams) >= 1 AND (size(grams) - size(array_distinct(grams))) * 1000 div size(grams) > $CascDup2Pm AS LONG)"))
      .withColumn("f_div", expr(
        s"CAST(size(array_distinct(ws)) * 1000 div size(ws) < $CascDiversPm AS LONG)"))
      .withColumn("n_fl", col("f_short") + col("f_rep") + col("f_div"))
    flags.agg(
        sum(col("f_short")).as("sh"),
        sum(when(col("f_short") === 1 && col("n_fl") === 1, 1L).otherwise(0L)).as("sh_sole"),
        sum(col("f_rep")).as("rep"),
        sum(when(col("f_rep") === 1 && col("n_fl") === 1, 1L).otherwise(0L)).as("rep_sole"),
        sum(col("f_div")).as("dv"),
        sum(when(col("f_div") === 1 && col("n_fl") === 1, 1L).otherwise(0L)).as("dv_sole"),
        sum(when(col("n_fl") > 0, 1L).otherwise(0L)).as("rej"),
        sum(when(col("n_fl") === 0, 1L).otherwise(0L)).as("kept"))
      .selectExpr("stack(4, " +
        "'TOTAL', rej, kept, " +
        "'low_diversity', dv, dv_sole, " +
        "'repetitive', rep, rep_sole, " +
        "'short', sh, sh_sole) AS (rule, n_flagged, n_sole)")
      .orderBy(col("rule"))
  }

  // -------------------------------------------------------------------------
  // q113 — BPE merge trainer (rows-only + ST; iterative, not SQL-expressible)
  // -------------------------------------------------------------------------

  final val BpeMerges = 20
  final val BpeVocabCap = 65536

  /** q113 — byte-pair-encoding merge training, the industry shape: ONE
    * distributed word-frequency aggregation (the only corpus-proportional
    * stage), then the merge loop runs on the weighted vocabulary — capped
    * at the top [[BpeVocabCap]] words by (count desc, word asc), the
    * standard bounded-vocab discipline, so the driver state is metadata-
    * sized BY CONSTRUCTION (documented eager exception, COVERAGE.md).
    * Pair counting is over all adjacent symbol positions; merge choice
    * tiebreaks (count desc, pair lexicographic); replacement is greedy
    * left-to-right. No SQL oracle (iterative trainer) — CurationSpec pins
    * a hand-computed fixture and the invariants. */
  /** Bounded weighted vocabulary: ONE distributed word-count agg, capped
    * at the top [[BpeVocabCap]] words (count desc, word asc) — the
    * metadata-sized driver state both BPE entry points share. */
  private def wordVocab(spark: SparkSession, sfDir: String): Array[(String, Long)] = {
    import spark.implicits._
    Inputs.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(BpeVocabCap)
      .as[(String, Long)].collect()
  }

  def bpeMerges(spark: SparkSession, sfDir: String, nMerges: Int = BpeMerges): DataFrame = {
    import spark.implicits._
    val merges = trainBpe(wordVocab(spark, sfDir).toSeq, nMerges)
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
      .toDF("rank", "left", "right", "pair_count")
      .orderBy(col("rank"))
  }

  /** q123 — apply the trained merges: encode EVERY corpus word (including
    * words the trainer's vocab cap never saw — BPE merges apply to unseen
    * words too) and report per-language subtoken statistics (the
    * fertility audit run after training any tokenizer: subtokens per
    * word, per language — high fertility = underserved language).
    *
    * The merge replay is DISTRIBUTED and vocabulary-free: the
    * `bpe_subtokens` Catalyst expression carries the trained merge list
    * as a foldable literal and replays the trainer's greedy scan per
    * token on the executors (a chained string `replace` is NOT
    * equivalent — a match consumes its trailing symbol boundary and
    * skips pairs in same-symbol runs; CurationSpec pins the expression
    * against [[bpeSegment]] on boundary-adversarial words). One
    * expression call per token = a pure projection; the only
    * construction-time job is the trainer's bounded word-count collect
    * (documented eager exception, COVERAGE.md). Rows-only (the merge loop
    * is not SQL-expressible). */
  def bpeEncode(spark: SparkSession, sfDir: String, nMerges: Int = BpeMerges): DataFrame = {
    val merges = trainBpe(wordVocab(spark, sfDir).toSeq, nMerges).map(m => (m._1, m._2))
    encodeWithMerges(spark, sfDir, merges)
  }

  /** The encode projection given an explicit merge list — shared by q123
    * (train-in-query) and the served-from-artifact path
    * ([[IndexStoreQueries.bpeEncodeServed]]). */
  private[operators] def encodeWithMerges(spark: SparkSession, sfDir: String,
      merges: Seq[(String, String)]): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val spec = graft.functions.GraftFunctions.bpeMergeSpec(merges)
    Inputs.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .select(col("lang"), length(col("w")).cast("long").as("n_chars_w"),
        graft.functions.GraftFunctions.bpe_subtokens(col("w"), lit(spec))
          .cast("long").as("n_sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subtokens"),
        expr("(sum(n_sub) * 1000) div count(1)").as("fertility_pm"),
        expr("(sum(n_chars_w) * 1000) div sum(n_sub)").as("chars_per_sub_pm"))
      .orderBy(col("lang"))
  }

  /** Greedy merge replay for one word — delegates to the shared kernel
    * (the same code the `bpe_subtokens` expression evaluates). */
  private[operators] def bpeSegment(word: String, merges: Seq[(String, String)]): Vector[String] =
    graft.functions.GraftKernels.bpeSegment(word, merges)

  /** Pure BPE merge loop over a weighted vocabulary (driver-side; bounded
    * input). Returns (left, right, pairCount) per merge in order. */
  private[operators] def trainBpe(vocab: Seq[(String, Long)], nMerges: Int): Seq[(String, String, Long)] = {
    var words: Vector[(Vector[String], Long)] =
      vocab.map { case (w, c) => (w.map(_.toString).toVector, c) }.toVector
    val out = Vector.newBuilder[(String, String, Long)]
    var done = 0
    while (done < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = nMerges
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((l, r, c))
        words = words.map { case (syms, wc) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.result(), wc)
        }
        done += 1
      }
    }
    out.result()
  }

  // ---- oracle twins -------------------------------------------------------

  val oracle: Map[String, String] = Map(
    "q137_filter_cascade" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "s AS (SELECT doc_id, len(ws) AS n_tok, " +
        "CASE WHEN len(ws) >= 2 THEN list_transform(range(len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2]) " +
        "ELSE CAST([] AS VARCHAR[]) END AS grams, " +
        "len(list_distinct(ws)) * 1000 // len(ws) AS divers_pm FROM t), " +
        s"f AS (SELECT doc_id, CASE WHEN n_tok < $CascShortTok THEN 1 ELSE 0 END AS f_short, " +
        s"CASE WHEN len(grams) >= 1 AND (len(grams) - len(list_distinct(grams))) * 1000 // len(grams) > $CascDup2Pm THEN 1 ELSE 0 END AS f_rep, " +
        s"CASE WHEN divers_pm < $CascDiversPm THEN 1 ELSE 0 END AS f_div FROM s), " +
        "a AS (SELECT CAST(sum(f_short) AS BIGINT) AS sh, " +
        "CAST(sum(CASE WHEN f_short = 1 AND f_short + f_rep + f_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sh_sole, " +
        "CAST(sum(f_rep) AS BIGINT) AS rep, " +
        "CAST(sum(CASE WHEN f_rep = 1 AND f_short + f_rep + f_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rep_sole, " +
        "CAST(sum(f_div) AS BIGINT) AS dv, " +
        "CAST(sum(CASE WHEN f_div = 1 AND f_short + f_rep + f_div = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dv_sole, " +
        "CAST(sum(CASE WHEN f_short + f_rep + f_div > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rej, " +
        "CAST(sum(CASE WHEN f_short + f_rep + f_div = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept FROM f) " +
        "SELECT * FROM (SELECT 'TOTAL' AS rule, rej AS n_flagged, kept AS n_sole FROM a " +
        "UNION ALL SELECT 'low_diversity', dv, dv_sole FROM a " +
        "UNION ALL SELECT 'repetitive', rep, rep_sole FROM a " +
        "UNION ALL SELECT 'short', sh, sh_sole FROM a) ORDER BY rule"),
    "q105_span_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        s"g0 AS (SELECT doc_id, unnest(generate_series(0, CAST(len(toks) AS BIGINT) - $SpanGram)) AS pos, toks FROM t WHERE len(toks) >= $SpanGram), " +
        s"g AS (SELECT doc_id, pos, array_to_string(list_slice(toks, pos + 1, pos + $SpanGram), ' ') AS gram FROM g0), " +
        "d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2), " +
        s"i AS (SELECT doc_id, pos AS s, pos + ${SpanGram - 1} AS e FROM g WHERE gram IN (SELECT gram FROM d)), " +
        "f AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM i), " +
        "fl AS (SELECT doc_id, s, e, CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS flag FROM f), " +
        "isl AS (SELECT doc_id, s, e, sum(flag) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM fl), " +
        "sp AS (SELECT doc_id, isl, min(s) AS s0, max(e) AS e1 FROM isl GROUP BY doc_id, isl), " +
        "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(sum(e1 - s0 + 1) AS BIGINT) AS dup_tok FROM sp GROUP BY doc_id) " +
        "SELECT t.doc_id AS doc_id, CAST(len(toks) AS BIGINT) AS n_tok, coalesce(pd.dup_tok, 0) AS dup_tok, " +
        "coalesce(pd.n_spans, 0) AS n_spans, CAST(len(toks) AS BIGINT) - coalesce(pd.dup_tok, 0) AS kept_tok " +
        s"FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id WHERE len(toks) >= $SpanGram ORDER BY doc_id"),
    "q106_page_rank" -> {
      val teleport = PrInit * 15 / 100
      def iter(prev: String, cur: String): String =
        s"$cur AS (SELECT d.doc_id AS v, CAST($teleport + (85 * coalesce(s.infl, 0)) // 100 AS BIGINT) AS r " +
          s"FROM documents d LEFT JOIN (SELECT e.dst, CAST(sum($prev.r // od.od) AS BIGINT) AS infl " +
          s"FROM e JOIN od ON e.src = od.src JOIN $prev ON $prev.v = e.src GROUP BY e.dst) s ON s.dst = d.doc_id)"
      s"WITH $sqlEdgesCte, " +
        "od AS (SELECT src, count(*) AS od FROM e GROUP BY src), " +
        s"r0 AS (SELECT doc_id AS v, CAST($PrInit AS BIGINT) AS r FROM documents), " +
        (1 to PrIters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(", ") + " " +
        s"SELECT CAST(row_number() OVER (ORDER BY r DESC, v) AS INT) AS rnk, v AS doc_id, r " +
        s"FROM r$PrIters ORDER BY r DESC, v LIMIT 20"
    },
    "q107_url_canonical" ->
      ("WITH raw AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT) " +
        "WHEN 0 THEN concat('HTTPS://SRC', CAST((doc_id // 2) % 20 AS VARCHAR), '.EXAMPLE.COM:443/doc/', CAST(doc_id // 2 AS VARCHAR), '?utm_source=feed') " +
        "WHEN 1 THEN concat('https://src', CAST((doc_id // 2) % 20 AS VARCHAR), '.example.com/doc/', CAST(doc_id // 2 AS VARCHAR), '/') " +
        "WHEN 2 THEN concat('https://src', CAST((doc_id // 2) % 20 AS VARCHAR), '.example.com/doc/', CAST(doc_id // 2 AS VARCHAR), '?b=2&a=1&utm_c=x') " +
        "ELSE concat('https://src', CAST((doc_id // 2) % 20 AS VARCHAR), '.example.com/doc/', CAST(doc_id // 2 AS VARCHAR), '?a=1&b=2') END AS raw FROM documents), " +
        "p1 AS (SELECT doc_id, raw, lower(split_part(raw, '://', 1)) AS scheme, split_part(raw, '://', 2) AS rest FROM raw), " +
        "p2 AS (SELECT *, lower(split_part(rest, '/', 1)) AS hostport FROM p1), " +
        "p3 AS (SELECT doc_id, raw, scheme, CASE WHEN hostport LIKE '%:443' THEN substr(hostport, 1, length(hostport) - 4) ELSE hostport END AS host, " +
        "substr(rest, length(hostport) + 1) AS pathq FROM p2), " +
        "p4 AS (SELECT *, split_part(pathq, '?', 1) AS path0, " +
        "CASE WHEN strpos(pathq, '?') > 0 THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS q FROM p3), " +
        "p5 AS (SELECT doc_id, scheme, host, " +
        "CASE WHEN path0 LIKE '%/' AND length(path0) > 1 THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path, " +
        "list_filter(string_split(q, '&'), p -> p <> '' AND substr(p, 1, 4) <> 'utm_') AS keep FROM p4), " +
        "c AS (SELECT doc_id, host, concat(scheme, '://', host, path, " +
        "CASE WHEN len(keep) = 0 THEN '' ELSE concat('?', array_to_string(list_sort(keep), '&')) END) AS canon FROM p5) " +
        "SELECT host, count(*) AS n_raw, count(DISTINCT canon) AS n_canon, " +
        "count(*) - count(DISTINCT canon) AS n_dups, min(canon) AS first_canon " +
        "FROM c GROUP BY host ORDER BY host"),
    "q108_token_rank_quality" ->
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "v AS (SELECT token, count(*) AS c FROM tok GROUP BY token), " +
        "rk AS (SELECT token, CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rnk FROM v), " +
        "pd AS (SELECT doc_id, lang, count(*) AS n_tok, CAST(sum(rnk) AS BIGINT) AS sum_rnk, " +
        "CAST(sum(CASE WHEN rnk > 15 THEN 1 ELSE 0 END) AS BIGINT) AS tail " +
        "FROM tok JOIN rk ON tok.token = rk.token GROUP BY doc_id, lang), " +
        "pq AS (SELECT lang, sum_rnk // n_tok AS mean_rank, (tail * 1000) // n_tok AS tail_pm FROM pd) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(mean_rank) // count(*) AS BIGINT) AS avg_mean_rank, " +
        "CAST(min(tail_pm) AS BIGINT) AS min_tail_pm, CAST(max(tail_pm) AS BIGINT) AS max_tail_pm " +
        "FROM pq GROUP BY lang ORDER BY lang"),
    "q109_lang_rebalance" ->
      ("WITH c AS (SELECT lang, count(*) AS docs_in FROM documents GROUP BY lang), " +
        "f AS (SELECT lang, docs_in, ((SELECT count(*) FROM documents) * 200) // docs_in AS factor_pm FROM c), " +
        "cp AS (SELECT d.lang, d.n_chars, f.factor_pm // 1000 + " +
        s"(CASE WHEN ${TextQueries.sqlTokHash("CAST(doc_id AS VARCHAR)", "mix")} % 1000 < f.factor_pm % 1000 THEN 1 ELSE 0 END) AS copies " +
        "FROM documents d JOIN f ON d.lang = f.lang), " +
        "o AS (SELECT lang, CAST(sum(copies) AS BIGINT) AS docs_out, CAST(sum(copies * n_chars) AS BIGINT) AS out_chars FROM cp GROUP BY lang) " +
        "SELECT f.lang AS lang, f.docs_in AS docs_in, CAST(f.factor_pm AS BIGINT) AS factor_pm, o.docs_out AS docs_out, " +
        "CAST((o.docs_out * 1000) // (SELECT sum(docs_out) FROM o) AS BIGINT) AS out_pm, o.out_chars AS out_chars " +
        "FROM f JOIN o ON f.lang = o.lang ORDER BY lang"),
    "q114_bigram_coverage" ->
      ("WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents), " +
        "b0 AS (SELECT doc_id, lang, unnest(generate_series(0, CAST(len(ws) AS BIGINT) - 2)) AS i, ws FROM t WHERE len(ws) >= 2), " +
        "bg AS (SELECT doc_id, lang, list_extract(ws, i + 1) || ' ' || list_extract(ws, i + 2) AS bg FROM b0), " +
        "c AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg), " +
        "pd AS (SELECT doc_id, lang, count(*) AS n_bg, CAST(sum(cnt) AS BIGINT) AS sum_cnt, " +
        s"CAST(sum(CASE WHEN cnt >= $LmMinCount THEN 1 ELSE 0 END) AS BIGINT) AS covered " +
        "FROM bg JOIN c ON bg.bg = c.bg GROUP BY doc_id, lang), " +
        "pq AS (SELECT lang, (covered * 1000) // n_bg AS cov_pm, sum_cnt // n_bg AS mean_cnt FROM pd) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(cov_pm) // count(*) AS BIGINT) AS avg_cov_pm, " +
        "CAST(min(cov_pm) AS BIGINT) AS min_cov_pm, CAST(max(cov_pm) AS BIGINT) AS max_cov_pm, " +
        "CAST(sum(mean_cnt) // count(*) AS BIGINT) AS avg_mean_cnt " +
        "FROM pq GROUP BY lang ORDER BY lang"),
    "q115_webgraph_audit" ->
      (s"WITH $sqlEdgesCte, " +
        "ind AS (SELECT dst, count(*) AS indeg FROM e GROUP BY dst), " +
        "outd AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
        "rec AS (SELECT a.src AS rnode, count(*) AS recip_out FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src GROUP BY a.src), " +
        "j AS (SELECT d.doc_id, coalesce(ind.indeg, 0) AS indeg, coalesce(outd.outdeg, 0) AS outdeg, coalesce(rec.recip_out, 0) AS recip_out " +
        "FROM documents d LEFT JOIN ind ON d.doc_id = ind.dst LEFT JOIN outd ON d.doc_id = outd.src LEFT JOIN rec ON d.doc_id = rec.rnode) " +
        "SELECT CAST(indeg AS BIGINT) AS indeg, CAST(outdeg AS BIGINT) AS outdeg, count(*) AS n_nodes, " +
        "CAST(sum(recip_out) AS BIGINT) AS n_recip, min(doc_id) AS min_node, max(doc_id) AS max_node " +
        "FROM j GROUP BY indeg, outdeg ORDER BY indeg, outdeg"),
    "q116_containment" ->
      (s"WITH ${TextQueries.lshPairsCte} " +
        "SELECT * FROM (SELECT j.d1 AS d1, j.d2 AS d2, j.jac_m AS jac_m, " +
        "CAST((len(list_intersect(m1.shd, m2.shd)) * 1000) // len(m1.shd) AS BIGINT) AS cont_ab_m, " +
        "CAST((len(list_intersect(m1.shd, m2.shd)) * 1000) // len(m2.shd) AS BIGINT) AS cont_ba_m " +
        "FROM j JOIN m m1 ON m1.doc_id = j.d1 JOIN m m2 ON m2.doc_id = j.d2 " +
        s"WHERE j.jac_m >= $ContCandJacM) " +
        s"WHERE greatest(cont_ab_m, cont_ba_m) >= $ContMinM ORDER BY d1, d2"),
    "q118_syndication" ->
      (s"WITH ${TextQueries.lshPairsCte} " +
        "SELECT least(da.source, db.source) AS src_a, greatest(da.source, db.source) AS src_b, " +
        "count(*) AS n_pairs, CAST(min(j.jac_m) AS BIGINT) AS min_jac, CAST(max(j.jac_m) AS BIGINT) AS max_jac " +
        "FROM j JOIN documents da ON j.d1 = da.doc_id JOIN documents db ON j.d2 = db.doc_id " +
        "WHERE j.jac_m >= 200 GROUP BY src_a, src_b ORDER BY src_a, src_b"),
    "q119_dedup_timeline" ->
      (s"WITH pages AS (${graft.sources.Pages.oracleCte}), " +
        "r AS (SELECT doc_id, ts_sec, row_number() OVER (PARTITION BY md5(text) ORDER BY ts_sec, doc_id) AS rn FROM pages), " +
        s"wk AS (SELECT (ts_sec - ${graft.sources.Pages.Epoch}) // 21600 AS tbucket, rn FROM r) " +
        "SELECT tbucket, count(*) AS n_docs, CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups, " +
        "CAST((sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS dup_pm " +
        "FROM wk GROUP BY tbucket ORDER BY tbucket"),
    "q126_robots_filter" -> {
      // rules derived from distinct(source), mirroring the Spark side
      s"WITH srcs AS (SELECT DISTINCT source FROM documents), " +
        "r AS (SELECT source, '/doc/' AS prefix, 1 AS allow FROM srcs " +
        "UNION ALL SELECT source, '/doc/' || CAST(CAST(substr(source, 4) AS INT) % 10 AS VARCHAR), 0 FROM srcs), " +
        "p AS (SELECT doc_id, source, '/doc/' || CAST(doc_id AS VARCHAR) AS path FROM documents), " +
        "m AS (SELECT p.doc_id, p.source, arg_max(r.allow, length(r.prefix)) AS allow " +
        "FROM p JOIN r ON p.source = r.source AND substr(p.path, 1, length(r.prefix)) = r.prefix " +
        "GROUP BY p.doc_id, p.source) " +
        "SELECT source, count(*) AS n_pages, CAST(sum(CASE WHEN allow = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked, " +
        "CAST((sum(CASE WHEN allow = 0 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS blocked_pm " +
        "FROM m GROUP BY source ORDER BY source"
    },
    "q110_phrase_search" -> {
      val vals = Phrases.map { case (q, p) => s"($q, '$p')" }.mkString(", ")
      s"WITH ph AS (SELECT * FROM (VALUES $vals) AS ph(qid, phrase)), " +
        "qt0 AS (SELECT qid, phrase, string_split(phrase, ' ') AS ts FROM ph), " +
        "qt AS (SELECT qid, phrase, CAST(len(ts) AS BIGINT) AS n_terms, " +
        "unnest(generate_series(0, CAST(len(ts) AS BIGINT) - 1)) AS idx, ts FROM qt0), " +
        "qte AS (SELECT qid, phrase, n_terms, idx, list_extract(ts, idx + 1) AS term FROM qt), " +
        "pw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "po0 AS (SELECT doc_id, unnest(generate_series(0, CAST(len(ws) AS BIGINT) - 1)) AS pos, ws FROM pw), " +
        "po AS (SELECT doc_id, pos, list_extract(ws, pos + 1) AS token FROM po0), " +
        "occ AS (SELECT q.qid, q.phrase, p.doc_id, p.pos - q.idx AS base, " +
        "count(DISTINCT q.idx) AS k, max(q.n_terms) AS nt FROM qte q JOIN po p ON p.token = q.term " +
        "GROUP BY q.qid, q.phrase, p.doc_id, p.pos - q.idx HAVING count(DISTINCT q.idx) = max(q.n_terms) AND p.pos - q.idx >= 0) " +
        "SELECT qid, phrase, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM occ GROUP BY qid, phrase ORDER BY qid"
    },
  )
}
