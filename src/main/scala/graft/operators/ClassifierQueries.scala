package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Pages

/** Trained text-classification + corpus-layout operators (round-5 wave):
  * the fastText-style pipeline step every corpus curation stack runs —
  * train a cheap linear classifier on a labeled split, score the rest —
  * plus the balanced sequence-packing audit.
  *
  * Determinism (FIXTURES §3): the classifier is a LOG-FREE integer
  * surrogate of multinomial Naive Bayes — per-(token, class) Laplace
  * likelihoods scaled to permicro integers and summed (not multiplied),
  * so both engines replay the identical integer arithmetic and the
  * argmax tiebreak is explicit ((score desc, lang asc)). The surrogate
  * keeps NB's structure (per-class token evidence + unseen-token
  * smoothing) with none of IEEE log's cross-engine risk. */
object ClassifierQueries {

  // -------------------------------------------------------------------------
  // q132 — Naive-Bayes-surrogate language classifier (train/serve split)
  // -------------------------------------------------------------------------

  /** q132 — train on even doc_ids (label = lang), score odd doc_ids,
    * report the confusion matrix (true_lang, pred_lang, n_docs).
    *
    *  - model: w(token, l) = (cnt(token, l) + 1)·1e6 div (cnt_l + V)
    *    (Laplace; V = train vocabulary size, cnt_l = class token mass)
    *  - score(doc, l) = Σ_matched w + (n_tok − n_matched)·b_l where
    *    b_l = 1e6 div (cnt_l + V) is the unseen-token smoothing mass
    *  - prediction = argmax_l score, ties to the lexicographically
    *    smaller lang.
    *
    * Scale shape: the model is one (token, lang)-keyed partial agg
    * (vocab × nLangs rows — Heaps-sublinear); scoring is a token
    * equi-join (AQE broadcasts when the model fits, shuffles otherwise)
    * + a (doc, lang) partial agg; the argmax window partitions per doc
    * over ≤ nLangs rows — bounded by construction; the confusion agg is
    * nLangs². No corpus-wide window anywhere. */
  def nbConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Pages.fromDocuments(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
      .persist()
    graft.util.CacheBag.register(tok)
    val train = tok.filter(col("doc_id") % 2 === 0)
    // r6 (guide §2.3 — aggregate before you shuffle): the (token, lang)
    // partial agg is Heaps-sublinear in the corpus and already carries
    // every training count, so the class mass (Σc per lang) and the
    // vocabulary size (distinct tokens) aggregate the CACHED model frame
    // instead of re-scanning the corpus-sized token stream twice.
    val model0 = train.groupBy(col("token"), col("lang")).agg(count(lit(1)).as("c"))
      .persist()
    graft.util.CacheBag.register(model0)
    // per-class token mass + vocabulary size: nLangs + 1 tiny rows
    val classMass = model0.groupBy(col("lang")).agg(sum(col("c")).as("cnt_l"))
    val vSize = model0.agg(countDistinct(col("token")).as("v"))
    val denom = classMass.crossJoin(broadcast(vSize))
      .select(col("lang").as("ml"), (col("cnt_l") + col("v")).as("den"))
    val model = model0
      .join(broadcast(denom), col("lang") === col("ml"))
      .select(col("token"), col("lang").as("ml"),
        expr("(c + 1) * 1000000 div den").as("w"))
    val test = tok.filter(col("doc_id") % 2 === 1)
    val matched = test
      .join(model, Seq("token"))
      .groupBy(col("doc_id"), col("ml"))
      .agg(sum(col("w")).as("sum_w"), count(lit(1)).as("n_matched"))
      .select(col("doc_id").as("m_doc"), col("ml").as("m_ml"),
        col("sum_w"), col("n_matched"))
    val nTok = test.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), min(col("lang")).as("true_lang"))
    // every (doc, lang) pair scores — langs with zero matched tokens get
    // the pure smoothing mass
    val scored = nTok
      .crossJoin(broadcast(denom))
      .join(matched, col("doc_id") === col("m_doc") && col("ml") === col("m_ml"), "left")
      .select(col("doc_id"), col("true_lang"), col("ml"),
        (coalesce(col("sum_w"), lit(0L)) +
          (col("n_tok") - coalesce(col("n_matched"), lit(0L))) *
            expr("1000000 div den")).as("score"))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("ml"))
    scored
      .withColumn("rn", row_number().over(wD))
      .filter(col("rn") === 1)
      .groupBy(col("true_lang"), col("ml").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("true_lang"), col("pred_lang"), col("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  // -------------------------------------------------------------------------
  // q133 — balanced sequence-packing audit (round-robin by length rank)
  // -------------------------------------------------------------------------

  final val PackBins = 16

  /** q133 — deterministic balanced packing: rank documents by
    * (n_tok desc, doc_id) with the DISTRIBUTED rank ([[Ranks]]) and deal
    * them round-robin into [[PackBins]] bins (longest-first round-robin —
    * the classic greedy balance guarantee); report per-bin document
    * count, token mass, and the cross-bin spread in permille of the
    * largest bin. The audit a training-data layout runs before writing
    * fixed-budget shards: a spread near 0 means no straggler shard.
    *
    * Scale shape: the rank is the q77 3-stage prefix (range partition +
    * bounded windows + metadata offsets — never a single-task sort); the
    * bin assignment is a zero-shuffle projection; per-bin stats are one
    * partial agg to PackBins rows; the spread window runs over PackBins
    * rows. */
  def packingBalance(spark: SparkSession, sfDir: String, bins: Int = PackBins): DataFrame = {
    val d = Pages.fromDocuments(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val ranked = Ranks.distributed(d, col("n_tok").desc, col("doc_id"))
    val perBin = ranked
      .withColumn("bin", (col("rnk") - 1) % bins)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        max(col("n_tok")).as("max_tok"))
    val wAll = Window.partitionBy() // PackBins rows — metadata-sized
    perBin
      .withColumn("mx", max(col("sum_tok")).over(wAll))
      .withColumn("mn", min(col("sum_tok")).over(wAll))
      .withColumn("spread_pm", expr("(mx - mn) * 1000 div mx"))
      .select(col("bin"), col("n_docs"), col("sum_tok"), col("max_tok"), col("spread_pm"))
      .orderBy(col("bin"))
  }

  // -------------------------------------------------------------------------
  // q142 — vocabulary coverage curve (the Zipf audit behind vocab sizing)
  // -------------------------------------------------------------------------

  final val VocabKs: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)

  /** q142 — cumulative token-mass coverage of the top-k vocabulary for a
    * ladder of k values: coverage(k) = Σ count over rank ≤ k · 1000 div
    * total — the curve that decides how big a tokenizer vocabulary must
    * be before the tail stops mattering (a steep curve = Zipf-friendly
    * corpus). The fixture grammar holds ~31 types, so the ladder stays
    * small; at web scale the SAME plan runs with k up to 10^6.
    *
    * Scale shape: vocabulary agg (Heaps-sublinear) → the DISTRIBUTED
    * rank ([[Ranks]]; never a single-task sort) → one ladder × vocab
    * broadcast classification + partial agg to |ladder| rows; the total
    * rides the lazy one-row broadcast. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Ranks.distributed(
      Pages.fromDocuments(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c")),
      col("c").desc, col("token"))
    val total = vocab.agg(sum(col("c")).as("total"))
    import spark.implicits._
    val ks = VocabKs.toDF("k")
    vocab.crossJoin(broadcast(ks))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("c")).as("mass"), count(lit(1)).as("n_types"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_types"), col("mass"),
        expr("(mass * 1000) div total").as("coverage_pm"))
      .orderBy(col("k"))
  }

  // -------------------------------------------------------------------------
  // q143 — collocation mining (integer lift over adjacent bigrams)
  // -------------------------------------------------------------------------

  final val CollMinPairs = 5L
  final val CollTopK = 20

  /** q143 — collocation discovery: adjacent bigrams ranked by integer
    * LIFT — lift_m = (n_pair · total_tok · 1000) div (n_a · n_b), the
    * permille ratio of observed co-occurrence to the independence
    * expectation (the PMI family without logs, so both engines replay
    * exact integers; same arithmetic as q141's location quotient, on the
    * token axis). Pairs under [[CollMinPairs]] occurrences are
    * suppressed; top-[[CollTopK]] by (lift desc, pair). The phrase-
    * discovery pass a tokenizer/quality pipeline runs to find
    * multi-word units worth preserving. Range: lift is computed by
    * q141's `GeoStatsQueries.lqPermille`, exact in DECIMAL(38,0) — the
    * numerator n_pair · total · 1000 stays exact to ~3·10^17 tokens (in
    * BIGINT it passed 2^63 near 3·10^7); past that ANSI decimal overflow
    * throws.
    *
    * Scale shape: one bigram partial agg (Heaps-ish in the pair space) +
    * two vocab-keyed equi-joins to attach unigram counts + the lazy
    * one-row total broadcast; top-k is a TakeOrdered, never a global
    * sort. */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Pages.fromDocuments(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val uni = tok.select(explode(col("ws")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .persist()
    graft.util.CacheBag.register(uni)
    val total = uni.agg(sum(col("n")).as("total"))
    // guard single-token/empty docs BEFORE the bigram explode: Spark's
    // sequence(0, -1) is the DESCENDING [0, -1], never empty (CLAUDE.md;
    // ADVICE r5), so an unguarded transform would throw on element_at(ws,
    // 0) while the DuckDB twin's range() correctly yields no bigrams — a
    // silent cross-engine divergence (Verify skips thrown queries).
    // Semantics-preserving: 1-token docs contribute no bigrams either way.
    val pairs = tok
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(element_at(ws, i + 1) AS a, element_at(ws, i + 2) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= CollMinPairs)
    pairs
      .join(uni.select(col("t").as("a"), col("n").as("n_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("n").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_pair"),
        GeoStatsQueries.lqPermille(col("n_pair"), col("n_a"), col("n_b"), col("total"))
          .as("lift_m"))
      .orderBy(col("lift_m").desc, col("a"), col("b"))
      .limit(CollTopK)
  }

  // ---- DuckDB oracle twins --------------------------------------------------

  def oracle: Map[String, String] = Map(
    "q132_nb_confusion" ->
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "train AS (SELECT * FROM tok WHERE doc_id % 2 = 0), " +
        "test AS (SELECT * FROM tok WHERE doc_id % 2 = 1), " +
        "cm AS (SELECT lang, count(*) AS cnt_l FROM train GROUP BY lang), " +
        "v AS (SELECT count(DISTINCT token) AS v FROM train), " +
        "den AS (SELECT lang AS ml, cnt_l + (SELECT v FROM v) AS den FROM cm), " +
        "model AS (SELECT t.token, t.lang AS ml, CAST((count(*) + 1) * 1000000 // d.den AS BIGINT) AS w " +
        "FROM train t JOIN den d ON t.lang = d.ml GROUP BY t.token, t.lang, d.den), " +
        "m AS (SELECT te.doc_id, mo.ml, CAST(sum(mo.w) AS BIGINT) AS sum_w, count(*) AS n_matched " +
        "FROM test te JOIN model mo ON te.token = mo.token GROUP BY te.doc_id, mo.ml), " +
        "nt AS (SELECT doc_id, count(*) AS n_tok, min(lang) AS true_lang FROM test GROUP BY doc_id), " +
        "sc AS (SELECT nt.doc_id, nt.true_lang, d.ml, " +
        "coalesce(m.sum_w, 0) + (nt.n_tok - coalesce(m.n_matched, 0)) * (1000000 // d.den) AS score " +
        "FROM nt CROSS JOIN den d LEFT JOIN m ON m.doc_id = nt.doc_id AND m.ml = d.ml), " +
        "p AS (SELECT doc_id, true_lang, ml, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, ml) AS rn FROM sc) " +
        "SELECT true_lang, ml AS pred_lang, count(*) AS n_docs FROM p WHERE rn = 1 " +
        "GROUP BY true_lang, ml ORDER BY true_lang, pred_lang"),
    "q143_collocations" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "uni AS (SELECT tk, count(*) AS n FROM (SELECT unnest(ws) AS tk FROM t) GROUP BY tk), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM uni), " +
        "bg AS (SELECT ws[i+1] AS a, ws[i+2] AS b FROM t CROSS JOIN LATERAL unnest(range(len(ws) - 1)) AS r(i)), " +
        s"p AS (SELECT a, b, count(*) AS n_pair FROM bg GROUP BY a, b HAVING count(*) >= $CollMinPairs) " +
        "SELECT p.a, p.b, p.n_pair, " +
        "CAST((p.n_pair * tt.total * 1000) // (ua.n * ub.n) AS BIGINT) AS lift_m " +
        "FROM p JOIN uni ua ON p.a = ua.tk JOIN uni ub ON p.b = ub.tk CROSS JOIN tt " +
        s"ORDER BY lift_m DESC, p.a, p.b LIMIT $CollTopK"),
    "q142_vocab_coverage" ->
      (s"WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "v AS (SELECT token, count(*) AS c, row_number() OVER (ORDER BY count(*) DESC, token) AS rnk " +
        "FROM tok GROUP BY token), " +
        "tt AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM v), " +
        s"ks AS (SELECT unnest([${VocabKs.mkString(", ")}]) AS k) " +
        "SELECT CAST(ks.k AS BIGINT) AS k, count(*) AS n_types, CAST(sum(v.c) AS BIGINT) AS mass, " +
        "CAST((sum(v.c) * 1000) // tt.total AS BIGINT) AS coverage_pm " +
        "FROM v JOIN ks ON v.rnk <= ks.k CROSS JOIN tt " +
        "GROUP BY ks.k, tt.total ORDER BY k"),
    "q133_packing_balance" ->
      (s"WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "r AS (SELECT doc_id, n_tok, row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rnk FROM d), " +
        s"pb AS (SELECT (rnk - 1) % $PackBins AS bin, count(*) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS sum_tok, CAST(max(n_tok) AS BIGINT) AS max_tok FROM r GROUP BY 1) " +
        "SELECT CAST(bin AS BIGINT) AS bin, n_docs, sum_tok, max_tok, " +
        "CAST((max(sum_tok) OVER () - min(sum_tok) OVER ()) * 1000 // max(sum_tok) OVER () AS BIGINT) AS spread_pm " +
        "FROM pb ORDER BY bin"),
  )
}
