package graft

import org.apache.spark.sql.catalyst.expressions.{Divide, Floor}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, LocalTableScanExec, RangeExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import graft.jobs.JobCounts
import graft.operators.{GeoQueries, SimilarityQueries, Tiling}
import graft.sources.Pages
import graft.testutil.SparkTestBase
import graft.tools.Profile.planNodes

/** Physical-plan shape gates: the properties that make these operators
  * survive a 100x scale-up are asserted here, not just benchmarked —
  * a regression that re-introduces a pages-side shuffle or kills
  * whole-stage codegen on a hot path fails CI, not the next bench. */
class PlanShapeSpec extends SparkTestBase {

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Any): Int = JobCounts.during(spark)(f)._2.jobs

  /** Spark jobs a build of each eager query runs at sf0.001 (COVERAGE.md's
    * eager-construction list, measured with its memoized fixture tables
    * already built); every other SparkEntry query builds with 0. */
  private val eager = Map(
    // iterative trainers: k-means (q46/q98), PQ codebooks (q63), the SQ8
    // min/max agg (q93), q97's TF-IDF weight materialize
    "q46_ann_ivf" -> 15, "q63_ann_pq" -> 13, "q93_ann_sq8" -> 3,
    "q97_tfidf_pairs" -> 10, "q98_cosine_ann" -> 15,
    // near-dup pair materialization (q29/q41/q44), composed with it by
    // containment (q116), syndication (q118) and the CC split (q120)
    "q29_lsh_neardup" -> 6, "q41_embedding_neardup" -> 10, "q44_blocked_jaccard" -> 6,
    "q116_containment" -> 6, "q118_syndication" -> 6, "q120_leakage_split" -> 11,
    // connected components and driver-assembled grids
    "q58_neardup_components" -> 11, "q69_dense_clusters" -> 2, "q94_vectorize" -> 2,
    "q104_centroid_pyramid" -> 3, "q135_adaptive_grid" -> 2,
    // the BPE trainer's capped vocabulary collect
    "q113_bpe_merges" -> 2, "q123_bpe_encode" -> 2,
    // the media table is sized by a documents count
    "q74_media_inventory" -> 2, "q81_frame_sample" -> 2, "q82_media_resize" -> 2,
    "q85_media_quarantine" -> 2,
    // q92's bloom-pruning key collect
    "q92_changelog" -> 3)

  test("broadcast PIP join: zero Exchange on the pages side before the join") {
    val plan = GeoQueries.pipJoinOn(spark,
      Pages.synthetic(spark, 10000, 4).select("doc_id", "ts_sec", "ilat", "ilon"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    // the only exchange allowed is the broadcast one
    assert(!plan.contains("ShuffleExchange") || plan.contains("BroadcastExchange"),
      plan.take(1500))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 0, s"pages side shuffled: $plan")
  }

  test("headline join stays inside whole-stage codegen (no CodegenFallback on the big side)") {
    val df = GeoQueries.pipJoinTimelessOn(spark,
      Pages.synthetic(spark, 10000, 4).select("doc_id", "ts_sec", "ilat", "ilon"))
    val plan = executed(df)
    // executed plans render codegen stages as "*(n)" operator prefixes
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan.take(1500))
    // our Morton expressions are CodegenFallback; they must not appear here
    assert(!plan.toLowerCase.contains("cell_id"), "Morton cell_id on the hot path")
    // nor anywhere else: the footprint cover is a driver-built local
    // relation, so the broadcast side runs no JTS explode either
    val nodes = planNodes(df.queryExecution.executedPlan)
    val fallbacks = nodes.flatMap(_.expressions.flatMap(_.collect { case f: CodegenFallback => f }))
    assert(fallbacks.isEmpty, s"CodegenFallback expressions: ${fallbacks.mkString(", ")}")
    val broadcastSides = nodes.collect { case b: BroadcastExchangeExec => b.child }
    assert(broadcastSides.nonEmpty && broadcastSides.forall(_.isInstanceOf[LocalTableScanExec]),
      broadcastSides.mkString("\n"))
  }

  test("headline join: no Filter between the page source and the broadcast join") {
    // an inferred isnotnull(cell / ilat / ilon / ts_sec) filter pushed
    // below the page-side projection makes every page row evaluate the
    // coordinate and cell-key arithmetic twice
    val df = GeoQueries.pipJoinTimelessOn(spark,
      Pages.synthetic(spark, 10000, 4).select("doc_id", "ts_sec", "ilat", "ilon"))
    val joins = planNodes(df.queryExecution.executedPlan).collect { case b: BroadcastHashJoinExec => b }
    assert(joins.size === 1, df.queryExecution.executedPlan.toString.take(2000))
    val j = joins.head
    val pageSide = planNodes(if (j.buildSide == BuildLeft) j.right else j.left)
    assert(pageSide.exists(_.isInstanceOf[RangeExec]), j.toString.take(2000))
    val filters = pageSide.collect { case f: FilterExec => f.condition }
    assert(filters.isEmpty, s"page-side filters: ${filters.mkString(", ")}")
  }

  test("tile rasterization: partial aggregation before the single shuffle") {
    val plan = Tiling.sparseCounts(spark,
      Pages.synthetic(spark, 10000, 4).select("doc_id", "ts_sec", "ilat", "ilon"))
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected exactly one shuffle:\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2, "no map-side partial agg")
  }

  test("tile rasterization: page-side keys use no double Divide or FLOOR") {
    val optimized = Tiling.sparseCounts(spark,
      Pages.synthetic(spark, 10000, 4).select("doc_id", "ts_sec", "ilat", "ilon"))
      .queryExecution.optimizedPlan
    val pageSide = optimized.collectFirst { case a: Aggregate => a.child }
    assert(pageSide.isDefined, optimized.toString.take(1500))
    val doubleMath = pageSide.get.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case e @ (_: Divide | _: Floor) => e })
    assert(doubleMath.isEmpty, s"double division on the page side: ${doubleMath.mkString(", ")}")
  }

  test("parquet scan prunes columns: inventory never reads html/text") {
    val plan = GeoQueries.pipInventory(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan.take(800))
    assert(!plan.contains("html"), "html column read by inventory scan")
    assert(!plan.contains("text,") && !plan.contains(",text"), "text column read by inventory scan")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("lang") === "en").select("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan.take(1200))
  }

  test("ANN LSH join is an equi-join on the bucket key, not a nested loop") {
    val plan = SimilarityQueries.lshTopK(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
  }

  test("banded near-dup: candidate join is an equi-join on (table, key), never all-pairs") {
    val plan = SimilarityQueries.nearDupPairs(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
  }

  test("band-blocked Jaccard: self-join keyed on the band hash, never all-pairs") {
    val plan = graft.operators.TextQueries.blockedJaccard(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
  }

  test("near-dup pairs (q29/q116/q118): one documents scan and one join, the band self-join") {
    // one shingle pass feeds the band self-join; the Jaccard verify, the
    // containment counts and the carried sources ride on the joined rows,
    // so nothing joins back to the shingle sets or to `documents`.
    // Both sides of the self-join read the same cache, so its plan is
    // walked twice: count each node once, by reference.
    def once[A <: AnyRef](xs: Seq[A]): Int =
      xs.foldLeft(List.empty[A])((seen, x) => if (seen.exists(_ eq x)) seen else x :: seen).size
    for (q <- Seq("q29_lsh_neardup", "q116_containment", "q118_syndication")) {
      val nodes = planNodes(SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan)
      graft.util.CacheBag.release()
      val docScans = nodes.collect { case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") => s }
      val joins = nodes.collect { case j: BaseJoinExec => j }
      assert((once(docScans), once(joins)) === ((1, 1)), q)
    }
  }

  /** G1b — pages persisted as a table BUCKETED on the level-6 cell key
    * (hash-bucketed + sorted within buckets): later equi-joins and
    * aggregations on the cell key read pre-shuffled data. Goes through the
    * session catalog (saveAsTable) because file-based parquet carries no
    * bucketing metadata. Returns the rows read back. */
  private def bulkArchiveBucketed(sfDir: String, table: String, buckets: Int = 16): Long = {
    Pages.fromDocuments(spark, sfDir)
      .withColumn("cell", Pages.cellCol(col("ilat"), col("ilon"), 6))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .saveAsTable(table)
    spark.table(table).count()
  }

  test("bucketed archive: cell-key join and aggregation plan ZERO exchanges") {
    val n = bulkArchiveBucketed(sf0001, "pages_b16")
    try {
      assert(n > 0)
      val t = spark.table("pages_b16").select("cell", "doc_id", "lang")
      // self-join on the bucket key: both sides read pre-shuffled buckets
      val joined = t.as("a").join(t.as("b"),
        col("a.cell") === col("b.cell") && col("a.doc_id") < col("b.doc_id"))
      val aggd = t.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      for (df <- Seq(joined, aggd)) {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(shuffles === 0, s"bucketed plan shuffled:\n${plan.take(1500)}")
      }
    } finally spark.sql("DROP TABLE IF EXISTS pages_b16")
  }

  test("suite-wide: no query plans an all-pairs join unless documented") {
    // Queries ALLOWED a nested-loop/cartesian shape, each deliberate:
    //  - q31: the brute-force ANN baseline (the re-rank primitive/oracle)
    //  - q07/q42: kNN query points are a 20-row broadcast literal; the
    //    brute-force fallback is phase B by design
    //  - q46: IVF assignment cross-joins against the BROADCAST centroid
    //    set (sqrt(n) rows — the standard IVF shape)
    //  - q63: the PQ ADC scan cross-joins the corpus codes against the
    //    BROADCAST per-query distance tables (nQueries rows) — the
    //    standard ADC shape; per-row work is 4 array lookups
    //  - q67: same two-phase exact-kNN shape as q42 — the brute branch
    //    only ever receives the guard-unresolved query subset
    //  - q70: nearest-site assignment cross-joins against the BROADCAST
    //    16-row footprint centroid set (the IVF-assignment shape)
    //  - q93: the SQ8 code scan cross-joins the corpus against the
    //    BROADCAST 10-row query-code set (the q31/q63 scan shape); the
    //    point of SQ8 is the per-row payload is 64 bytes, not fewer rows
    //  - q96: cosine brute scan — the q31 shape with the cosine metric
    //  - q98: cosine IVF — the q46 shape (assignment/probes cross-join the
    //    BROADCAST sqrt(n) centroid set) on normalized vectors
    //  - q102: the era split cross-joins the ONE-row broadcast (min, max)
    //    ts bounds — a lazy scalar, not an all-pairs product (the
    //    alternative, a driver-side head(), would break the
    //    lazy-construction contract for no gain)
    //  - q106/q115: the shared link-graph edge generator cross-joins the
    //    ONE-row broadcast node count N (the q102 lazy-scalar shape)
    //  - q111: the kernel scatter cross-joins the 9-row broadcast offset
    //    table against the GRID-sized (≤4^L) count agg — never the corpus
    //  - q117: the deviation step cross-joins the ONE-row broadcast (S,
    //    n_occ) totals and the 4-row rook-offset table against the
    //    grid-sized count agg (the q111 shape)
    val allowed = Set("q31_ann_l2", "q07_knn", "q42_knn_exact", "q46_ann_ivf",
      "q63_ann_pq", "q67_knn_table", "q70_nearest_footprint", "q93_ann_sq8",
      "q96_cosine_topk", "q98_cosine_ann", "q102_semantic_drift",
      "q106_page_rank", "q111_kde_heatmap", "q115_webgraph_audit",
      "q117_moran_components", "q122_lisa_hotspots", // q122 = the q117 shape
      // q121/q124: the q31/q96 brute scan shape (small query set broadcast
      // against the corpus) with a label/lang filter; ranking is the
      // bounded TopKAgg
      "q121_hard_negatives", "q124_bitext_mining",
      // q97: the df-cap stage cross-joins the ONE-row broadcast corpus
      // count (the q102 lazy-scalar shape) against the vocabulary agg
      "q97_tfidf_pairs",
      // q127/q128: probe/assignment cross-join the BROADCAST sqrt(n)
      // stored-centroid artifact against queries/delta rows — the q46/q98
      // coarse-quantizer shape, served from the persisted index
      "q127_served_ann", "q128_index_delta",
      // q129: the q111 kernel shape — 9-row broadcast offset table
      // crossed against the GRID-sized (≤4^L) value agg, never the corpus
      // q130: 16-row broadcast footprint-center table crossed against the
      // grid-sized count agg (distance test, no ring materialization)
      // q132: nLangs+1-row broadcast smoothing-denominator table crossed
      // against the per-doc agg (every doc scores every class)
      // q134: footprint boxes (16 rows, broadcast) × their bounded cell
      // cover — the allocation explode, grid-bounded per box
      "q129_idw_surface", "q130_ring_decay", "q132_nb_confusion",
      "q134_areal_interp",
      // q136: the ONE-row broadcast (mn, mx) ts bounds (q102 lazy-scalar
      // shape) + the 8-row broadcast bucket table against the grid agg
      "q136_emerging_hotspots",
      // q138: the 16-row broadcast footprint-center table crossed against
      // the grid-sized count agg (argmin aggregation — the q130 shape)
      "q138_territory",
      // q140: the 9-row broadcast Sobel kernel crossed against the
      // grid-sized count agg (the q111/q129 scatter shape)
      "q140_density_gradient",
      // q141/q142: ONE-row broadcast corpus totals (q102 lazy-scalar
      // shape) + a ≤6-row k-ladder crossed against the vocab/grid aggs
      "q141_location_quotient", "q142_vocab_coverage",
      // q143: the ONE-row broadcast total against the pair-count agg
      "q143_collocations",
      // q73 (r6): the ONE-row broadcast customer count (q102 lazy-scalar
      // shape) crossed against the distributed-rank frame for the ntile
      // closed form
      "q73_cust_quartiles")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allowed(name)) None
      else {
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty, s"all-pairs joins in: $offenders")
  }

  test("footprint overlap: page-side join is broadcast, pages never shuffle") {
    // tree-walk the PRE-collect physical plan (a textual index comparison
    // over the post-collect AQE string was vacuous — it passed whatever
    // the pages side did): find the broadcast join whose STREAMED subtree
    // scans documents.parquet and assert that subtree has no shuffle
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // sparkPlan (pre-AQE) is a plain walkable tree; the adaptive wrapper
    // hides its subtree behind childless QueryStage nodes
    val plan = GeoQueries.footprintOverlap(spark, sf0001).queryExecution.sparkPlan
    def subtreeScansDocs(p: SparkPlan): Boolean =
      planNodes(p).exists(n => n.getClass.getSimpleName.contains("FileSourceScan") &&
        n.toString.contains("documents.parquet"))
    val pageJoins = planNodes(plan).collect {
      case j: BroadcastHashJoinExec =>
        // streamed side = the child that is NOT the broadcast exchange
        j.children.find(c => !planNodes(c).exists(_.isInstanceOf[BroadcastExchangeLike]))
    }.flatten.filter(subtreeScansDocs)
    assert(pageJoins.nonEmpty, s"no broadcast join streams the pages scan:\n${plan.toString.take(2000)}")
    for (streamed <- pageJoins) {
      val shuffles = planNodes(streamed).filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles.isEmpty,
        s"pages side shuffled before the broadcast join:\n${streamed.toString.take(2000)}")
    }
  }

  test("sessionize: one shuffle serves both windows AND the session aggregate") {
    // pre-execution plan: the AQE executedPlan string repeats the initial
    // plan section and would double-count exchanges
    val plan = graft.operators.RelationalQueries.sessionize(spark, sf0001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    // both windows partition on user_id and hashpartitioning(user_id)
    // satisfies the (user_id, session_idx) aggregate's distribution — a
    // second exchange means the clustering reuse regressed
    assert(shuffles === 1, s"expected 1 shuffle, plan:\n${plan.take(2000)}")
  }

  test("event pivot: conditional aggregation plans ONE exchange with map-side partials") {
    val plan = graft.operators.RelationalQueries.eventPivot(spark, sf0001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected 1 shuffle:\n${plan.take(2000)}")
    assert("HashAggregate".r.findAllIn(plan).length >= 2, "no map-side partial agg")
  }

  test("shard packing: corpus prefix sum is bucket-partitioned, never one partition") {
    val df = graft.operators.CorpusQueries.shardPacking(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-side window must run partitioned by the bucket key; the
    // ONLY single-partition exchange allowed is the metadata-sized
    // bucket-offsets window (n/B rows)
    assert(plan.contains("Exchange hashpartitioning(bucket"), plan.take(2000))
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles <= 1, s"corpus-wide single-partition stage:\n${plan.take(2000)}")
  }

  test("decontamination: benchmark set joins by broadcast, corpus never shuffles for it") {
    val plan = executed(graft.operators.CorpusQueries.decontaminate(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("domain cap: window and aggregate share one source shuffle") {
    val plan = graft.operators.CorpusQueries.domainCap(spark, sf0001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected one shuffle on source:\n${plan.take(2000)}")
  }

  test("repetition signals: pure projection — zero hash exchanges before the sort") {
    val plan = graft.operators.TextQueries.repetitionSignals(spark, sf0001)
      .queryExecution.executedPlan.toString
    // both signals are per-row array lambdas; the only exchange the plan
    // may contain is the final presentation sort's range partitioning
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 0, s"per-doc signals must not shuffle:\n${plan.take(2000)}")
  }

  test("chunk dedup: chunking is map-side; one chunk-key shuffle + one doc agg") {
    val plan = graft.operators.TextQueries.chunkDedup(spark, sf0001)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 2, s"expected chunk-rank + doc-agg shuffles only:\n${plan.take(2000)}")
  }

  test("cosine top-k (q96): bounded partial top-k agg, never a qid window over the corpus") {
    // Verdict r3 #5: row_number() OVER (PARTITION BY qid) pushed corpus x
    // nQueries rows through nQueries partitions — a hotspot at 100x. The
    // rewrite must (a) contain NO Window at all and (b) rank via the
    // TopKAgg ObjectHashAggregate with a map-side partial (two aggregate
    // nodes), so the only qid shuffle carries bounded pre-aggregated rows.
    val df = graft.operators.SimilarityQueries.cosineTopK(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"qid window survived the rewrite:\n${plan.take(2000)}")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"no partial/final TopKAgg pair:\n${plan.take(2000)}")
  }

  test("span dedup (q105): gram duplication via partial agg + semi-join, not a gram window") {
    // verdict r4 #3b: count().over(partitionBy(gram)) ships the full gram
    // stream with no map-side combine and lands hot grams in one
    // partition; the rewrite pre-counts (partial agg) and semi-joins back
    val plan = graft.operators.CurationQueries.spanDedup(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"semi-join back on gram missing:\n${plan.take(2000)}")
    assert(!plan.contains("windowspecdefinition(gram"),
      s"gram-partitioned window survived:\n${plan.take(2000)}")
    graft.util.CacheBag.release()
  }

  test("token rank quality (q108): vocabulary ranks through a range-partitioned 3-stage rank") {
    // verdict r4 #3a: a partition-less row_number over the vocabulary is
    // a single-task sort at 100 TB; the rewrite range-partitions on the
    // rank key and offsets per-partition row_numbers
    val plan = graft.operators.CurationQueries.tokenRankQuality(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning(c"),
      s"range-partitioned rank stage missing:\n${plan.take(2000)}")
    graft.util.CacheBag.release()
  }

  test("TF-IDF pair sim (q97): bounded top-k agg, no qid window (verdict r4 #2)") {
    val df = graft.operators.TextQueries.tfidfPairSim(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"qid window survived the rewrite:\n${plan.take(2000)}")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"no partial/final TopKAgg pair:\n${plan.take(2000)}")
    graft.util.CacheBag.release()
  }

  test("SQ8 ANN (q93): surrogate corpus scan feeds the top-k agg, not a qid window") {
    val df = graft.operators.SimilarityQueries.sq8TopK(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // exactly one Window remains — the exact re-rank over the BOUNDED
    // SqCand*k survivors; the corpus-wide surrogate stage must rank
    // through the partial top-k aggregate
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"no partial/final TopKAgg pair:\n${plan.take(2000)}")
    assert("Window \\[".r.findAllIn(plan).length <= 1, // the one bounded re-rank window
      s"extra windows beyond the bounded re-rank:\n${plan.take(3000)}")
  }

  test("PageRank (q106): top-k is a distributed TakeOrdered, not a corpus window") {
    val plan = graft.operators.CurationQueries.pageRank(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 not a distributed TakeOrdered:\n${plan.take(2000)}")
    graft.util.CacheBag.release()
  }

  test("PageRank (q106): one shuffle per iteration — the r6 exchange budget holds") {
    // r6 shape: contribs cached pre-partitioned on src + alias-preserved
    // rank partitioning make the per-iteration join exchange-free; the
    // dst-keyed partial agg is the only per-iteration exchange. Budget =
    // prologue (edge build + outdeg + contribs repartition + initial r)
    // + 1/iteration + epilogue (top-20 window) with slack; the old
    // re-anchored chain planned 60+.
    val plan = graft.operators.CurationQueries.pageRank(spark, sf0001)
      .queryExecution.executedPlan.toString
    // count shuffles only (CLAUDE.md convention) — BroadcastExchange is
    // AQE's toy-scale join choice for the tiny cached contribs side and
    // not a shuffle; at scale the join is co-partitioned instead. Count
    // DISTINCT plan_ids: the cached contribs subtree (with its two
    // build-time shuffles) is printed once per iteration that references
    // it, but re-prints share the plan_id — the string count quintuples it.
    val exch = "Exchange hashpartitioning[^\n]*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size
    assert(exch <= 6 + graft.operators.CurationQueries.PrIters,
      s"PageRank shuffle budget blown: $exch\n${plan.take(3000)}")
    graft.util.CacheBag.release()
  }

  test("span dedup (q105): dup detection and island merge never hit a single partition") {
    // corpus-wide duplication is a window keyed by the (high-cardinality)
    // gram, island merges key by doc_id — a SinglePartition exchange
    // anywhere before the presentation sort would mean some stage funnels
    // the corpus through one task
    val plan = graft.operators.CurationQueries.spanDedup(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"corpus funneled through one partition:\n${plan.take(2000)}")
  }

  test("phrase search (q110): phrase terms broadcast; postings never nested-loop") {
    val df = graft.operators.CurationQueries.phraseSearch(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"phrase side not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(1500))
  }

  test("q69/q94: one distributed job each — grid clustering is driver-assembled") {
    // Verdict r3 #7: the fixpoint-CC shape planned ~15 AQE stages and blew
    // up 10-20x under host steal. Now the only distributed work is the
    // scan -> per-cell agg (the corpus-proportional part); adjacency +
    // union-find + rollup run on the ≤ side² collected grid rows.
    // the agg under AQE is 2 jobs (map + final); LocalRelation result
    // collects job-free
    assert(Seq(jobsOf(GeoQueries.denseCellClusters(spark, sf0001).collect()),
      jobsOf(GeoQueries.vectorizeRaster(spark, sf0001).collect())) === Seq(2, 2))
  }

  test("exact kNN plan is fully distributed: no collect between scan and result") {
    // the two-phase plan must be a single lazy DataFrame; building it must
    // not run any Spark job (the round-1 version collected per ring pass)
    val (df, construction) =
      JobCounts.during(spark)(GeoQueries.knnJoinExact(spark, sf0001, k = 25, initRings = 1))
    // the round-1 ring loop ran full compute+collect jobs per pass
    assert(construction.jobs === 0, s"plan construction ran ${construction.jobs} jobs")
    assert(df.collect().nonEmpty)
  }

  test("ANN family (q31/q32/q46/q63/q93/q100): every per-query top-k ranks through TopKAgg") {
    // One ranker for the embedding family: a row_number window over the
    // candidate rows holds every candidate of a query in one partition.
    // Each plan must hold the TopKAgg partial/final ObjectHashAggregate
    // pair and no Window, except q46's IVF probe window (nQueries x
    // sqrt(n) centroid rows, never candidates). Persisted results (q46,
    // q63) are walked through their cached plan.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, ScalaAggregator}
    import org.apache.spark.sql.execution.window.WindowExec
    val expectedWindows = Map("q46_ann_ivf" -> 1).withDefaultValue(0)
    for (q <- Seq("q31_ann_l2", "q32_ann_lsh", "q46_ann_ivf", "q63_ann_pq", "q93_ann_sq8",
        "q100_geo_outliers")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      val all = planNodes(plan)
      val topKModes = all.collect { case a: ObjectHashAggregateExec => a.aggregateExpressions }
        .flatten.collect { case e if (e.aggregateFunction match {
          case s: ScalaAggregator[_, _, _] => s.agg.isInstanceOf[SimilarityQueries.TopKAgg]
          case _ => false
        }) => e.mode }
      assert(topKModes.contains(Partial) && topKModes.contains(Final),
        s"$q: no partial/final TopKAgg pair:\n${plan.toString.take(3000)}")
      assert(all.count(_.isInstanceOf[WindowExec]) === expectedWindows(q),
        s"$q: ranking window over candidate rows:\n${plan.toString.take(3000)}")
      graft.util.CacheBag.release()
    }
  }

  test("construction jobs pinned: q41/q46/q63/q97/q98 materialize exactly once") {
    // Building these plans runs Spark jobs by design (COVERAGE.md's
    // eager-construction exceptions): q46/q98 train k-means and q63 its
    // codebooks, and each of the five fills one cache with ONE
    // materialize count (CacheBag.materialize) — the ANN result, q41's
    // near-dup pairs, q97's posting weights. Pinned at the measured
    // totals, so a duplicated or dropped materialize fails here.
    val pinned = eager.filter { case (q, _) => Set("q41_embedding_neardup", "q46_ann_ivf",
      "q63_ann_pq", "q97_tfidf_pairs", "q98_cosine_ann")(q) }
    graft.util.CacheBag.release()
    val got = pinned.keys.toSeq.sorted.map { q =>
      val n = jobsOf(SparkEntry.queries(q)(spark, sf0001))
      graft.util.CacheBag.release()
      q -> n
    }.toMap
    assert(got === pinned)
  }

  test("suite-wide: building a query runs no Spark job outside the pinned eager exceptions") {
    // Each query is built twice and the second build is counted, so
    // memoized fixture tables already exist. Every plan outside `eager`
    // is lazy: its inputs are read under fixed schemas (Inputs, the
    // recorded snapshot DDL), so not even a schema-inference job runs.
    def buildJobs(q: String): Int = {
      val n = jobsOf(SparkEntry.queries(q)(spark, sf0001))
      graft.util.CacheBag.release()
      n
    }
    graft.util.CacheBag.release()
    val got = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      buildJobs(q)
      q -> buildJobs(q)
    }.filter(_._2 > 0).toMap
    assert(got === eager, s"\nmeasured: ${got.toSeq.sorted.mkString(", ")}")
    assert(eager.values.sum <= 136)
  }
}
