package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.CellIndex.{GridH, GridW}
import graft.sources.{Footprints, Pages}

/** Spatial-statistics operators — round-4 geo wave (SURVEY.md §2.R5):
  * kernel-smoothed density surfaces and footprint dissolve (union area).
  *
  * Determinism: the deci-degree integer grid end to end (FIXTURES.md §3);
  * cells are reported in the row-major surrogate (cy·2^L + cx), the same
  * convention the oracles mirror everywhere else.
  *
  * Every per-cell grid comes from [[cellGrid]] (points aggregate to the
  * ≤ 4^L occupied cells BEFORE any neighbourhood step), every
  * neighbourhood sum from [[stencil]] or [[rookTerms]], so all work after
  * the first shuffle is grid-bounded.
  */
object GeoStatsQueries {

  // -------------------------------------------------------------------------
  // the cell-grid core
  // -------------------------------------------------------------------------

  /** `pages` aggregated per level-`level` cell and `keys`:
    * (cy, cx, keys…, aggs…), `aggs` defaulting to `count → c`. */
  private def cellGrid(pages: DataFrame, level: Int, keys: Column*)(aggs: Column*): DataFrame = {
    val a = if (aggs.isEmpty) Seq(count(lit(1)).as("c")) else aggs
    val axes = Seq(("cy", "ilat", GridH), ("cx", "ilon", GridW))
      .map { case (n, c, extent) => Pages.cellAxis(col(c), extent, level).as(n) }
    pages.groupBy(axes ++ keys: _*).agg(a.head, a.tail: _*)
  }

  /** A (cy, cx, c) grid rolled up `k` levels: the grids nest exactly
    * (floor(floor(a/b)/c) = floor(a/(b·c)), operands non-negative), so the
    * parent cell is cy div 2^k and the rollup shuffles grid rows only. */
  private def coarsen(grid: DataFrame, k: Int): DataFrame =
    if (k == 0) grid
    else grid.groupBy(expr(s"cy div ${1L << k}").as("cy"), expr(s"cx div ${1L << k}").as("cx"))
      .agg(sum(col("c")).as("c"))

  /** Kernel taps (dy, dx, w0, w1, …). [[1 2 1] [2 4 2] [1 2 1]]: the
    * binomial (Gaussian) smoothing kernel, w0 = (2 − |dy|)·(2 − |dx|). */
  private val Binomial3x3: Seq[Seq[Long]] =
    for (dy <- -1L to 1L; dx <- -1L to 1L) yield Seq(dy, dx, (2 - dy.abs) * (2 - dx.abs))

  /** The Sobel pair: w0 = [[−1 0 1] [−2 0 2] [−1 0 1]] (x), w1 its transpose (y). */
  private val Sobel3x3: Seq[Seq[Long]] =
    for (dy <- -1L to 1L; dx <- -1L to 1L) yield Seq(dy, dx, dx * (2 - dy.abs), dy * (2 - dx.abs))

  /** The 4 rook (edge-sharing) neighbours, unweighted. */
  private val Rook4: Seq[Seq[Long]] = Seq(Seq(-1L, 0L), Seq(1L, 0L), Seq(0L, -1L), Seq(0L, 1L))

  /** Scatters each (cy, cx, …) grid row along every kernel tap
    * (dy, dx, w0, w1, …) to (cy + dy, cx + dx), clips to the `side × side`
    * grid and sums per target: (ty, tx, sums…, n_contrib), each of `sums`
    * (name → value, which may use the tap's w0, w1, …) summed, n_contrib
    * the taps that landed. The kernel is a literal array exploded in place
    * (`inline`): no offset table, no join. */
  private def stencil(grid: DataFrame, side: Long, kernel: Seq[Seq[Long]],
      sums: (String, Column)*): DataFrame = {
    val taps = array(kernel.map { t =>
      struct(lit(t(0)).as("dy") +: lit(t(1)).as("dx") +:
        t.drop(2).zipWithIndex.map { case (w, i) => lit(w).as(s"w$i") }: _*)
    }: _*)
    val aggs = sums.map { case (n, _) => sum(col(n)).as(n) } :+ count(lit(1)).as("n_contrib")
    grid.select(col("*"), inline(taps))
      .select((col("cy") + col("dy")).as("ty") +: (col("cx") + col("dx")).as("tx") +:
        sums.map { case (n, v) => v.as(n) }: _*)
      .filter(col("ty") >= 0 && col("ty") < side && col("tx") >= 0 && col("tx") < side)
      .groupBy(col("ty"), col("tx")).agg(aggs.head, aggs.tail: _*)
  }

  /** Rook-neighbour deviation terms of a (cy, cx, c) grid on `side × side`
    * cells, per OCCUPIED cell: (cy, cx, c, d, nt, s, nocc, sum_dnbr, no)
    * with d = N·c − S (N = side², S = Σc, nocc occupied cells), nt the
    * border-aware rook-neighbour total, and sum_dnbr/no the d-sum and count
    * of the OCCUPIED rook neighbours — the nt − no empty ones each have
    * d = −S, so callers add them in closed form. Reads the grid three
    * times: callers persist it. */
  private[graft] def rookTerms(grid: DataFrame, side: Long): DataFrame = {
    val tot = grid.groupBy().agg(sum(col("c")).as("s"), count(lit(1)).as("nocc"))
    val o = grid.crossJoin(broadcast(tot))
      .withColumn("d", lit(side * side) * col("c") - col("s"))
      .withColumn("nt",
        lit(4L) - when(col("cy") === 0, 1L).otherwise(0L)
          - when(col("cy") === side - 1, 1L).otherwise(0L)
          - when(col("cx") === 0, 1L).otherwise(0L)
          - when(col("cx") === side - 1, 1L).otherwise(0L))
    val adj = stencil(o, side, Rook4, "sum_dnbr" -> col("d"))
    o.join(adj, col("cy") === col("ty") && col("cx") === col("tx"), "left")
      .select(col("cy"), col("cx"), col("c"), col("d"), col("nt"), col("s"), col("nocc"),
        coalesce(col("sum_dnbr"), lit(0L)).as("sum_dnbr"),
        coalesce(col("n_contrib"), lit(0L)).as("no"))
  }

  /** (ccy, ccx): the footprint center's cell on the `p × p` grid; the
    * +900/+1800 shift comes BEFORE the halving so every div sees
    * non-negative operands (Spark div truncates, DuckDB // floors). */
  private def centerCell(p: Long): Seq[Column] = Seq(
    expr(s"((ilat0 + ilat1 + 1800) div 2) * $p div 1800").as("ccy"),
    expr(s"((ilon0 + ilon1 + 3600) div 2) * $p div 3600").as("ccx"))

  // -------------------------------------------------------------------------
  // q111 — kernel-smoothed density heatmap (KDE on the cell grid)
  // -------------------------------------------------------------------------

  final val KdeLevel = 6 // 64x64 grid

  /** q111 — discrete KDE: per-cell page counts convolved with the 3×3
    * integer kernel [[1 2 1] [2 4 2] [1 2 1]] (the binomial/Gaussian
    * approximation); the report is the top-15 smoothed cells with their
    * raw counts — the crawl-density hotspot surface.
    *
    * Scale shape: ONE partial-agg shuffle builds the per-cell counts
    * (output ≤ 4^L rows by construction); the convolution is the inline
    * 9-tap kernel scattering each occupied cell into its neighbors
    * followed by a second grid-sized agg — never a corpus-sized explode
    * (points aggregate BEFORE the kernel scatter). */
  def kdeHeatmap(spark: SparkSession, sfDir: String, topK: Int = 15): DataFrame = {
    val p = 1L << KdeLevel
    // grid-sized but corpus-scan-derived; feeds the kernel scatter AND the
    // raw-count join back — persist once (released via CacheBag)
    val occ = cellGrid(Pages.fromDocuments(spark, sfDir), KdeLevel)().persist()
    graft.util.CacheBag.register(occ)
    val sm = stencil(occ, p, Binomial3x3, "sm" -> col("w0") * col("c"))
    sm.join(occ, col("ty") === col("cy") && col("tx") === col("cx"), "left")
      .select((col("ty") * p + col("tx")).as("cell6"), col("sm"),
        coalesce(col("c"), lit(0L)).as("n_own"))
      .orderBy(col("sm").desc, col("cell6"))
      .limit(topK)
  }

  // -------------------------------------------------------------------------
  // q112 — footprint dissolve: exact rectangle-union area per layer
  // -------------------------------------------------------------------------

  /** Fixed x-bucket width for the q112 slab×box equi-join (deci-degrees;
    * 3600/100 = 36 buckets across the plane). */
  final val DissolveBucketW = 100

  /** q112 — dissolve (union) area of the footprint boxes grouped into
    * layers (fp_id mod 3), computed EXACTLY by the classic coordinate-
    * compression sweep: the x-edges of a layer's boxes cut the plane into
    * slabs; within a slab the covered y-length is the union of the
    * boxes' y-intervals (island merge); union area = Σ slab_width ×
    * covered_y. Integer deci-degrees end to end — no rasterization, no
    * approximation (a level-L rasterized union would cost 4^L rows and
    * still be approximate at box edges).
    *
    * Scale shape: the slab×box pairing is an equi-join keyed
    * (layer, x-BUCKET) — boxes explode into the fixed-width x-buckets
    * they span (≤ 3600/width per box), each slab joins through the single
    * bucket holding its left edge, so join parallelism grows with the
    * bucket count, never capped at the layer count; the island-merge
    * windows partition on (layer, slab), never globally. The 16-box
    * fixture is tiny, but the PLAN is the scale plan. */
  def dissolveArea(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = Footprints.boxesDf(spark).withColumn("layer", col("fp_id") % 3)
    val edges = fp.select(col("layer"), col("ilon0").as("e"))
      .union(fp.select(col("layer"), (col("ilon1") + 1).as("e")))
      .distinct()
    val slabs = edges
      .withColumn("x1", lead(col("e"), 1).over(Window.partitionBy(col("layer")).orderBy(col("e"))))
      .filter(col("x1").isNotNull)
      .select(col("layer"), col("e").as("x0"), col("x1"))
      // the slab's single bucket (+1800 keeps the div non-negative)
      .withColumn("bkt", expr(s"(x0 + 1800) div $DissolveBucketW"))
    // each box explodes into every x-bucket it spans — a box can only
    // cover a slab whose left edge falls inside the box's x-range
    val fpB = fp.select(col("layer").as("fl"), col("ilon0"), col("ilon1"),
        col("ilat0").as("y0"), (col("ilat1") + 1).as("y1"))
      .withColumn("bkt", explode(expr(
        s"sequence((ilon0 + 1800) div $DissolveBucketW, (ilon1 + 1 + 1800) div $DissolveBucketW)")))
    val cov = slabs.join(fpB,
        col("layer") === col("fl") && slabs("bkt") === fpB("bkt") &&
          col("ilon0") <= col("x0") && (col("ilon1") + 1) >= col("x1"))
      .select(col("layer"), col("x0"), col("x1"), col("y0"), col("y1"))
      .distinct()
    val ord = Window.partitionBy(col("layer"), col("x0")).orderBy(col("y0"), col("y1"))
    val merged = cov
      .withColumn("pmax", max(col("y1")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag", when(col("pmax").isNull || col("y0") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("flag")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("layer"), col("x0"), col("x1"), col("isl"))
      .agg(min(col("y0")).as("a"), max(col("y1")).as("b"))
    val unionArea = merged.groupBy(col("layer"))
      .agg(sum((col("x1") - col("x0")).cast("long") * (col("b") - col("a"))).as("union_area"))
    val boxStats = fp.groupBy(col("layer"))
      .agg(count(lit(1)).as("n_boxes"),
        sum((col("ilon1") - col("ilon0") + 1).cast("long") *
          (col("ilat1") - col("ilat0") + 1)).as("sum_box_area"))
    boxStats.join(unionArea, Seq("layer"))
      .select(col("layer"), col("n_boxes"), col("union_area"), col("sum_box_area"),
        (col("sum_box_area") - col("union_area")).as("overlap_area"))
      .orderBy(col("layer"))
  }

  // -------------------------------------------------------------------------
  // q117 — Moran's I components (spatial autocorrelation of crawl density)
  // -------------------------------------------------------------------------

  final val MoranLevels = Seq(4, 5)

  /** q117 — global Moran's I over the per-cell page counts with rook
    * (4-neighbor) weights, at two grid levels. Division-free by design:
    * Moran's I = (N/W)·(Σ_adj d_i·d_j / Σ d_i²) needs the deviation
    * d_i = x_i − mean; multiplying through by N makes D_i = N·x_i − S
    * (S = Σx) an exact INTEGER, and the report carries the numerator and
    * denominator separately (the numerator can be negative — mixing
    * Spark's truncating `div` with DuckDB's flooring `//` on negatives is
    * the FIXTURES §3 trap, so no engine ever divides).
    *
    * Empty cells (D = −S) enter in closed form: [[rookTerms]] gives each
    * occupied cell's occupied↔empty pair sum, and the remaining rook pairs
    * are empty↔empty with the constant product S², so the work stays ∝
    * OCCUPIED cells (≤ 4^L by construction).
    *
    * Range: the largest term is the one-cell Σd² ≈ (4^L·S)², so every
    * product and sum is exact in BIGINT while 4^L·S < 3.03·10^9 (√2^63):
    * S < 2.95·10^6 pages at level 5 (this query's fine level, and q122's),
    * 1.18·10^7 at level 4. Past it ANSI arithmetic throws
    * ArithmeticException — the query fails, it never wraps (GeoStatsSpec
    * pins both sides). Beyond that scale, pre-scale the per-cell counts
    * (e.g. counts-per-million) before the deviation step — the formula is
    * homogeneous, so the REPORTED ratio num/den is unchanged. */
  def moranComponents(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE corpus scan + grid agg at the FINEST level; coarser levels roll
    // up from it (grid rows only) — the fine grid feeds every level, so
    // persist it once (released via CacheBag)
    val fineL = MoranLevels.max
    val occFine = cellGrid(Pages.fromDocuments(spark, sfDir), fineL)().persist()
    graft.util.CacheBag.register(occFine)
    MoranLevels.map(l => moranLevel(rookTerms(coarsen(occFine, fineL - l), 1L << l), l))
      .reduce(_.unionByName(_)).orderBy(col("level"))
  }

  /** q117's one-row report for level `level` from its [[rookTerms]]: the
    * occupied-cell sums plus the empty-cell terms in closed form. */
  private[graft] def moranLevel(terms: DataFrame, level: Int): DataFrame = {
    val side = 1L << level
    val nc = side * side
    val w = 4 * side * (side - 1)
    terms.groupBy()
      .agg(sum(col("d") * col("sum_dnbr")).as("num_occ"),
        sum(col("d") * (col("nt") - col("no"))).as("d_edge"),
        sum(col("no")).as("docc"), sum(col("nt") - col("no")).as("oe"),
        sum(col("d") * col("d")).as("dd"),
        max(col("s")).as("s"), max(col("nocc")).as("nocc"))
      .select(lit(level).as("level"), lit(nc).as("n_cells"), col("nocc").as("n_occ"),
        lit(w).as("w_pairs"),
        (col("num_occ") - lit(2L) * col("s") * col("d_edge")
          + (lit(w) - col("docc") - lit(2L) * col("oe")) * col("s") * col("s")).as("num"),
        (col("dd") + (lit(nc) - col("nocc")) * col("s") * col("s")).as("den"))
  }

  // -------------------------------------------------------------------------
  // q122 — local spatial hotspots (LISA: local Moran components)
  // -------------------------------------------------------------------------

  final val LisaLevel = 5
  final val LisaTopK = 12

  /** q122 — local indicators of spatial association (Anselin's local
    * Moran), division-free like q117: per occupied cell the local
    * statistic's NUMERATOR is D_i · Σ_{j∈rook(i)} D_j (positive = the
    * cell sits in a cluster of like values — a hotspot when D_i > 0;
    * negative = a spatial outlier); empty rook neighbours enter as
    * D = −S each through [[rookTerms]]. Report: top cells by |local|,
    * with the sign and the hot/outlier class — the per-region drill-down
    * of q117's single global number.
    *
    * Determinism: |local| and the tiebreak are pure integer; no division
    * anywhere (the conventional z-standardization divides by corpus
    * moments — monotone per fixed corpus, so ranking by the raw
    * numerator picks the same cells). Range: q117's bound at the same
    * level. */
  def lisaHotspots(spark: SparkSession, sfDir: String, topK: Int = LisaTopK): DataFrame = {
    val side = 1L << LisaLevel
    // grid-sized but corpus-scan-derived; feeds totals, deviations and the
    // scatter join — persist once (released via CacheBag)
    val occ = cellGrid(Pages.fromDocuments(spark, sfDir), LisaLevel)().persist()
    graft.util.CacheBag.register(occ)
    rookTerms(occ, side)
      .withColumn("nbr_d", col("sum_dnbr") - (col("nt") - col("no")) * col("s"))
      .select((col("cy") * side + col("cx")).as("cell5"), col("c").as("n_pages"),
        (col("d") * col("nbr_d")).as("local"),
        when(col("d") * col("nbr_d") < 0, "outlier")
          .when(col("d") > 0, "hot").otherwise("cold").as("class"))
      .orderBy(abs(col("local")).desc, col("cell5"))
      .limit(topK)
      .select(col("cell5"), col("n_pages"), col("local"), col("class"))
      .orderBy(abs(col("local")).desc, col("cell5"))
  }

  // -------------------------------------------------------------------------
  // q125 — footprint buffer (cell-space halo; the GIS buffer primitive)
  // -------------------------------------------------------------------------

  final val BufferLevel = 6

  /** q125 — buffer each footprint by one cell at level [[BufferLevel]] and
    * report the HALO (buffer minus original cover): how many pages sit
    * just OUTSIDE each footprint — the near-miss audit that decides
    * whether a footprint boundary is drawn too tight. For axis-aligned
    * boxes the one-cell buffer ring is pure integer arithmetic (the
    * expanded cell box minus the inner cell box), clamped at the grid
    * edge.
    *
    * Scale shape: ring generation explodes ≤ 2·(w+h)+4 cells per
    * footprint (boundary-proportional, never area-proportional); the
    * page join is an equi-join on the cell key; one partial agg per
    * footprint. */
  def footprintBuffer(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1L << BufferLevel
    val fp = Footprints.boxesDf(spark)
      .withColumn("cy0", expr(s"(ilat0 + 900) * $p div 1800"))
      .withColumn("cy1", expr(s"(ilat1 + 900) * $p div 1800"))
      .withColumn("cx0", expr(s"(ilon0 + 1800) * $p div 3600"))
      .withColumn("cx1", expr(s"(ilon1 + 1800) * $p div 3600"))
    val halo = fp.select(col("fp_id"), col("cy0"), col("cy1"), col("cx0"), col("cx1"),
        explode(expr(s"sequence(greatest(cy0 - 1, CAST(0 AS BIGINT)), least(cy1 + 1, CAST(${p - 1} AS BIGINT)))")).as("cy"))
      .select(col("fp_id"), col("cy0"), col("cy1"), col("cx0"), col("cx1"), col("cy"),
        explode(expr(s"sequence(greatest(cx0 - 1, CAST(0 AS BIGINT)), least(cx1 + 1, CAST(${p - 1} AS BIGINT)))")).as("cx"))
      .filter(col("cy") < col("cy0") || col("cy") > col("cy1") ||
        col("cx") < col("cx0") || col("cx") > col("cx1"))
      .select(col("fp_id"), (col("cy") * p + col("cx")).as("cell6"))
    val pageCells = Pages.fromDocuments(spark, sfDir).select(
      Pages.cellCol(col("ilat"), col("ilon"), BufferLevel).as("cell6"),
      col("doc_id"), col("lang"))
    halo.join(pageCells, Seq("cell6"), "left")
      .groupBy(col("fp_id"))
      .agg(countDistinct(col("cell6")).as("n_halo_cells"),
        count(col("doc_id")).as("n_halo_pages"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("fp_id"))
  }

  // -------------------------------------------------------------------------
  // q129 — IDW/kernel-weighted VALUE surface (interpolation, not density)
  // -------------------------------------------------------------------------

  /** q129 — kernel-weighted mean surface: per target cell, the weighted
    * integer mean of the per-cell mean page SIZE (n_chars) over the 3×3
    * neighborhood, weights [[1 2 1][2 4 2][1 2 1]] — discrete
    * inverse-distance interpolation of a VALUE field (q111 smooths
    * density; this smooths a measurement, the raster-algebra "focal
    * mean"). est = Σ w·sum_chars div Σ w·n over occupied neighbors —
    * numerator/denominator aggregated separately so the result is the
    * true weighted mean of raw values, not a mean of means.
    *
    * Scale shape: exactly q111's — one partial-agg corpus shuffle to the
    * ≤4^L per-cell (n, sum) frame, the inline 9-tap kernel scatter, one
    * grid-sized agg. */
  def idwSurface(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1L << KdeLevel
    val occ = cellGrid(Pages.fromDocuments(spark, sfDir), KdeLevel)(
      count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    stencil(occ, p, Binomial3x3, "sws" -> col("w0") * col("s"), "swn" -> col("w0") * col("n"))
      .select((col("ty") * p + col("tx")).as("cell6"),
        expr("sws div swn").as("est_chars"), col("n_contrib"))
      .orderBy(col("cell6"))
  }

  // -------------------------------------------------------------------------
  // q130 — ring-decay profile (distance-band analysis per footprint)
  // -------------------------------------------------------------------------

  final val DecayMaxD = 3

  /** q130 — spatial decay profile: page counts per Chebyshev cell-ring
    * distance d = 0..[[DecayMaxD]] from each footprint's CENTER cell —
    * the distance-band statistic behind "how fast does crawl density
    * fall off around a region of interest". Distance is computed
    * directly on the (cy, cx) grid coordinates (greatest of the axis
    * deltas — the k-ring metric), so no ring materialization is needed:
    * ONE broadcast join of the 16-row center table against the per-cell
    * count frame (points aggregate BEFORE the distance test). */
  def ringDecay(spark: SparkSession, sfDir: String, maxD: Int = DecayMaxD): DataFrame = {
    val centers = Footprints.boxesDf(spark).select(col("fp_id") +: centerCell(1L << KdeLevel): _*)
    cellGrid(Pages.fromDocuments(spark, sfDir), KdeLevel)().crossJoin(broadcast(centers))
      .withColumn("d", greatest(abs(col("cy") - col("ccy")), abs(col("cx") - col("ccx"))))
      .filter(col("d") <= maxD)
      .groupBy(col("fp_id"), col("d"))
      .agg(sum(col("c")).as("n_pages"), count(lit(1)).as("n_cells"))
      .orderBy(col("fp_id"), col("d"))
  }

  // -------------------------------------------------------------------------
  // q131 — crawler trajectory statistics (distributed displacement sums)
  // -------------------------------------------------------------------------

  final val TrajBucket = 86400L // one-day hop buckets

  /** q131 — per-source trajectory: order each source's pages by
    * (ts_sec, doc_id) and sum the integer Chebyshev displacement between
    * CONSECUTIVE pages (total path length), the net first→last
    * displacement, and the mobility ratio net·1000 div total — the
    * movement profile that separates a stationary crawler from a
    * sweeping one.
    *
    * Scale shape (the q77 bucket decomposition applied to a SEQUENTIAL
    * statistic): the lag window partitions by (source, day-bucket) — a
    * day of one source's crawl, never the source's full history in one
    * partition; the missing boundary hops (bucket's first page vs the
    * previous bucket's last) are reconstructed from the per-bucket
    * endpoint AGGREGATE (min_by/max_by), whose row count is
    * sources × days — metadata-sized, so ITS lag window is cheap. At
    * 10^12 rows this bounds every window partition by one source-day. */
  def crawlerTrajectory(spark: SparkSession, sfDir: String): DataFrame = {
    val che = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =>
      greatest(abs(a - c), abs(b - d))
    val p0 = Pages.fromDocuments(spark, sfDir)
      .select(col("source"), col("ts_sec"), col("doc_id"), col("ilat"), col("ilon"))
      .withColumn("bkt", expr(s"(ts_sec - ${Pages.Epoch}) div $TrajBucket"))
    val wIn = Window.partitionBy(col("source"), col("bkt")).orderBy(col("ts_sec"), col("doc_id"))
    val within = p0
      .withColumn("plat", lag(col("ilat"), 1).over(wIn))
      .withColumn("plon", lag(col("ilon"), 1).over(wIn))
      .filter(col("plat").isNotNull)
      .groupBy(col("source"))
      .agg(sum(che(col("ilat"), col("ilon"), col("plat"), col("plon"))).as("in_disp"))
    // per-(source, bucket) endpoints: sources × days rows — metadata-sized
    val ends = p0.groupBy(col("source"), col("bkt"))
      .agg(count(lit(1)).as("n"),
        min_by(struct(col("ilat"), col("ilon")), struct(col("ts_sec"), col("doc_id"))).as("first"),
        max_by(struct(col("ilat"), col("ilon")), struct(col("ts_sec"), col("doc_id"))).as("last"))
    val wB = Window.partitionBy(col("source")).orderBy(col("bkt"))
    val bridge = ends
      .withColumn("pl", lag(col("last"), 1).over(wB))
      .filter(col("pl").isNotNull)
      .groupBy(col("source"))
      .agg(sum(che(col("first.ilat"), col("first.ilon"),
        col("pl.ilat"), col("pl.ilon"))).as("bridge_disp"))
    val net = ends
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_pages"),
        min_by(col("first"), col("bkt")).as("f0"),
        max_by(col("last"), col("bkt")).as("l1"))
      .select(col("source"), col("n_pages"),
        che(col("f0.ilat"), col("f0.ilon"), col("l1.ilat"), col("l1.ilon"))
          .cast("long").as("net_disp"))
    net.join(within, Seq("source"), "left").join(bridge, Seq("source"), "left")
      .select(col("source"), col("n_pages"),
        (coalesce(col("in_disp"), lit(0L)) + coalesce(col("bridge_disp"), lit(0L))).as("total_disp"),
        col("net_disp"))
      .withColumn("mobility_pm",
        when(col("total_disp") > 0, expr("net_disp * 1000 div total_disp")).otherwise(lit(1000L)))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------------
  // q134 — areal interpolation (area-weighted footprint→cell transfer)
  // -------------------------------------------------------------------------

  final val ArealLevel = 4

  /** q134 — areal interpolation (dasymetric transfer): each footprint's
    * page count is redistributed to the level-[[ArealLevel]] cells it
    * overlaps, ∝ the EXACT integer intersection area — the operator that
    * moves statistics between incompatible zone systems (census→grid).
    * Areas are computed in the p-scaled integer space (deci-degrees × p),
    * where both box edges (x·p) and cell edges (k·1800) are integers, so
    * the overlap arithmetic is exact in both engines. alloc_pm = the
    * floor permille share; the per-cell report sums shares across
    * footprints. Conservation (Σ shares ∈ [1000 − nCells, 1000] per
    * footprint, floor loss only) is ST-gated.
    *
    * Scale shape: the per-footprint page counts are the q01 broadcast PIP
    * aggregate; the cell explode is bounded by the grid (≤ 4^L rows per
    * footprint); one final grid-sized agg. */
  def arealInterpolation(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1L << ArealLevel
    val fp = Footprints.boxesDf(spark)
    val pg = Pages.fromDocuments(spark, sfDir)
    val counts = pg.join(broadcast(fp), Footprints.contains)
      .groupBy(col("fp_id")).agg(count(lit(1)).as("n_pages"))
    // scaled space: box spans [a·p, (a1+1)·p), cell k spans
    // [k·1800 − 900p, (k+1)·1800 − 900p) on lat (lon analogous with 3600)
    val alloc = fp.join(counts, Seq("fp_id"))
      .withColumn("cy", explode(expr(
        s"sequence((ilat0 + 900) * $p div 1800, (ilat1 + 900) * $p div 1800)")))
      .withColumn("cx", explode(expr(
        s"sequence((ilon0 + 1800) * $p div 3600, (ilon1 + 1800) * $p div 3600)")))
      .withColumn("ovy", expr(
        s"least((ilat1 + 1 + 900) * $p, (cy + 1) * 1800) - greatest((ilat0 + 900) * $p, cy * 1800)"))
      .withColumn("ovx", expr(
        s"least((ilon1 + 1 + 1800) * $p, (cx + 1) * 3600) - greatest((ilon0 + 1800) * $p, cx * 3600)"))
      .withColumn("box_area", // BIGINT before the product: 28800·57600 rides the int edge
        expr(s"CAST((ilat1 - ilat0 + 1) * $p AS BIGINT) * ((ilon1 - ilon0 + 1) * $p)"))
      .withColumn("alloc_pm", expr("n_pages * 1000 * (ovy * ovx) div box_area"))
    alloc.groupBy((col("cy") * p + col("cx")).as("cell4"))
      .agg(sum(col("alloc_pm")).as("alloc_pm"), count(lit(1)).as("n_fps"))
      .orderBy(col("cell4"))
  }

  // -------------------------------------------------------------------------
  // q135 — adaptive quadtree grid (density-driven multi-resolution tiling)
  // -------------------------------------------------------------------------

  final val AdaptLevel = 5 // finest refinement level (32×32)
  final val AdaptSplit = 40L // refine a cell while it holds more pages

  /** q135 — adaptive tiling: starting from the level-0 world cell, any
    * cell holding more than [[AdaptSplit]] pages refines into its four
    * children, down to [[AdaptLevel]]; the report is the OCCUPIED leaf
    * set (level, cell, n_pages) — dense regions get fine tiles, sparse
    * regions stay coarse. The LOD structure every tile server derives
    * before rendering a heat layer.
    *
    * Scale shape: ONE corpus shuffle builds the finest-level counts;
    * every coarser level is a parent-arithmetic rollup of the ≤ 4^l
    * grid frame (the q104 one-pass pyramid, kept fully DISTRIBUTED —
    * no driver assembly); the refinement classification is a chain of
    * [[AdaptLevel]] semi-joins between grid-sized frames. Everything
    * after the first shuffle is grid-bounded. */
  def adaptiveGrid(spark: SparkSession, sfDir: String, maxLevel: Int = AdaptLevel,
      split: Long = AdaptSplit): DataFrame = {
    import spark.implicits._
    // auto-dispatch (verdict r5 #3): beyond level 6 the 4^maxLevel grid
    // collect is no longer driver-bounded — take the row-identical
    // distributed twin instead of silently collecting it.
    if (maxLevel > 6) return adaptiveGridDistributed(spark, sfDir, maxLevel, split)
    // ONE corpus shuffle to the ≤ 4^maxLevel occupied-cell frame; the
    // pyramid + refinement then run driver-side on the grid rows (the
    // documented q69/q94/q104 convention: grid-sized BY CONSTRUCTION —
    // ≤ 1365 cells at level 5 — and the lazy multi-branch plan re-derived
    // the corpus agg per level while AQE stage latency dominated; at
    // maxLevel ≥ 8 use [[adaptiveGridDistributed]], the identical-output
    // scale path below, gated equal by GeoStatsSpec).
    val fine = cellGrid(Pages.fromDocuments(spark, sfDir), maxLevel)()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val counts = new Array[Map[(Long, Long), Long]](maxLevel + 1)
    counts(maxLevel) = fine
    for (l <- maxLevel - 1 to 0 by -1)
      counts(l) = counts(l + 1).groupBy { case ((cy, cx), _) => (cy / 2, cx / 2) }
        .map { case (k, xs) => k -> xs.values.sum }
    val leaves = Seq.newBuilder[(Int, Long, Long)]
    var refined: Set[(Long, Long)] = Set.empty
    for (l <- 0 to maxLevel) {
      val side = 1L << l
      val open = counts(l).filter { case ((cy, cx), _) =>
        l == 0 || refined.contains((cy / 2, cx / 2))
      }
      open.foreach { case ((cy, cx), n) =>
        if (n <= split || l == maxLevel) leaves += ((l, cy * side + cx, n))
      }
      refined = if (l == maxLevel) Set.empty
        else open.filter(_._2 > split).keySet
    }
    leaves.result().toDF("level", "cell", "n_pages")
      .orderBy(col("level"), col("cell"))
  }

  /** q135's SCALE path: the identical adaptive tiling with every rollup
    * and refinement join DISTRIBUTED — for maxLevel ≥ 8 where 4^L
    * outgrows the driver (the q104-pair convention; GeoStatsSpec gates
    * row-identity with the driver-assembled default). */
  def adaptiveGridDistributed(spark: SparkSession, sfDir: String,
      maxLevel: Int = AdaptLevel, split: Long = AdaptSplit): DataFrame = {
    val counts = new Array[DataFrame](maxLevel + 1)
    counts(maxLevel) = cellGrid(Pages.fromDocuments(spark, sfDir), maxLevel)()
    for (l <- maxLevel - 1 to 0 by -1) counts(l) = coarsen(counts(l + 1), 1)
    var refined = counts(0).filter(col("c") > split)
    var leaves = counts(0).filter(col("c") <= split)
      .select(lit(0).as("level"), (col("cy") * 1 + col("cx")).as("cell"), col("c"))
    for (l <- 1 to maxLevel) {
      val side = 1L << l
      val open = counts(l).join(
        refined.select(col("cy").as("py"), col("cx").as("px")),
        expr("cy div 2") === col("py") && expr("cx div 2") === col("px"), "left_semi")
      val emit = if (l == maxLevel) open else open.filter(col("c") <= split)
      leaves = leaves.unionByName(
        emit.select(lit(l).as("level"), (col("cy") * side + col("cx")).as("cell"), col("c")))
      refined = if (l == maxLevel) refined else open.filter(col("c") > split)
    }
    leaves.withColumnRenamed("c", "n_pages").orderBy(col("level"), col("cell"))
  }

  // -------------------------------------------------------------------------
  // q136 — emerging-hotspot classification (Mann-Kendall over the space-time cube)
  // -------------------------------------------------------------------------

  final val MkLevel = 3 // 8×8 cells
  final val MkBuckets = 8
  final val MkTau = 8L // |S| ≥ τ → trend (28 pairs max)

  /** q136 — the space-time-cube "emerging hotspot" operator: per cell,
    * the crawl-count time series over [[MkBuckets]] equal time buckets
    * (zero-filled — absence is signal) scores the Mann-Kendall S
    * statistic S = Σ_{i<j} sign(c_j − c_i), a PURE-INTEGER monotone-trend
    * test (no distribution math), and classifies emerging (S ≥ τ),
    * fading (S ≤ −τ) or stable. The density-DIRECTION audit q111/q122
    * can't answer: not "where is it hot" but "where is it heating".
    *
    * Scale shape: one corpus shuffle to the (cell, bucket) counts; the
    * zero-fill explodes each occupied cell into its [[MkBuckets]]
    * buckets; the pair scoring is a (cell)-keyed self-join over
    * ≤ MkBuckets rows per cell — grid-bounded everywhere after the first
    * agg. Time bounds ride the lazy one-row broadcast (the q102 scalar
    * shape). */
  def emergingHotspots(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1L << MkLevel
    val pg = Pages.fromDocuments(spark, sfDir)
    val bounds = pg.agg(min(col("ts_sec")).as("mn"), max(col("ts_sec")).as("mx"))
    val counts = cellGrid(pg.crossJoin(broadcast(bounds)), MkLevel,
      expr(s"(ts_sec - mn) * $MkBuckets div (mx - mn + 1)").as("b"))()
    val zfill = counts.select(col("cy"), col("cx")).distinct()
      .withColumn("b", explode(lit((0L until MkBuckets.toLong).toArray)))
      .join(counts, Seq("cy", "cx", "b"), "left")
      .select(col("cy"), col("cx"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val s = zfill.as("x").join(zfill.as("y"),
        col("x.cy") === col("y.cy") && col("x.cx") === col("y.cx") &&
          col("x.b") < col("y.b"))
      .select(col("x.cy").as("cy"), col("x.cx").as("cx"),
        signum(col("y.c") - col("x.c")).cast("long").as("sg"))
      .groupBy(col("cy"), col("cx")).agg(sum(col("sg")).as("s_stat"))
    s.select((col("cy") * p + col("cx")).as("cell3"), col("s_stat"),
        when(col("s_stat") >= MkTau, lit("emerging"))
          .when(col("s_stat") <= -MkTau, lit("fading"))
          .otherwise(lit("stable")).as("trend"))
      .orderBy(col("cell3"))
  }

  // -------------------------------------------------------------------------
  // q138 — territory assignment (discrete Voronoi / nearest-facility allocation)
  // -------------------------------------------------------------------------

  final val TerrLevel = 6

  /** q138 — discrete Voronoi partition of the occupied grid: every
    * occupied level-[[TerrLevel]] cell is assigned to its nearest
    * footprint CENTER by squared integer grid distance (ties → lower
    * fp_id); the report is per-territory cell and page counts — the
    * nearest-facility allocation that answers "which region of interest
    * does each crawled area belong to".
    *
    * Scale shape: one corpus partial-agg shuffle to the occupied-cell
    * counts, a 16-row broadcast center table, an argmin AGGREGATION per
    * cell (map-side combinable — never a per-cell window over the
    * corpus), one territory-sized agg. */
  def territoryAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val centers = Footprints.boxesDf(spark).select(col("fp_id") +: centerCell(1L << TerrLevel): _*)
    cellGrid(Pages.fromDocuments(spark, sfDir), TerrLevel)().crossJoin(broadcast(centers))
      .withColumn("d2",
        (col("cy") - col("ccy")) * (col("cy") - col("ccy")) +
          (col("cx") - col("ccx")) * (col("cx") - col("ccx")))
      .groupBy(col("cy"), col("cx"), col("c"))
      .agg(min_by(col("fp_id"), struct(col("d2"), col("fp_id"))).as("fp_id"))
      .groupBy(col("fp_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_pages"))
      .orderBy(col("fp_id"))
  }

  // -------------------------------------------------------------------------
  // q140 — density gradient field (integer Sobel on the cell grid)
  // -------------------------------------------------------------------------

  final val GradTopK = 20

  /** q140 — crawl-density GRADIENT field: the 3×3 integer Sobel operator
    * ([[−1 0 1][−2 0 2][−1 0 1]] and its transpose) over the per-cell
    * counts gives (gx, gy) per cell; magnitude is the L1 |gx| + |gy|
    * (sqrt-free) and direction classifies 8-way by pure sign/ratio
    * comparisons (|gx| > 2|gy| → E/W, |gy| > 2|gx| → N/S, else the
    * diagonal) — the raster-algebra slope/aspect analog telling a crawl
    * planner WHERE density falls off fastest and in which direction.
    * Top-[[GradTopK]] cells by (magnitude desc, cell).
    *
    * Scale shape: q111's — one corpus partial-agg shuffle to the grid,
    * the inline 9-tap kernel scatter carrying BOTH kernels per tap, one
    * grid-sized agg. */
  def densityGradient(spark: SparkSession, sfDir: String, topK: Int = GradTopK): DataFrame = {
    val p = 1L << KdeLevel
    val occ = cellGrid(Pages.fromDocuments(spark, sfDir), KdeLevel)()
    stencil(occ, p, Sobel3x3, "gx" -> col("w0") * col("c"), "gy" -> col("w1") * col("c"))
      .select((col("ty") * p + col("tx")).as("cell6"), col("gx"), col("gy"),
        (abs(col("gx")) + abs(col("gy"))).as("mag"),
        when(abs(col("gx")) > abs(col("gy")) * 2,
            when(col("gx") > 0, "E").otherwise("W"))
          .when(abs(col("gy")) > abs(col("gx")) * 2,
            when(col("gy") > 0, "S").otherwise("N"))
          .when(col("gx") >= 0 && col("gy") >= 0, "SE")
          .when(col("gx") >= 0 && col("gy") < 0, "NE")
          .when(col("gx") < 0 && col("gy") >= 0, "SW")
          .otherwise("NW").as("dir"))
      .filter(col("mag") > 0)
      .orderBy(col("mag").desc, col("cell6"))
      .limit(topK)
  }

  // -------------------------------------------------------------------------
  // q141 — location quotient (regional specialization)
  // -------------------------------------------------------------------------

  final val LqLevel = 3
  final val LqMinPages = 5L

  /** q141 — location quotient per (cell, lang): the cell's language share
    * relative to the corpus-wide share, in permille —
    * LQ = (n_cell_lang · total) · 1000 div (n_cell · total_lang) — the
    * regional-specialization statistic (LQ ≫ 1000 = this language
    * concentrates here). Cells with fewer than [[LqMinPages]] pages of
    * the language are suppressed (small-sample LQ is noise). All
    * integer, exact at any corpus size ([[lqPermille]]).
    *
    * Scale shape: one corpus partial-agg shuffle to the (cell, lang)
    * counts; cell totals and language totals are grid- and
    * nLangs-sized rollups of it; totals broadcast back (the q109
    * factor-join shape). */
  def locationQuotient(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1L << LqLevel
    val cl = cellGrid(Pages.fromDocuments(spark, sfDir), LqLevel, col("lang"))().persist()
    graft.util.CacheBag.register(cl)
    val cellTot = cl.groupBy(col("cy"), col("cx")).agg(sum(col("c")).as("n_cell"))
    val langTot = cl.groupBy(col("lang")).agg(sum(col("c")).as("n_lang"))
    val total = cl.agg(sum(col("c")).as("total"))
    cl.filter(col("c") >= LqMinPages)
      .join(cellTot, Seq("cy", "cx"))
      .join(broadcast(langTot), Seq("lang"))
      .crossJoin(broadcast(total))
      .select((col("cy") * p + col("cx")).as("cell3"), col("lang"),
        col("c").as("n_pages"),
        lqPermille(col("c"), col("n_cell"), col("n_lang"), col("total")).as("lq_pm"))
      .orderBy(col("cell3"), col("lang"))
  }

  /** q141's LQ in permille, (n · total · 1000) div (nCell · nLang), in
    * DECIMAL(38,0): in BIGINT the numerator passes 2^63 near 3·10^7
    * pages, in DECIMAL(38,0) only near 3·10^17. `div` returns BIGINT;
    * the quotient is ≤ 1000 · total. */
  private[graft] def lqPermille(n: Column, nCell: Column, nLang: Column, total: Column): Column = {
    def wide(c: Column) = c.cast("decimal(38,0)")
    call_function("div", wide(n) * wide(total) * 1000, wide(nCell) * wide(nLang))
  }

  // ---- oracle twins -------------------------------------------------------

  val oracle: Map[String, String] = Map(
    "q141_location_quotient" -> {
      val p = 1L << LqLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"cl AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, lang, count(*) AS n " +
        "FROM pages GROUP BY 1, 2, 3), " +
        "ct AS (SELECT cy, cx, CAST(sum(n) AS BIGINT) AS n_cell FROM cl GROUP BY 1, 2), " +
        "lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cl GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cl) " +
        s"SELECT cl.cy * $p + cl.cx AS cell3, cl.lang, cl.n AS n_pages, " +
        "CAST((cl.n * tt.total * 1000) // (ct.n_cell * lt.n_lang) AS BIGINT) AS lq_pm " +
        "FROM cl JOIN ct ON cl.cy = ct.cy AND cl.cx = ct.cx " +
        "JOIN lt ON cl.lang = lt.lang CROSS JOIN tt " +
        s"WHERE cl.n >= $LqMinPages ORDER BY cell3, cl.lang"
    },
    "q140_density_gradient" -> {
      val p = 1L << KdeLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, count(*) AS c FROM pages GROUP BY 1, 2), " +
        "off AS (SELECT * FROM (VALUES (-1, -1, -1, -1), (-1, 0, 0, -2), (-1, 1, 1, -1), " +
        "(0, -1, -2, 0), (0, 0, 0, 0), (0, 1, 2, 0), (1, -1, -1, 1), (1, 0, 0, 2), (1, 1, 1, 1)) AS o(dy, dx, wx, wy)), " +
        "g AS (SELECT occ.cy + off.dy AS ty, occ.cx + off.dx AS tx, " +
        "CAST(sum(off.wx * occ.c) AS BIGINT) AS gx, CAST(sum(off.wy * occ.c) AS BIGINT) AS gy " +
        s"FROM occ CROSS JOIN off WHERE occ.cy + off.dy >= 0 AND occ.cy + off.dy < $p " +
        s"AND occ.cx + off.dx >= 0 AND occ.cx + off.dx < $p GROUP BY 1, 2), " +
        "m AS (SELECT ty * " + p + " + tx AS cell6, gx, gy, abs(gx) + abs(gy) AS mag, " +
        "CASE WHEN abs(gx) > abs(gy) * 2 THEN (CASE WHEN gx > 0 THEN 'E' ELSE 'W' END) " +
        "WHEN abs(gy) > abs(gx) * 2 THEN (CASE WHEN gy > 0 THEN 'S' ELSE 'N' END) " +
        "WHEN gx >= 0 AND gy >= 0 THEN 'SE' WHEN gx >= 0 AND gy < 0 THEN 'NE' " +
        "WHEN gx < 0 AND gy >= 0 THEN 'SW' ELSE 'NW' END AS dir FROM g) " +
        s"SELECT cell6, gx, gy, mag, dir FROM m WHERE mag > 0 ORDER BY mag DESC, cell6 LIMIT $GradTopK"
    },
    "q138_territory" -> {
      val p = 1L << TerrLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"ctr AS (SELECT fp_id, ((ilat0 + ilat1 + 1800) // 2) * $p // 1800 AS ccy, " +
        s"((ilon0 + ilon1 + 3600) // 2) * $p // 3600 AS ccx FROM ${Footprints.sqlValues}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, count(*) AS c FROM pages GROUP BY 1, 2), " +
        "a AS (SELECT cy, cx, c, fp_id, row_number() OVER (PARTITION BY cy, cx ORDER BY " +
        "(cy - ccy) * (cy - ccy) + (cx - ccx) * (cx - ccx), fp_id) AS rn FROM occ CROSS JOIN ctr) " +
        "SELECT fp_id, count(*) AS n_cells, CAST(sum(c) AS BIGINT) AS n_pages " +
        "FROM a WHERE rn = 1 GROUP BY fp_id ORDER BY fp_id"
    },
    "q136_emerging_hotspots" -> {
      val p = 1L << MkLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        "bd AS (SELECT min(ts_sec) AS mn, max(ts_sec) AS mx FROM pages), " +
        s"cnt AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, " +
        s"(ts_sec - bd.mn) * $MkBuckets // (bd.mx - bd.mn + 1) AS b, count(*) AS c " +
        "FROM pages CROSS JOIN bd GROUP BY 1, 2, 3), " +
        "cells AS (SELECT DISTINCT cy, cx FROM cnt), " +
        s"zf AS (SELECT cells.cy, cells.cx, t.b, coalesce(cnt.c, 0) AS c " +
        s"FROM cells CROSS JOIN (SELECT unnest(range(0, $MkBuckets)) AS b) t " +
        "LEFT JOIN cnt ON cnt.cy = cells.cy AND cnt.cx = cells.cx AND cnt.b = t.b), " +
        "s AS (SELECT x.cy, x.cx, CAST(sum(sign(y.c - x.c)) AS BIGINT) AS s_stat " +
        "FROM zf x JOIN zf y ON x.cy = y.cy AND x.cx = y.cx AND x.b < y.b GROUP BY 1, 2) " +
        s"SELECT cy * $p + cx AS cell3, s_stat, " +
        s"CASE WHEN s_stat >= $MkTau THEN 'emerging' WHEN s_stat <= -$MkTau THEN 'fading' " +
        "ELSE 'stable' END AS trend FROM s ORDER BY cell3"
    },
    "q135_adaptive_grid" -> {
      val L = AdaptLevel
      val p = 1L << L
      val lvl = (0 to L).map { l =>
        if (l == L)
          s"c$L AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
            s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, count(*) AS n " +
            "FROM pages GROUP BY 1, 2)"
        else
          s"c$l AS (SELECT cy // 2 AS cy, cx // 2 AS cx, CAST(sum(n) AS BIGINT) AS n " +
            s"FROM c${l + 1} GROUP BY 1, 2)"
      }.reverse.mkString(", ") // c5 first (the others reference forward)
      val refs = (0 to L).map { l =>
        if (l == 0) s"r0 AS (SELECT * FROM c0 WHERE n > $AdaptSplit)"
        else s"r$l AS (SELECT c.* FROM c$l c JOIN r${l - 1} r ON c.cy // 2 = r.cy AND c.cx // 2 = r.cx WHERE c.n > $AdaptSplit)"
      }.mkString(", ")
      val emits = (0 to L).map { l =>
        val side = 1L << l
        val cond = if (l == L) "TRUE" else s"c.n <= $AdaptSplit"
        if (l == 0)
          s"SELECT 0 AS level, c.cy * 1 + c.cx AS cell, c.n AS n_pages FROM c0 c WHERE c.n <= $AdaptSplit"
        else
          s"SELECT $l AS level, c.cy * $side + c.cx AS cell, c.n AS n_pages FROM c$l c " +
            s"JOIN r${l - 1} r ON c.cy // 2 = r.cy AND c.cx // 2 = r.cx WHERE $cond"
      }.mkString(" UNION ALL ")
      s"WITH pages AS (${Pages.oracleCte}), $lvl, $refs " +
        s"SELECT CAST(level AS INT) AS level, cell, n_pages FROM ($emits) ORDER BY level, cell"
    },
    "q129_idw_surface" -> {
      val p = 1L << KdeLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, " +
        "count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS s FROM pages GROUP BY 1, 2), " +
        "off AS (SELECT * FROM (VALUES (-1, -1, 1), (-1, 0, 2), (-1, 1, 1), (0, -1, 2), (0, 0, 4), (0, 1, 2), (1, -1, 1), (1, 0, 2), (1, 1, 1)) AS o(dy, dx, w)), " +
        "sm AS (SELECT occ.cy + off.dy AS ty, occ.cx + off.dx AS tx, " +
        "CAST(sum(off.w * occ.s) AS BIGINT) AS sws, CAST(sum(off.w * occ.n) AS BIGINT) AS swn, count(*) AS n_contrib " +
        s"FROM occ CROSS JOIN off WHERE occ.cy + off.dy >= 0 AND occ.cy + off.dy < $p " +
        s"AND occ.cx + off.dx >= 0 AND occ.cx + off.dx < $p GROUP BY 1, 2) " +
        s"SELECT ty * $p + tx AS cell6, CAST(sws // swn AS BIGINT) AS est_chars, n_contrib " +
        "FROM sm ORDER BY cell6"
    },
    "q130_ring_decay" -> {
      val p = 1L << KdeLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"c AS (SELECT fp_id, ((ilat0 + ilat1 + 1800) // 2) * $p // 1800 AS ccy, " +
        s"((ilon0 + ilon1 + 3600) // 2) * $p // 3600 AS ccx FROM ${Footprints.sqlValues}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, count(*) AS cnt FROM pages GROUP BY 1, 2), " +
        "d AS (SELECT c.fp_id, greatest(abs(occ.cy - c.ccy), abs(occ.cx - c.ccx)) AS d, occ.cnt " +
        s"FROM occ CROSS JOIN c) " +
        s"SELECT fp_id, d, CAST(sum(cnt) AS BIGINT) AS n_pages, count(*) AS n_cells " +
        s"FROM d WHERE d <= $DecayMaxD GROUP BY fp_id, d ORDER BY fp_id, d"
    },
    "q131_trajectory" ->
      (s"WITH pages AS (${Pages.oracleCte}), " +
        "o AS (SELECT source, ts_sec, doc_id, ilat, ilon, " +
        "lag(ilat) OVER w AS plat, lag(ilon) OVER w AS plon, " +
        "row_number() OVER w AS rn, count(*) OVER (PARTITION BY source) AS np, " +
        "first_value(ilat) OVER w AS flat, first_value(ilon) OVER w AS flon, " +
        "last_value(ilat) OVER (PARTITION BY source ORDER BY ts_sec, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS llat, " +
        "last_value(ilon) OVER (PARTITION BY source ORDER BY ts_sec, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS llon " +
        "FROM pages WINDOW w AS (PARTITION BY source ORDER BY ts_sec, doc_id)), " +
        "agg AS (SELECT source, CAST(max(np) AS BIGINT) AS n_pages, " +
        "CAST(coalesce(sum(CASE WHEN plat IS NULL THEN 0 ELSE greatest(abs(ilat - plat), abs(ilon - plon)) END), 0) AS BIGINT) AS total_disp, " +
        "CAST(max(greatest(abs(llat - flat), abs(llon - flon))) AS BIGINT) AS net_disp " +
        "FROM o GROUP BY source) " +
        "SELECT source, n_pages, total_disp, net_disp, " +
        "CAST(CASE WHEN total_disp > 0 THEN net_disp * 1000 // total_disp ELSE 1000 END AS BIGINT) AS mobility_pm " +
        "FROM agg ORDER BY source"),
    "q134_areal_interp" -> {
      val p = 1L << ArealLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"cnt AS (SELECT fp.fp_id, count(*) AS n_pages FROM pages p JOIN ${Footprints.sqlValues} " +
        "ON p.ilat BETWEEN fp.ilat0 AND fp.ilat1 AND p.ilon BETWEEN fp.ilon0 AND fp.ilon1 " +
        "AND p.ts_sec BETWEEN fp.tfrom AND fp.tto GROUP BY fp.fp_id), " +
        s"a AS (SELECT f.fp_id, cnt.n_pages, f.ilat0, f.ilat1, f.ilon0, f.ilon1, cy.cy, cx.cx " +
        s"FROM ${Footprints.sqlValuesAs("f")} JOIN cnt ON f.fp_id = cnt.fp_id " +
        s"CROSS JOIN LATERAL unnest(range((f.ilat0 + 900) * $p // 1800, (f.ilat1 + 900) * $p // 1800 + 1)) AS cy(cy) " +
        s"CROSS JOIN LATERAL unnest(range((f.ilon0 + 1800) * $p // 3600, (f.ilon1 + 1800) * $p // 3600 + 1)) AS cx(cx)), " +
        "al AS (SELECT fp_id, cy, cx, n_pages * 1000 * " +
        s"((least((ilat1 + 1 + 900) * $p, (cy + 1) * 1800) - greatest((ilat0 + 900) * $p, cy * 1800)) * " +
        s"(least((ilon1 + 1 + 1800) * $p, (cx + 1) * 3600) - greatest((ilon0 + 1800) * $p, cx * 3600))) " +
        s"// (CAST((ilat1 - ilat0 + 1) * $p AS BIGINT) * ((ilon1 - ilon0 + 1) * $p)) AS alloc_pm FROM a) " +
        s"SELECT CAST(cy * $p + cx AS BIGINT) AS cell4, CAST(sum(alloc_pm) AS BIGINT) AS alloc_pm, " +
        "count(*) AS n_fps FROM al GROUP BY 1 ORDER BY cell4"
    },
    "q111_kde_heatmap" -> {
      val p = 1L << KdeLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cx, count(*) AS c FROM pages GROUP BY 1, 2), " +
        "off AS (SELECT * FROM (VALUES (-1, -1, 1), (-1, 0, 2), (-1, 1, 1), (0, -1, 2), (0, 0, 4), (0, 1, 2), (1, -1, 1), (1, 0, 2), (1, 1, 1)) AS o(dy, dx, w)), " +
        "sm AS (SELECT occ.cy + off.dy AS ty, occ.cx + off.dx AS tx, CAST(sum(off.w * occ.c) AS BIGINT) AS sm " +
        s"FROM occ CROSS JOIN off WHERE occ.cy + off.dy >= 0 AND occ.cy + off.dy < $p " +
        s"AND occ.cx + off.dx >= 0 AND occ.cx + off.dx < $p GROUP BY 1, 2) " +
        s"SELECT sm.ty * $p + sm.tx AS cell6, sm.sm AS sm, coalesce(o2.c, 0) AS n_own " +
        "FROM sm LEFT JOIN occ o2 ON o2.cy = sm.ty AND o2.cx = sm.tx " +
        "ORDER BY sm DESC, cell6 LIMIT 15"
    },
    "q125_footprint_buffer" -> {
      val p = 1L << BufferLevel
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"f AS (SELECT fp_id, (ilat0 + 900) * $p // 1800 AS cy0, (ilat1 + 900) * $p // 1800 AS cy1, " +
        s"(ilon0 + 1800) * $p // 3600 AS cx0, (ilon1 + 1800) * $p // 3600 AS cx1 FROM ${Footprints.sqlValues}), " +
        s"h AS (SELECT fp_id, cy * $p + cx AS cell6 FROM (SELECT f.*, " +
        s"unnest(generate_series(greatest(cy0 - 1, 0), least(cy1 + 1, ${p - 1}))) AS cy FROM f) fy, " +
        s"unnest(generate_series(greatest(fy.cx0 - 1, 0), least(fy.cx1 + 1, ${p - 1}))) AS t(cx) " +
        "WHERE cy < cy0 OR cy > cy1 OR cx < cx0 OR cx > cx1), " +
        s"pc AS (SELECT CAST(floor((ilat + 900) * $p / 1800.0) AS BIGINT) * $p + " +
        s"CAST(floor((ilon + 1800) * $p / 3600.0) AS BIGINT) AS cell6, doc_id, lang FROM pages) " +
        "SELECT h.fp_id AS fp_id, count(DISTINCT h.cell6) AS n_halo_cells, " +
        "count(pc.doc_id) AS n_halo_pages, count(DISTINCT pc.lang) AS n_langs " +
        "FROM h LEFT JOIN pc ON h.cell6 = pc.cell6 GROUP BY h.fp_id ORDER BY fp_id"
    },
    "q122_lisa_hotspots" -> {
      val side = 1L << LisaLevel
      val nc = side * side
      s"WITH pages AS (${Pages.oracleCte}), " +
        s"occ AS (SELECT CAST(floor((ilat + 900) * $side / 1800.0) AS BIGINT) AS cy, " +
        s"CAST(floor((ilon + 1800) * $side / 3600.0) AS BIGINT) AS cx, count(*) AS c FROM pages GROUP BY 1, 2), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM occ), " +
        s"o AS (SELECT cy, cx, c, $nc * c - t.s AS d, t.s AS s, " +
        s"4 - (CASE WHEN cy = 0 THEN 1 ELSE 0 END) - (CASE WHEN cy = ${side - 1} THEN 1 ELSE 0 END) " +
        s"- (CASE WHEN cx = 0 THEN 1 ELSE 0 END) - (CASE WHEN cx = ${side - 1} THEN 1 ELSE 0 END) AS nt " +
        "FROM occ CROSS JOIN tot t), " +
        "sc AS (SELECT o.cy + v.dy AS ty, o.cx + v.dx AS tx, o.d AS dn FROM o " +
        "CROSS JOIN (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) AS v(dy, dx) " +
        s"WHERE o.cy + v.dy >= 0 AND o.cy + v.dy < $side AND o.cx + v.dx >= 0 AND o.cx + v.dx < $side), " +
        "adj AS (SELECT ty, tx, CAST(sum(dn) AS BIGINT) AS sum_dnbr, count(*) AS no FROM sc GROUP BY ty, tx), " +
        "loc AS (SELECT o.cy, o.cx, o.c, CAST(o.d * (coalesce(a.sum_dnbr, 0) - (o.nt - coalesce(a.no, 0)) * o.s) AS BIGINT) AS local, o.d AS d " +
        "FROM o LEFT JOIN adj a ON o.cy = a.ty AND o.cx = a.tx) " +
        s"SELECT cy * $side + cx AS cell5, c AS n_pages, local, " +
        "CASE WHEN local < 0 THEN 'outlier' WHEN d > 0 THEN 'hot' ELSE 'cold' END AS class " +
        s"FROM loc ORDER BY abs(local) DESC, cell5 LIMIT $LisaTopK"
    },
    "q117_moran_components" -> {
      def lvl(l: Int): String = {
        val side = 1L << l
        val nc = side * side
        val w = 4 * side * (side - 1)
        s"occ$l AS (SELECT CAST(floor((ilat + 900) * $side / 1800.0) AS BIGINT) AS cy, " +
          s"CAST(floor((ilon + 1800) * $side / 3600.0) AS BIGINT) AS cx, count(*) AS c FROM pages GROUP BY 1, 2), " +
          s"tot$l AS (SELECT CAST(sum(c) AS BIGINT) AS s, count(*) AS nocc FROM occ$l), " +
          s"o$l AS (SELECT cy, cx, $nc * c - t.s AS d, " +
          s"4 - (CASE WHEN cy = 0 THEN 1 ELSE 0 END) - (CASE WHEN cy = ${side - 1} THEN 1 ELSE 0 END) " +
          s"- (CASE WHEN cx = 0 THEN 1 ELSE 0 END) - (CASE WHEN cx = ${side - 1} THEN 1 ELSE 0 END) AS nt " +
          s"FROM occ$l CROSS JOIN tot$l t), " +
          s"sc$l AS (SELECT o.cy + v.dy AS ty, o.cx + v.dx AS tx, o.d AS dn FROM o$l o " +
          "CROSS JOIN (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) AS v(dy, dx) " +
          s"WHERE o.cy + v.dy >= 0 AND o.cy + v.dy < $side AND o.cx + v.dx >= 0 AND o.cx + v.dx < $side), " +
          s"adj$l AS (SELECT ty, tx, CAST(sum(dn) AS BIGINT) AS sum_dnbr, count(*) AS no FROM sc$l GROUP BY ty, tx), " +
          s"per$l AS (SELECT o.d, o.nt, coalesce(a.sum_dnbr, 0) AS sum_dnbr, coalesce(a.no, 0) AS no " +
          s"FROM o$l o LEFT JOIN adj$l a ON o.cy = a.ty AND o.cx = a.tx), " +
          s"fin$l AS (SELECT CAST($l AS INT) AS level, CAST($nc AS BIGINT) AS n_cells, " +
          s"t.nocc AS n_occ, CAST($w AS BIGINT) AS w_pairs, " +
          s"CAST(sum(p.d * p.sum_dnbr) - 2 * t.s * sum(p.d * (p.nt - p.no)) " +
          s"+ ($w - sum(p.no) - 2 * sum(p.nt - p.no)) * t.s * t.s AS BIGINT) AS num, " +
          s"CAST(sum(p.d * p.d) + ($nc - t.nocc) * t.s * t.s AS BIGINT) AS den " +
          s"FROM per$l p CROSS JOIN tot$l t GROUP BY t.nocc, t.s)"
      }
      s"WITH pages AS (${Pages.oracleCte}), ${MoranLevels.map(lvl).mkString(", ")} " +
        MoranLevels.map(l => s"SELECT * FROM fin$l").mkString(" UNION ALL ") +
        " ORDER BY level"
    },
    "q112_dissolve_area" ->
      (s"WITH f AS (SELECT fp_id % 3 AS layer, ilat0, ilon0, ilat1, ilon1 FROM ${Footprints.sqlValues}), " +
        "ed AS (SELECT DISTINCT layer, e FROM (SELECT layer, ilon0 AS e FROM f UNION ALL SELECT layer, ilon1 + 1 FROM f)), " +
        "sl AS (SELECT layer, e AS x0, lead(e) OVER (PARTITION BY layer ORDER BY e) AS x1 FROM ed), " +
        "s2 AS (SELECT layer, x0, x1 FROM sl WHERE x1 IS NOT NULL), " +
        "cov AS (SELECT DISTINCT s2.layer, s2.x0, s2.x1, f.ilat0 AS y0, f.ilat1 + 1 AS y1 " +
        "FROM s2 JOIN f ON f.layer = s2.layer AND f.ilon0 <= s2.x0 AND f.ilon1 + 1 >= s2.x1), " +
        "w AS (SELECT layer, x0, x1, y0, y1, max(y1) OVER (PARTITION BY layer, x0 ORDER BY y0, y1 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM cov), " +
        "fl AS (SELECT layer, x0, x1, y0, y1, CASE WHEN pmax IS NULL OR y0 > pmax THEN 1 ELSE 0 END AS flag FROM w), " +
        "il AS (SELECT layer, x0, x1, y0, y1, sum(flag) OVER (PARTITION BY layer, x0 ORDER BY y0, y1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM fl), " +
        "mg AS (SELECT layer, x0, x1, isl, min(y0) AS a, max(y1) AS b FROM il GROUP BY layer, x0, x1, isl), " +
        "ua AS (SELECT layer, CAST(sum(CAST(x1 - x0 AS BIGINT) * (b - a)) AS BIGINT) AS union_area FROM mg GROUP BY layer), " +
        "bs AS (SELECT layer, count(*) AS n_boxes, CAST(sum(CAST(ilon1 - ilon0 + 1 AS BIGINT) * (ilat1 - ilat0 + 1)) AS BIGINT) AS sum_box_area FROM f GROUP BY layer) " +
        "SELECT bs.layer AS layer, bs.n_boxes AS n_boxes, ua.union_area AS union_area, bs.sum_box_area AS sum_box_area, " +
        "bs.sum_box_area - ua.union_area AS overlap_area FROM bs JOIN ua ON bs.layer = ua.layer ORDER BY layer"),
  )
}
