package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.functions.lit

import graft.sources.{Footprints, Pages}
import graft.testutil.SparkTestBase

/** Semantic laws for the round-4 geo-stats wave: the KDE convolution is
  * pinned against a brute 3×3 kernel sum, and the coordinate-compression
  * dissolve is pinned against a brute point-set rasterization (exact on
  * the integer deci-degree grid). */
class GeoStatsSpec extends SparkTestBase {

  /** The 3×3 binomial kernel (dy, dx, w), typed out. */
  private val binomial = Seq((-1, -1, 1L), (-1, 0, 2L), (-1, 1, 1L), (0, -1, 2L),
    (0, 0, 4L), (0, 1, 2L), (1, -1, 1L), (1, 0, 2L), (1, 1, 1L))

  test("q111 KDE heatmap == brute 3x3 kernel convolution over the cell grid") {
    import spark.implicits._
    val p = 1L << GeoStatsQueries.KdeLevel
    val pts = Pages.fromDocuments(spark, sf0001).select("ilat", "ilon")
      .as[(Int, Int)].collect()
    val counts = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for ((ilat, ilon) <- pts) {
      val cy = (ilat + 900).toLong * p / 1800
      val cx = (ilon + 1800).toLong * p / 3600
      counts((cy, cx)) += 1
    }
    val sm = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (((cy, cx), c) <- counts; (dy, dx, w) <- binomial) {
      val (ty, tx) = (cy + dy, cx + dx)
      if (ty >= 0 && ty < p && tx >= 0 && tx < p) sm((ty, tx)) += w * c
    }
    val expect = sm.toSeq
      .map { case ((ty, tx), s) => (ty * p + tx, s, counts((ty, tx))) }
      .sortBy { case (cell, s, _) => (-s, cell) }.take(15)
    val got = GeoStatsQueries.kdeHeatmap(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
  }

  test("q117 Moran components == brute full-grid rook-pair recompute") {
    import spark.implicits._
    val pts = Pages.fromDocuments(spark, sf0001).select("ilat", "ilon")
      .as[(Int, Int)].collect()
    val expect = GeoStatsQueries.MoranLevels.map { l =>
      val side = 1 << l
      val grid = Array.ofDim[Long](side, side)
      for ((ilat, ilon) <- pts)
        grid(((ilat + 900).toLong * side / 1800).toInt)(((ilon + 1800).toLong * side / 3600).toInt) += 1
      val s = grid.map(_.sum).sum
      val nc = side.toLong * side
      def d(y: Int, x: Int) = nc * grid(y)(x) - s
      var num = 0L; var den = 0L; var w = 0L; var nOcc = 0L
      for (y <- 0 until side; x <- 0 until side) {
        den += d(y, x) * d(y, x)
        if (grid(y)(x) > 0) nOcc += 1
        for ((dy, dx) <- Seq((-1, 0), (1, 0), (0, -1), (0, 1));
             ty = y + dy; tx = x + dx
             if ty >= 0 && ty < side && tx >= 0 && tx < side) {
          num += d(y, x) * d(ty, tx); w += 1
        }
      }
      (l, nc, nOcc, w, num, den)
    }
    val got = GeoStatsQueries.moranComponents(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expect)
  }

  test("q122 LISA hotspots == brute local-Moran recompute over the full grid") {
    import spark.implicits._
    val side = 1 << GeoStatsQueries.LisaLevel
    val pts = Pages.fromDocuments(spark, sf0001).select("ilat", "ilon")
      .as[(Int, Int)].collect()
    val grid = Array.ofDim[Long](side, side)
    for ((ilat, ilon) <- pts)
      grid(((ilat + 900).toLong * side / 1800).toInt)(((ilon + 1800).toLong * side / 3600).toInt) += 1
    val s = grid.map(_.sum).sum
    val nc = side.toLong * side
    def d(y: Int, x: Int) = nc * grid(y)(x) - s
    val expect = (for (y <- 0 until side; x <- 0 until side; if grid(y)(x) > 0) yield {
      val nbr = Seq((-1, 0), (1, 0), (0, -1), (0, 1))
        .map { case (dy, dx) => (y + dy, x + dx) }
        .filter { case (ty, tx) => ty >= 0 && ty < side && tx >= 0 && tx < side }
        .map { case (ty, tx) => d(ty, tx) }.sum
      val local = d(y, x) * nbr
      val cls = if (local < 0) "outlier" else if (d(y, x) > 0) "hot" else "cold"
      (y.toLong * side + x, grid(y)(x), local, cls)
    }).sortBy { case (cell, _, l, _) => (-math.abs(l), cell) }.take(GeoStatsQueries.LisaTopK)
    val got = GeoStatsQueries.lisaHotspots(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === expect)
  }

  test("q125 footprint buffer == brute halo-ring recompute; halo disjoint from cover") {
    import spark.implicits._
    val p = 1L << GeoStatsQueries.BufferLevel
    val pts = Pages.fromDocuments(spark, sf0001).select("ilat", "ilon", "doc_id", "lang")
      .as[(Int, Int, Long, String)].collect()
    def cellOf(ilat: Int, ilon: Int): Long =
      (ilat + 900).toLong * p / 1800 * p + (ilon + 1800).toLong * p / 3600
    val expect = Footprints.boxes.sortBy(_.fpId).map { b =>
      val (cy0, cy1) = ((b.ilat0 + 900).toLong * p / 1800, (b.ilat1 + 900).toLong * p / 1800)
      val (cx0, cx1) = ((b.ilon0 + 1800).toLong * p / 3600, (b.ilon1 + 1800).toLong * p / 3600)
      val halo = (for (cy <- math.max(cy0 - 1, 0L) to math.min(cy1 + 1, p - 1);
                       cx <- math.max(cx0 - 1, 0L) to math.min(cx1 + 1, p - 1)
                       if cy < cy0 || cy > cy1 || cx < cx0 || cx > cx1)
        yield cy * p + cx).toSet
      // halo never overlaps the cover itself
      for (cy <- cy0 to cy1; cx <- cx0 to cx1) assert(!halo.contains(cy * p + cx))
      val hits = pts.filter(pt => halo.contains(cellOf(pt._1, pt._2)))
      (b.fpId, halo.size.toLong, hits.length.toLong, hits.map(_._4).distinct.length.toLong)
    }
    val got = GeoStatsQueries.footprintBuffer(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
  }

  test("q129 IDW surface: weighted mean is bounded by neighborhood extremes") {
    val p = 1L << GeoStatsQueries.KdeLevel
    // brute per-cell (n, sum) from raw pages
    val pts = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon", "n_chars").collect()
      .map(r => ((r.getInt(0) + 900).toLong * p / 1800, (r.getInt(1) + 1800).toLong * p / 3600,
        r.getLong(2)))
    val perCell = pts.groupBy(t => (t._1, t._2))
      .map { case (c, xs) => c -> ((xs.length.toLong, xs.map(_._3).sum)) }
    val got = GeoStatsQueries.idwSurface(spark, sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (ty, tx) = (r.getLong(0) / p, r.getLong(0) % p)
      val neigh = for {
        dy <- -1L to 1L; dx <- -1L to 1L
        v <- perCell.get((ty + dy, tx + dx))
      } yield v
      assert(neigh.nonEmpty && r.getLong(2) === neigh.size.toLong)
      // weighted mean of cell means lies within the raw per-cell mean range
      val means = neigh.map { case (n, s) => s.toDouble / n }
      assert(r.getLong(1) >= means.min.floor.toLong - 1 && r.getLong(1) <= means.max.ceil.toLong)
    }
    // exact: brute 3×3 weighted Σw·s div Σw·n and the landed taps per target
    val acc = mutable.Map.empty[(Long, Long), (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    for (((cy, cx), (n, s)) <- perCell; (dy, dx, w) <- binomial) {
      val (ty, tx) = (cy + dy, cx + dx)
      if (ty >= 0 && ty < p && tx >= 0 && tx < p) {
        val (sws, swn, k) = acc((ty, tx))
        acc((ty, tx)) = (sws + w * s, swn + w * n, k + 1)
      }
    }
    val expect = acc.toSeq.map { case ((ty, tx), (sws, swn, k)) => (ty * p + tx, sws / swn, k) }
      .sortBy(_._1)
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq === expect)
  }

  test("q130 ring decay: d=0 equals the center cell count; ring cells bounded by shell size") {
    val rows = GeoStatsQueries.ringDecay(spark, sf0001).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case ((_, d), (n, cells)) =>
      assert(n > 0)
      // ring d holds at most (2d+1)^2 − (2d−1)^2 cells (8d for d ≥ 1, 1 for d = 0)
      val cap = if (d == 0) 1L else 8L * d
      assert(cells <= cap, s"ring $d reported $cells occupied cells > $cap")
    }
    // exact: brute Chebyshev distance from each footprint's center cell
    val p = 1L << GeoStatsQueries.KdeLevel
    val occ = Pages.fromDocuments(spark, sf0001).select("ilat", "ilon").collect()
      .map(r => ((r.getInt(0) + 900).toLong * p / 1800, (r.getInt(1) + 1800).toLong * p / 3600))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = (for {
      b <- Footprints.boxes
      ccy = ((b.ilat0 + b.ilat1 + 1800).toLong / 2) * p / 1800
      ccx = ((b.ilon0 + b.ilon1 + 3600).toLong / 2) * p / 3600
      ((cy, cx), c) <- occ.toSeq
      d = math.max(math.abs(cy - ccy), math.abs(cx - ccx))
      if d <= GeoStatsQueries.DecayMaxD
    } yield ((b.fpId, d), c)).groupBy(_._1)
      .map { case (k, xs) => k -> ((xs.map(_._2).sum, xs.length.toLong)) }
    assert(rows === expect)
  }

  test("q131 trajectory: bucket decomposition == single-pass brute; net <= total") {
    val rows = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("source", "ts_sec", "doc_id", "ilat", "ilon").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    def che(a: (Int, Int), b: (Int, Int)): Long =
      math.max(math.abs(a._1 - b._1), math.abs(a._2 - b._2)).toLong
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val path = xs.sortBy(x => (x._2, x._3)).map(x => (x._4, x._5)).toSeq
      val total = path.sliding(2).collect { case Seq(a, b) => che(a, b) }.sum
      val net = che(path.head, path.last)
      (src, xs.length.toLong, total, net,
        if (total > 0) net * 1000 / total else 1000L)
    }
    val got = GeoStatsQueries.crawlerTrajectory(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
    got.foreach(r => assert(r._4 <= r._3 || r._3 == 0, "net displacement exceeded the path sum"))
  }

  test("q134 areal interpolation conserves each footprint's count up to floor loss") {
    val p = 1L << GeoStatsQueries.ArealLevel
    // brute: per-footprint allocation shares re-derived cell by cell
    val pts = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon", "ts_sec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    var allocByCell = Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    for (b <- Footprints.boxes) {
      val n = pts.count(pt => pt._1 >= b.ilat0 && pt._1 <= b.ilat1 &&
        pt._2 >= b.ilon0 && pt._2 <= b.ilon1 && pt._3 >= b.tfrom && pt._3 <= b.tto).toLong
      if (n > 0) {
        val boxArea = (b.ilat1 - b.ilat0 + 1).toLong * p * ((b.ilon1 - b.ilon0 + 1).toLong * p)
        var fpSum = 0L
        for (cy <- (b.ilat0 + 900).toLong * p / 1800 to (b.ilat1 + 900).toLong * p / 1800;
             cx <- (b.ilon0 + 1800).toLong * p / 3600 to (b.ilon1 + 1800).toLong * p / 3600) {
          val ovy = math.min((b.ilat1 + 1 + 900).toLong * p, (cy + 1) * 1800) -
            math.max((b.ilat0 + 900).toLong * p, cy * 1800)
          val ovx = math.min((b.ilon1 + 1 + 1800).toLong * p, (cx + 1) * 3600) -
            math.max((b.ilon0 + 1800).toLong * p, cx * 3600)
          val share = n * 1000L * (ovy * ovx) / boxArea
          fpSum += share
          val cell = cy * p + cx
          val (a, c) = allocByCell(cell)
          allocByCell += cell -> ((a + share, c + 1))
        }
        // conservation: floor loss only, bounded by the cell count
        assert(fpSum <= 1000L * n && fpSum > 1000L * n - 4L * p * p,
          s"fp ${b.fpId} allocation $fpSum vs ${1000L * n}")
      }
    }
    val got = GeoStatsQueries.arealInterpolation(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === allocByCell.toMap.filter(_._2._2 > 0))
  }

  test("q135 adaptive grid: leaves partition the corpus — disjoint, conserving, split-bounded") {
    val rows = GeoStatsQueries.adaptiveGrid(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // conservation: occupied leaves hold every page exactly once
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.map(_._3).sum === total)
    // split bound: every non-finest leaf obeys the split threshold
    rows.filter(_._1 < GeoStatsQueries.AdaptLevel)
      .foreach(r => assert(r._3 <= GeoStatsQueries.AdaptSplit, s"leaf $r over split"))
    // disjointness: no leaf is an ancestor of another (compare the
    // (cy, cx) box of the coarser against the finer's projection)
    def yx(l: Int, c: Long): (Long, Long) = { val s = 1L << l; (c / s, c % s) }
    for (a <- rows; b <- rows if a._1 < b._1) {
      val (ay, ax) = yx(a._1, a._2)
      val (by, bx) = yx(b._1, b._2)
      val shift = b._1 - a._1
      assert(!((by >> shift) == ay && (bx >> shift) == ax),
        s"leaf $b nests inside leaf $a")
    }
    // the fixture actually exercises refinement: >1 level present
    assert(rows.map(_._1).distinct.length > 1, "no refinement happened — raise fixture density")
    // the distributed scale path is row-identical to the driver assembly
    val dist = GeoStatsQueries.adaptiveGridDistributed(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(dist.toSeq === rows.toSeq)
  }

  test("q135 default entry point dispatches to the distributed twin above level 6") {
    // verdict r5 #3: no unbounded 4^maxLevel driver collect when a caller
    // raises the level — the default must return the distributed
    // (parquet-scan-rooted) plan there, and the driver-assembled
    // LocalRelation at the declared level
    val high = GeoStatsQueries.adaptiveGrid(spark, sf0001, maxLevel = 7)
      .queryExecution.analyzed.toString
    assert(high.contains("parquet"), "maxLevel 7 did not take the distributed path")
    val low = GeoStatsQueries.adaptiveGrid(spark, sf0001)
      .queryExecution.analyzed.toString
    assert(!low.contains("parquet"), "default maxLevel left the driver-assembly path")
  }

  test("q136 emerging hotspots == brute Mann-Kendall over zero-filled bucket series") {
    val p = 1L << GeoStatsQueries.MkLevel
    val nb = GeoStatsQueries.MkBuckets
    val pts = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon", "ts_sec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val (mn, mx) = (pts.map(_._3).min, pts.map(_._3).max)
    val series = pts.groupBy { case (lat, lon, _) =>
      ((lat + 900).toLong * p / 1800, (lon + 1800).toLong * p / 3600)
    }.map { case (cell, xs) =>
      val buckets = Array.fill(nb)(0L)
      xs.foreach { case (_, _, ts) => buckets((((ts - mn) * nb) / (mx - mn + 1)).toInt) += 1 }
      cell -> buckets
    }
    val expect = series.map { case ((cy, cx), b) =>
      var s = 0L
      for (i <- 0 until nb; j <- i + 1 until nb) s += java.lang.Long.signum(b(j) - b(i))
      (cy * p + cx) -> s
    }
    val got = GeoStatsQueries.emergingHotspots(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(r => r._1 -> r._2).toMap === expect)
    got.foreach { case (_, s, trend) =>
      assert(math.abs(s) <= nb.toLong * (nb - 1) / 2)
      val want = if (s >= GeoStatsQueries.MkTau) "emerging"
        else if (s <= -GeoStatsQueries.MkTau) "fading" else "stable"
      assert(trend === want)
    }
  }

  test("q138 territory assignment == brute nearest-center allocation; conservation") {
    val p = 1L << GeoStatsQueries.TerrLevel
    val pts = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon").collect().map(r => (r.getInt(0), r.getInt(1)))
    val centers = Footprints.boxes.map(b => (b.fpId,
      ((b.ilat0 + b.ilat1 + 1800).toLong / 2) * p / 1800,
      ((b.ilon0 + b.ilon1 + 3600).toLong / 2) * p / 3600))
    val occ = pts.groupBy { case (lat, lon) =>
      ((lat + 900).toLong * p / 1800, (lon + 1800).toLong * p / 3600)
    }.view.mapValues(_.length.toLong)
    val expect = occ.toSeq.map { case ((cy, cx), c) =>
      val fp = centers.minBy { case (id, ccy, ccx) =>
        ((cy - ccy) * (cy - ccy) + (cx - ccx) * (cx - ccx), id)
      }._1
      (fp, c)
    }.groupBy(_._1).view.mapValues(xs => (xs.length.toLong, xs.map(_._2).sum))
      .toMap
    val got = GeoStatsQueries.territoryAssign(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    assert(got.values.map(_._2).sum === pts.length.toLong, "territories lost pages")
    assert(got.values.map(_._1).sum === occ.size.toLong, "territories lost cells")
  }

  test("q140 density gradient == brute Sobel; direction classes agree with the vector") {
    val p = 1L << GeoStatsQueries.KdeLevel
    val occ = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon").collect()
      .map(r => (((r.getInt(0) + 900).toLong * p / 1800), ((r.getInt(1) + 1800).toLong * p / 3600)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    def g(ty: Long, tx: Long): (Long, Long) = {
      var gx = 0L; var gy = 0L
      val k = Seq((-1, -1, -1, -1), (-1, 0, 0, -2), (-1, 1, 1, -1), (0, -1, -2, 0),
        (0, 1, 2, 0), (1, -1, -1, 1), (1, 0, 0, 2), (1, 1, 1, 1))
      // the operator scatters source→(cy+dy, cx+dx) with weight w, so
      // target t sums w·c over sources s = t − d
      for ((dy, dx, wx, wy) <- k) {
        val c = occ.getOrElse((ty - dy, tx - dx), 0L)
        gx += wx * c; gy += wy * c
      }
      (gx, gy)
    }
    val rows = GeoStatsQueries.densityGradient(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty && rows.length <= GeoStatsQueries.GradTopK)
    rows.foreach { case (cell, gx, gy, mag, dir) =>
      val (ty, tx) = (cell / p, cell % p)
      val (wgx, wgy) = g(ty, tx)
      assert((gx, gy) === ((wgx, wgy)), s"Sobel diverged at cell $cell")
      assert(mag === math.abs(gx) + math.abs(gy))
      val want =
        if (math.abs(gx) > 2 * math.abs(gy)) { if (gx > 0) "E" else "W" }
        else if (math.abs(gy) > 2 * math.abs(gx)) { if (gy > 0) "S" else "N" }
        else if (gx >= 0 && gy >= 0) "SE"
        else if (gx >= 0 && gy < 0) "NE"
        else if (gx < 0 && gy >= 0) "SW"
        else "NW"
      assert(dir === want)
    }
    // top-k really is the magnitude order
    assert(rows.map(_._4).toSeq === rows.map(_._4).sortBy(-_).toSeq)
  }

  test("q117/q122 rook terms: exact below the stated BIGINT bound, ArithmeticException past it") {
    import spark.implicits._
    val level = GeoStatsQueries.LisaLevel // q117's fine level too
    val side = 1 << level
    // one interior cell holding all S pages: the one-cell Σd² ≈ (4^L·S)²
    // is the largest term, exact while 4^L·S < 3.03e9
    def report(s: Long) = GeoStatsQueries.moranLevel(
      GeoStatsQueries.rookTerms(Seq((3L, 4L, s)).toDF("cy", "cx", "c"), side), level).head()
    def brute(s: Long): (BigInt, BigInt) = {
      val nc = BigInt(side) * side
      def d(y: Int, x: Int) = if ((y, x) == ((3, 4))) nc * s - s else -BigInt(s)
      var num = BigInt(0); var den = BigInt(0)
      for (y <- 0 until side; x <- 0 until side) {
        den += d(y, x) * d(y, x)
        for ((dy, dx) <- Seq((-1, 0), (1, 0), (0, -1), (0, 1));
             ty = y + dy; tx = x + dx
             if ty >= 0 && ty < side && tx >= 0 && tx < side) num += d(y, x) * d(ty, tx)
      }
      (num, den)
    }
    val below = 2950000L
    assert(BigInt(side) * side * below < BigInt(3030000000L))
    val r = report(below)
    assert((BigInt(r.getLong(4)), BigInt(r.getLong(5))) === brute(below))
    // just past it d² = ((4^L − 1)·S)² leaves BIGINT: ANSI throws, never wraps
    val past = 2969000L
    assert(BigInt(side * side - 1) * past * (BigInt(side * side - 1) * past) > BigInt(Long.MaxValue))
    val e = intercept[Exception](report(past))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("q141 LQ permille is exact past the BIGINT range of n · total · 1000") {
    // counts past 3e7 pages: the numerator 1.12e19 is beyond 2^63
    val (n, nCell, nLang, total) = (35000000L, 40000000L, 310000000L, 320000000L)
    assert(BigInt(n) * total * 1000 > BigInt(Long.MaxValue))
    val got = spark.range(1).select(GeoStatsQueries.lqPermille(
      lit(n), lit(nCell), lit(nLang), lit(total))).head().getLong(0)
    assert(BigInt(got) === BigInt(n) * total * 1000 / (BigInt(nCell) * nLang))
  }

  test("q141 location quotient == brute share-ratio recompute; suppression respected") {
    val p = 1L << GeoStatsQueries.LqLevel
    val pts = graft.sources.Pages.fromDocuments(spark, sf0001)
      .select("ilat", "ilon", "lang").collect()
      .map(r => (((r.getInt(0) + 900).toLong * p / 1800) * p +
        ((r.getInt(1) + 1800).toLong * p / 3600), r.getString(2)))
    val total = pts.length.toLong
    val byCellLang = pts.groupBy(identity).view.mapValues(_.length.toLong)
    val byCell = pts.groupBy(_._1).view.mapValues(_.length.toLong)
    val byLang = pts.groupBy(_._2).view.mapValues(_.length.toLong)
    val expect = byCellLang.toSeq.collect {
      case ((cell, lang), n) if n >= GeoStatsQueries.LqMinPages =>
        (cell, lang) -> ((n, n * total * 1000 / (byCell(cell) * byLang(lang))))
    }.toMap
    val got = GeoStatsQueries.locationQuotient(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    graft.util.CacheBag.release()
    assert(got === expect)
    assert(got.nonEmpty && got.values.forall(_._2 > 0))
    // some specialization exists on the fixture (not all LQ ≡ 1000)
    assert(got.values.exists(v => v._2 != 1000L))
  }

  test("q112 dissolve area == brute rasterized union; bounded by box sums") {
    val layers = Footprints.boxes.groupBy(_.fpId % 3)
    val expect = layers.toSeq.sortBy(_._1).map { case (layer, boxes) =>
      val covered = mutable.Set.empty[(Int, Int)]
      for (b <- boxes; y <- b.ilat0 to b.ilat1; x <- b.ilon0 to b.ilon1)
        covered += ((y, x))
      (layer, covered.size.toLong)
    }
    val got = GeoStatsQueries.dissolveArea(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(r => (r._1, r._3)).toSeq === expect)
    for (r <- got) {
      assert(r._3 <= r._4, "union exceeds sum of box areas")
      assert(r._5 === r._4 - r._3)
      val maxBox = Footprints.boxes.filter(_.fpId % 3 == r._1)
        .map(b => (b.ilon1 - b.ilon0 + 1).toLong * (b.ilat1 - b.ilat0 + 1)).max
      assert(r._3 >= maxBox, "union smaller than its largest box")
    }
  }
}
