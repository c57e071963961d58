package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{cell_cover, cell_rowmajor}
import graft.operators.{GeoQueries, Tiling}
import graft.testutil.SparkTestBase

/** The integer cell and pixel keys (`Pages.cellAxis`/`cellCol`,
  * `Tiling.pixelizedOn`) and the driver-built footprint cover
  * (`GeoQueries.footprintCells`) against the double-division `floor`
  * formulas and the `explode(cell_cover)` path they replace, kept here as
  * test-local references. */
class CellKeySpec extends SparkTestBase {

  private val MaxLevel = CellIndex.MaxLevel

  /** Reference: the floor-of-double-division cell axis. */
  private def floorAxis(x: Column, extent: Int, level: Int): Column =
    floor((x + extent / 2) * (1L << level) / extent).cast("long")

  private def floorCell(ilat: Column, ilon: Column, level: Int): Column =
    floorAxis(ilat, CellIndex.GridH, level) * (1L << level) +
      floorAxis(ilon, CellIndex.GridW, level)

  /** Reference: the double-division pixelization, added to `pages` as
    * (w_tile, w_px, w_py, w_pxy). */
  private def floorPixelized(pages: DataFrame): DataFrame = {
    val p = 1 << Tiling.TileLevel
    val (gw, gh) = (CellIndex.GridW, CellIndex.GridH)
    val gx = col("ilon") + gw / 2
    val gy = col("ilat") + gh / 2
    val cx = floor(gx * p / gw).cast("long")
    val cy = floor(gy * p / gh).cast("long")
    def lo(c: Column, dim: Int) = floor((c * dim + (p - 1)) / p).cast("long")
    pages
      .withColumn("w_tile", cy * p + cx)
      .withColumn("w_px", floor((gx - cx * (gw / p)) * Tiling.W / (gw / p)).cast("int"))
      .withColumn("w_py",
        floor((gy - lo(cy, gh)) * Tiling.H / (lo(cy + 1, gh) - lo(cy, gh))).cast("int"))
      .withColumn("w_pxy", (col("w_py") * Tiling.W + col("w_px")).cast("long"))
  }

  private val pixelKeys = Seq("tile", "px", "py", "pxy")

  /** Rows of `pages` whose pixelizedOn keys differ from the reference. */
  private def pixelMismatches(pages: DataFrame): DataFrame =
    floorPixelized(Tiling.pixelizedOn(spark, pages))
      .filter(pixelKeys.map(k => col(k) =!= col(s"w_$k")).reduce(_ || _))

  /** Every (ilat, ilon) of the closed coordinate domain
    * [-900, 900] x [-1800, 1800]. */
  private def grid: DataFrame = {
    val w = CellIndex.GridW + 1
    spark.range(0L, (CellIndex.GridH + 1).toLong * w, 1L, 8).select(
      ((col("id") / w).cast("int") - CellIndex.GridH / 2).as("ilat"),
      ((col("id") % w).cast("int") - CellIndex.GridW / 2).as("ilon"))
  }

  private val outOfDomain: Seq[Int] = Seq(Int.MinValue, -1000000, -100000, -5000, -3601,
    -3600, -1801, -1000, -901, 901, 1000, 1801, 3600, 5000, 100000, 1000000,
    Int.MaxValue - 1800)

  test("cellCol equals the floor formula and CellIndex on the whole domain, levels 0..12") {
    val cyOf = udf((a: Int, l: Int) => CellIndex.cyOf(a, l).toLong)
    val cxOf = udf((o: Int, l: Int) => CellIndex.cxOf(o, l).toLong)
    val mismatches = (0 to MaxLevel).map { l =>
      val cell = Pages.cellCol(col("ilat"), col("ilon"), l)
      val viaIndex = cyOf(col("ilat"), lit(l)) * (1L << l) + cxOf(col("ilon"), lit(l))
      sum(when(cell =!= floorCell(col("ilat"), col("ilon"), l) || cell =!= viaIndex, 1L)
        .otherwise(0L)).as(s"l$l")
    }
    val row = grid.agg(count(lit(1)), mismatches: _*).head()
    assert(row.getLong(0) === 1801L * 3601L)
    (0 to MaxLevel).foreach(l => assert(row.getLong(l + 1) === 0L, s"level $l"))
  }

  test("pixelizedOn (tile, px, py, pxy) equals the double formula on the whole domain") {
    val bad = pixelMismatches(grid)
    assert(bad.count() === 0L, bad.limit(5).collect().mkString(", "))
  }

  test("footprintCells equals the explode(cell_cover) path at levels 4, 6, 8") {
    GraftFunctions.register(spark)
    for (l <- Seq(4, 6, 8)) {
      val viaExplode = Footprints.boxesWktDf(spark)
        .withColumn("mcell", explode(cell_cover(col("wkt"), lit(l))))
        .withColumn("cell", cell_rowmajor(col("mcell")))
        .drop("wkt", "mcell")
      val got = GeoQueries.footprintCells(spark, l)
      assert(got.columns.toSeq === viaExplode.columns.toSeq)
      assert(got.collect().toSeq === viaExplode.collect().toSeq, s"level $l")
    }
  }

  test("out-of-domain coordinates keep floor semantics; NULL stays NULL") {
    import spark.implicits._
    val xs = (outOfDomain ++ Seq(-900, 0, 900)).toDF("x")
    for (l <- 0 to MaxLevel; (extent, name) <- Seq(CellIndex.GridH -> "ilat", CellIndex.GridW -> "ilon")) {
      val rows = xs.select(col("x"), Pages.cellAxis(col("x"), extent, l),
        floorAxis(col("x"), extent, l)).collect()
      rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"$name=${r.getInt(0)}, level $l"))
    }
    // pixels of out-of-domain points follow the floor formula too (within
    // the reference's own int range: it multiplies the coordinate in int);
    // every ilat of four grid heights, so each off-by-one in a tile bound
    // shows up in some py
    val moderate = outOfDomain.filter(x => math.abs(x.toLong) <= 1000000L)
    val lats = (-2 * CellIndex.GridH to 2 * CellIndex.GridH) ++ moderate
    val bad = pixelMismatches((for (a <- lats; o <- moderate) yield (a, o)).toDF("ilat", "ilon"))
    assert(bad.count() === 0L, bad.limit(5).collect().mkString(", "))
    val nulls = Seq[(Option[Int], Option[Int])]((None, Some(0)), (Some(0), None)).toDF("ilat", "ilon")
      .select(Pages.cellCol(col("ilat"), col("ilon"), 6)).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }
}
