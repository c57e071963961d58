package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.testutil.SparkTestBase

class TilingSpec extends SparkTestBase {

  /** Dense grid per tile, densified from the sparse counts via RasterAgg. */
  private def rasterizeGrids(pages: DataFrame): DataFrame = {
    val raster = udaf(new Tiling.RasterAgg, Encoders.product[Tiling.SparsePix])
    Tiling.sparseCounts(spark, pages)
      .groupBy(col("tile"))
      .agg(raster(col("pxy"), col("n")).as("grid"))
  }

  test("dense grids (RasterAgg) exploded == long-form counts") {
    import spark.implicits._
    val viaLong = Tiling.rasterizeLong(spark, sf001).collect().map(_.toSeq)
    val viaGrid = rasterizeGrids(graft.sources.Pages.fromDocuments(spark, sf001))
      .select($"tile", posexplode($"grid"))
      .filter($"col" > 0)
      .select($"tile", ($"pos" % Tiling.W).cast("int").as("px"),
        ($"pos" / Tiling.W).cast("int").as("py"), $"col".as("n"))
      .orderBy($"tile", $"py", $"px").collect().map(_.toSeq)
    assert(viaGrid.toSeq === viaLong.toSeq)
  }

  test("pixel coords are in [0, W) x [0, H)") {
    val bad = Tiling.pixelized(spark, sf001)
      .filter(col("px") < 0 || col("px") >= Tiling.W || col("py") < 0 || col("py") >= Tiling.H)
      .count()
    assert(bad === 0)
  }

  test("mosaic per pixel equals newest-snapshot-wins rule (independent recompute)") {
    import spark.implicits._
    val mosaic = Tiling.mosaicLong(spark, sf001).collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    // recompute with plain SQL-ish ops
    val pix = Tiling.pixelized(spark, sf001)
      .withColumn("snap", (col("doc_id") % 2).cast("int"))
    val snapTs = pix.groupBy(col("tile"), col("snap")).agg(max(col("ts_sec")).as("sts"))
    val long = pix.groupBy(col("tile"), col("snap"), col("px"), col("py"))
      .agg(count(lit(1)).as("n"))
      .join(snapTs, Seq("tile", "snap"))
      .groupBy(col("tile"), col("px"), col("py"))
      .agg(max_by(col("n"), col("sts")).as("n"))
      .select($"tile", $"px", $"py", $"n")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    assert(mosaic === long)
  }

  test("mosaic aggregator: pixel-level merge semantics") {
    val agg = new Tiling.MosaicAgg
    val g1 = new Array[Long](Tiling.W * Tiling.H)
    val g2 = new Array[Long](Tiling.W * Tiling.H)
    g1(0) = 5; g1(1) = 7 // older snapshot has pixels 0,1
    g2(1) = 2; g2(2) = 3 // newer snapshot has pixels 1,2
    var b = agg.zero
    b = agg.reduce(b, Tiling.TileGrid(100L, g1))
    b = agg.reduce(b, Tiling.TileGrid(200L, g2))
    val out = agg.finish(b)
    assert(out(0) === 5) // only in old
    assert(out(1) === 2) // newer wins
    assert(out(2) === 3) // only in new
    assert(out(3) === 0)
  }

  test("pyramid: 2x2 child-pixel blocks sum into one parent pixel") {
    import spark.implicits._
    // the fixture geotag is a Weyl lattice (maximally spread — zero 2x2
    // collisions at every sf), so the merge path needs crafted points:
    // two pages in ADJACENT child pixels of the same block, one elsewhere.
    // Level-4 tile (cx=8, cy=8) spans ilon [0,225) x ilat ~[0,112); pixel
    // width is 225/16 ~ 14 -> ilon 0 and 15 land in px 0 and 1, both
    // halving to parent px 0. cy=8 is even and px 0,1 share a block.
    val pages = Seq((1L, 0, 0), (2L, 0, 15), (3L, 0, 100))
      .toDF("doc_id", "ilat", "ilon")
    val out = Tiling.pyramidLongOn(spark, pages)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // docs 1+2 merge (n=2); doc 3 is a separate parent pixel
    assert(out.count(_._4 == 2L) === 1, out.mkString(", "))
    assert(out.map(_._4).sum === 3L)
    // totals preserved vs the base raster on the real fixture too
    val base = Tiling.rasterizeLong(spark, sf001).agg(sum("n")).collect()(0).getLong(0)
    val pyr = Tiling.pyramidLong(spark, sf001).agg(sum("n")).collect()(0).getLong(0)
    assert(base === pyr)
  }

  test("pyramid over random points: every parent pixel sums exactly its child block") {
    import spark.implicits._
    import org.scalacheck.Gen
    // one Spark run over a scalacheck-generated point batch: parent cell
    // counts recomputed independently from the raw raster driver-side
    val gen = Gen.zip(Gen.choose(-900, 899), Gen.choose(-1800, 1799))
    val pts = (0 until 300).map { i =>
      val (la, lo) = gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(i * 31L + 7))
      (i.toLong, la, lo)
    }
    val df = pts.toDF("doc_id", "ilat", "ilon")
    val base = Tiling.rasterizeLongOn(spark, df)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val want = base.groupBy { case (tile, px, py, _) =>
      val (cx, cy) = (tile % 16, tile / 16)
      ((cy / 2) * 8 + cx / 2, ((cx % 2).toInt * 16 + px) / 2, ((cy % 2).toInt * 16 + py) / 2)
    }.map { case (k, rs) => (k._1, k._2, k._3, rs.map(_._4).sum) }.toSet
    val got = Tiling.pyramidLongOn(spark, df)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("band math: ratio bounded and bands consistent") {
    val rows = Tiling.bandMathLong(spark, sf001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (all, en, ratio) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(en <= all && ratio >= 0 && ratio <= 1000)
      assert(ratio === math.floor(1000.0 * en / all).toLong)
    }
  }

  test("tile stats: page totals match the raw table") {
    val total = Tiling.tileStats(spark, sf001).agg(sum(col("n_pages"))).collect()(0).getLong(0)
    val docs = spark.read.parquet(s"$sf001/documents.parquet").count()
    assert(total === docs)
  }
}
