package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.CellIndex
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.sources.Pages

/** Tile rasterization + mosaicking — the GIPS `gips_project` / `Tiles.mosaic`
  * analog (SURVEY.md §2 E5/E6): aggregate the pages inside each level-4 tile
  * cell into a fixed W x H count raster, and merge per-snapshot rasters with
  * a latest-timestamp-wins overlap rule (the cookie-cutter priority).
  *
  * Implemented as typed `Aggregator`s registered via `functions.udaf` —
  * partial aggregation (map-side combine) applies, so each shuffle moves one
  * W*H grid per (tile, partition), not one row per page. Buffers are dense
  * Array[Long] of 16x16 = 256 cells (2 KiB) — bounded regardless of how many
  * pages land in a tile, which is what makes the operator safe under the
  * planted hot-cell skew.
  *
  * Correctness surface: the aggregator outputs are exploded back to long
  * form (tile, px, py, n) and compared against a pure-SQL DuckDB oracle —
  * i.e. the custom aggregation path itself is oracle-gated, not just a
  * SQL-shaped twin.
  */
object Tiling {

  final val W = 16
  final val H = 16
  final val TileLevel = 4

  /** E5 — densify aggregator: consumes SPARSE (pixel, count) pairs and
    * builds the dense grid. The per-page hot path never reaches this
    * operator: pages are first reduced by a codegen'd hash aggregate on
    * (tile, pxy) — typed-Aggregator updates are interpreted and 256 groups
    * would push ObjectHashAggregate into its sort-based fallback, so
    * feeding it raw pages costs a whole-table sort at scale. Feeding it
    * the sparse counts caps its input at W*H rows per tile. */
  final case class SparsePix(pxy: Long, n: Long)

  class RasterAgg extends Aggregator[SparsePix, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](W * H)
    override def reduce(b: Array[Long], p: SparsePix): Array[Long] = {
      b(p.pxy.toInt) += p.n; b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  final case class TileGrid(ts: Long, cells: Array[Long])
  final case class MosaicBuf(ts: Array[Long], v: Array[Long])

  /** E6 — mosaic aggregator: merges per-snapshot grids of the same tile;
    * per pixel, the value from the newest grid that has data there wins. */
  class MosaicAgg extends Aggregator[TileGrid, MosaicBuf, Array[Long]] {
    override def zero: MosaicBuf = MosaicBuf(new Array[Long](W * H), new Array[Long](W * H))
    override def reduce(b: MosaicBuf, g: TileGrid): MosaicBuf = {
      var i = 0
      while (i < W * H) {
        if (g.cells(i) > 0 && g.ts > b.ts(i)) { b.ts(i) = g.ts; b.v(i) = g.cells(i) }
        i += 1
      }
      b
    }
    override def merge(a: MosaicBuf, b: MosaicBuf): MosaicBuf = {
      var i = 0
      while (i < W * H) {
        if (b.v(i) > 0 && b.ts(i) > a.ts(i)) { a.ts(i) = b.ts(i); a.v(i) = b.v(i) }
        i += 1
      }
      a
    }
    override def finish(b: MosaicBuf): Array[Long] = b.v
    override def bufferEncoder: Encoder[MosaicBuf] = Encoders.product[MosaicBuf]
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Pages with tile cell + in-tile pixel coordinates (integer math shared
    * with the oracle: pixel = (coord - lo) * W div extent). */
  def pixelized(spark: SparkSession, sfDir: String): DataFrame =
    pixelizedOn(spark, Pages.fromDocuments(spark, sfDir))

  /** Pixelize any pages-shaped frame (bench path). Integer arithmetic only —
    * this runs per page row, so it must stay inside whole-stage codegen and
    * do no double division or floor: the tile is [[Pages.cellAxis]] per
    * axis, the tile bounds are the ceil-divs of `CellIndex.boundary` (a
    * shift: 2^L is a power of two), and the in-tile pixel is
    * `(g - lo) * W div (hi - lo)` with g the offset coordinate. g - lo is
    * never negative (the tile is the exact floor), so `div` equals the
    * oracle's floor. When the grid divides evenly the tile extent is a
    * plan-time CONSTANT (divisions by constants codegen far cheaper than by
    * a per-row column). */
  def pixelizedOn(spark: SparkSession, pages: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val p = 1 << TileLevel
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    def axis(coord: String, dim: Int, n: Int): (Column, Column) = {
      val c = Pages.cellAxis(col(coord), dim, TileLevel)
      val g = col(coord) + dim / 2
      val pix =
        if (dim % p == 0) div((g - c * (dim / p)) * n, lit(dim / p))
        else {
          def lo(k: Column) = shiftright(k * dim + (p - 1), TileLevel)
          div((g - lo(c)) * n, lo(c + 1) - lo(c))
        }
      (c, pix.cast("int"))
    }
    val (cx, px) = axis("ilon", CellIndex.GridW, W)
    val (cy, py) = axis("ilat", CellIndex.GridH, H)
    pages.withColumn("tile", cy * p + cx)
      .withColumn("px", px)
      .withColumn("py", py)
      .withColumn("pxy", (col("py") * W + col("px")).cast("long"))
  }

  /** Sparse per-pixel counts: the codegen'd hot path. The grouping key is
    * ONE fused long (tile*W*H + pxy) — a single-column long key halves the
    * hash/compare cost per row vs a two-column composite and keeps the
    * partial-agg map as small as possible (it's per-core L2-resident; the
    * map size, not CPU, limits scaling on this leg). The key decodes with
    * integer `div`/`pmod` (k is non-negative). */
  def sparseCounts(spark: SparkSession, pages: DataFrame): DataFrame =
    pixelizedOn(spark, pages)
      .withColumn("k", col("tile") * (W * H) + col("pxy"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"))
      .select(call_function("div", col("k"), lit(W * H)).as("tile"),
        pmod(col("k"), lit(W * H)).as("pxy"), col("n"))

  /** Long-form rasterize (tile, px, py, n). */
  def rasterizeLong(spark: SparkSession, sfDir: String): DataFrame =
    rasterizeLongOn(spark, Pages.fromDocuments(spark, sfDir))

  def rasterizeLongOn(spark: SparkSession, pages: DataFrame): DataFrame =
    sparseCounts(spark, pages)
      .select(col("tile"), (col("pxy") % W).cast("int").as("px"),
        (col("pxy") / W).cast("int").as("py"), col("n"))
      .orderBy(col("tile"), col("py"), col("px"))

  /** Mosaic: two synthetic crawl snapshots (doc_id parity), rasterized
    * separately, merged with newest-snapshot-wins per pixel. Long form. */
  def mosaicLong(spark: SparkSession, sfDir: String): DataFrame = {
    val raster = udaf(new RasterAgg, Encoders.product[SparsePix])
    val mosaic = udaf(new MosaicAgg, Encoders.product[TileGrid])
    val pix = pixelized(spark, sfDir)
      .withColumn("snap", (col("doc_id") % 2).cast("int"))
    pix
      // codegen'd hash agg per pixel first; ts rides along as max
      .groupBy(col("tile"), col("snap"), col("pxy"))
      .agg(count(lit(1)).as("n"), max(col("ts_sec")).as("pts"))
      // densify per snapshot grid (input now <= W*H rows per group)
      .groupBy(col("tile"), col("snap"))
      .agg(raster(col("pxy"), col("n")).as("cells"), max(col("pts")).as("ts"))
      .groupBy(col("tile"))
      .agg(mosaic(col("ts"), col("cells")).as("grid"))
      .select(col("tile"), posexplode(col("grid")))
      .filter(col("col") > 0)
      .select(col("tile"), (col("pos") % W).cast("int").as("px"),
        (col("pos") / W).cast("int").as("py"), col("col").as("n"))
      .orderBy(col("tile"), col("py"), col("px"))
  }

  /** Band math (the gips products analog — NDVI-style per-pixel arithmetic
    * between two co-registered bands): band 1 = all pages, band 2 = English
    * pages, output = per-pixel density ratio in permille. ONE conditional
    * aggregation pass builds both bands (no self-join of two rasters), so
    * the shuffle carries one row per non-empty pixel. */
  def bandMathLong(spark: SparkSession, sfDir: String): DataFrame =
    pixelized(spark, sfDir)
      .groupBy(col("tile"), col("pxy"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .withColumn("ratio_m", floor(col("n_en") * 1000 / col("n_all")).cast("long"))
      .select(col("tile"), (col("pxy") % W).cast("int").as("px"),
        (col("pxy") / W).cast("int").as("py"), col("n_all"), col("n_en"), col("ratio_m"))
      .orderBy(col("tile"), col("py"), col("px"))

  /** Pyramid / overview build (gips tile-pyramid analog): the level-4
    * raster downsampled one level — 2x2 child tiles collapse into one
    * parent tile at the same W x H resolution (each parent pixel sums a
    * 2x2 child-pixel block). Built FROM the sparse raster, not raw pages:
    * the input is already <= W*H rows per tile, so overview levels cost a
    * fraction of the base rasterization no matter the corpus size. */
  def pyramidLong(spark: SparkSession, sfDir: String): DataFrame =
    pyramidLongOn(spark, Pages.fromDocuments(spark, sfDir))

  def pyramidLongOn(spark: SparkSession, pages: DataFrame): DataFrame = {
    val p = 1 << TileLevel
    val cx = col("tile") % p
    val cy = floor(col("tile") / p).cast("long")
    val px = (col("pxy") % W).cast("int")
    val py = (col("pxy") / W).cast("int")
    sparseCounts(spark, pages)
      .select(
        (floor(cy / 2).cast("long") * (p / 2) + floor(cx / 2).cast("long")).as("ptile"),
        floor(((cx % 2).cast("int") * W + px) / 2).cast("int").as("px"),
        floor(((cy % 2).cast("int") * H + py) / 2).cast("int").as("py"),
        col("n"))
      .groupBy(col("ptile"), col("px"), col("py"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("ptile"), col("py"), col("px"))
  }

  /** Zonal stats over rasters (gips_stats analog): per tile, pixel-count
    * distribution summary — exercises the raster -> stats path. */
  def tileStats(spark: SparkSession, sfDir: String): DataFrame =
    rasterizeLong(spark, sfDir)
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_pixels"), sum(col("n")).as("n_pages"),
        max(col("n")).as("max_pixel"), min(col("n")).as("min_pixel"))
      .orderBy(col("tile"))

  // ---- oracle twins -------------------------------------------------------
  // Boundary arithmetic at level 4 over the row-major surrogate:
  //   cx = tile % 16, cy = tile // 16
  //   xlo(cx) = cx * 225            (3600/16 integer)
  //   ylo(cy) = ceil(cy * 1800/16)  = (cy * 1800 + 15) // 16
  // px = (X - xlo) * 16 // (xlo(cx+1) - xlo), X = ilon + 1800 (same for y).

  /** `extraCols` rides extra page columns into the pix CTE (e.g. ", lang"
    * for the band-math twin) — parameterized rather than string-patched so
    * a reworded select list can't silently drop the column. */
  private def pixelCteWith(extraCols: String): String = {
    val cell4 = Pages.sqlCell("p.ilat", "p.ilon", 4)
    s"px AS (SELECT p.*, $cell4 AS tile, " +
      s"CAST($cell4 % 16 AS BIGINT) AS cx, CAST($cell4 // 16 AS BIGINT) AS cy, " +
      "p.ilon + 1800 AS gx, p.ilat + 900 AS gy FROM pages p), " +
      "pb AS (SELECT *, cx * 225 AS xlo, (cx + 1) * 225 AS xhi, " +
      "CAST(floor((cy * 1800 + 15) / 16.0) AS BIGINT) AS ylo, " +
      "CAST(floor(((cy + 1) * 1800 + 15) / 16.0) AS BIGINT) AS yhi FROM px), " +
      s"pix AS (SELECT tile, doc_id, ts_sec$extraCols, " +
      "CAST(floor((gx - xlo) * 16.0 / (xhi - xlo)) AS INT) AS px, " +
      "CAST(floor((gy - ylo) * 16.0 / (yhi - ylo)) AS INT) AS py FROM pb)"
  }
  private val pixelCte: String = pixelCteWith("")
  private val pixelCteLang: String = pixelCteWith(", lang")

  val oracle: Map[String, String] = Map(
    "q34_rasterize" ->
      (s"WITH pages AS (${Pages.oracleCte}), $pixelCte " +
        "SELECT tile, px, py, count(*) AS n FROM pix GROUP BY tile, px, py " +
        "ORDER BY tile, py, px"),
    "q35_mosaic" ->
      (s"WITH pages AS (${Pages.oracleCte}), $pixelCte, " +
        "s AS (SELECT tile, px, py, doc_id % 2 AS snap, count(*) AS n FROM pix GROUP BY tile, px, py, snap), " +
        "st AS (SELECT tile, doc_id % 2 AS snap, max(ts_sec) AS ts FROM pix GROUP BY tile, doc_id % 2), " +
        "m AS (SELECT s.tile, s.px, s.py, arg_max(s.n, st.ts) AS n FROM s JOIN st " +
        "ON s.tile = st.tile AND s.snap = st.snap GROUP BY s.tile, s.px, s.py) " +
        "SELECT tile, px, py, CAST(n AS BIGINT) AS n FROM m ORDER BY tile, py, px"),
    "q36_tile_stats" ->
      (s"WITH pages AS (${Pages.oracleCte}), $pixelCte, " +
        "r AS (SELECT tile, px, py, count(*) AS n FROM pix GROUP BY tile, px, py) " +
        "SELECT tile, count(*) AS n_pixels, CAST(sum(n) AS BIGINT) AS n_pages, " +
        "max(n) AS max_pixel, min(n) AS min_pixel FROM r GROUP BY tile ORDER BY tile"),
    "q52_band_math" ->
      (s"WITH pages AS (${Pages.oracleCte}), $pixelCteLang, " +
        "b AS (SELECT tile, px, py, count(*) AS n_all, " +
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en " +
        "FROM pix GROUP BY tile, px, py) " +
        "SELECT tile, px, py, n_all, n_en, CAST(floor(1000.0 * n_en / n_all) AS BIGINT) AS ratio_m " +
        "FROM b ORDER BY tile, py, px"),
    "q53_pyramid" ->
      (s"WITH pages AS (${Pages.oracleCte}), $pixelCte, " +
        "r AS (SELECT tile, px, py, count(*) AS n FROM pix GROUP BY tile, px, py), " +
        "u AS (SELECT CAST((tile // 16) // 2 AS BIGINT) * 8 + (tile % 16) // 2 AS ptile, " +
        "CAST(((tile % 16) % 2 * 16 + px) // 2 AS INT) AS px, " +
        "CAST(((tile // 16) % 2 * 16 + py) // 2 AS INT) AS py, n FROM r) " +
        "SELECT ptile, px, py, CAST(sum(n) AS BIGINT) AS n FROM u " +
        "GROUP BY ptile, px, py ORDER BY ptile, py, px"),
  )
}
