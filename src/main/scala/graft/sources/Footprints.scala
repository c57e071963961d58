package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Footprint fixtures — the engine's analog of GIPS site vectors / tile
  * footprints (SURVEY.md §1.2). Two sets:
  *
  *  - `boxes`: 16 axis-aligned deci-degree boxes with validity windows,
  *    hard-coded HERE as the single source of truth: the Spark DataFrame
  *    and the DuckDB `VALUES` clause are both generated from this Seq, so
  *    the oracle join inputs can never drift from the engine's.
  *  - `polys`: 6 non-convex WKT polygons (L-shape, ring-with-hole, sliver,
  *    triangle, notch, diamond) for the JTS cover/PIP paths — ScalaTest
  *    layer only (not SQL-expressible).
  *
  * Box semantics: a point (ilat, ilon) is inside iff
  * ilat0 <= ilat <= ilat1 AND ilon0 <= ilon <= ilon1 (inclusive integer
  * bounds), valid at time t iff tfrom <= t <= tto (epoch seconds).
  * [[inBox]] and [[contains]] are that rule as Spark predicates; every
  * footprint join refines with them.
  */
object Footprints {
  final case class Box(fpId: Int, ilat0: Int, ilon0: Int, ilat1: Int, ilon1: Int,
      tfrom: Long, tto: Long) {
    def wkt: String = {
      // half-open region in deci-degree units, same convention as cell polys
      val (x0, y0, x1, y1) = (ilon0, ilat0, ilon1 + 1, ilat1 + 1)
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    }
  }

  private val E = Pages.Epoch
  private val FAR = E + 2000000000L

  /** 16 boxes: quadrant spread, two overlapping (fp1/fp2 — mosaic priority),
    * one enclosing the hot cell (fp0 — skew), two slivers (fp6/fp7), and
    * four with narrow validity windows (fp10/fp11/fp12/fp15 — range join). */
  val boxes: Seq[Box] = Seq(
    Box(0, 400, -749, 409, -740, E, FAR), // hot-cell box
    Box(1, 0, 0, 299, 599, E, FAR),
    Box(2, 150, 300, 449, 899, E, FAR), // overlaps fp1
    Box(3, -900, -1800, -601, -1201, E, FAR), // SW corner
    Box(4, 600, 1200, 899, 1799, E, FAR), // NE corner
    Box(5, -300, -600, -1, -1, E, FAR),
    Box(6, 500, -1800, 549, 1799, E, FAR), // lat band, full lon
    Box(7, -899, 1000, 899, 1049, E, FAR), // lon band, full lat
    Box(8, 100, -1000, 119, -981, E, FAR), // small
    Box(9, -500, 500, -301, 899, E, FAR),
    Box(10, 700, -500, 799, -301, E, E + 30000),
    Box(11, -100, -100, 99, 99, E + 30000, E + 60000),
    Box(12, 300, 1500, 499, 1699, E + 10000, E + 50000),
    Box(13, -700, 100, -501, 399, E, FAR),
    Box(14, 820, -1700, 879, -1501, E, FAR),
    Box(15, -850, -300, -701, -101, E + 20000, E + 40000),
  )

  /** Inclusive box test of a row's (ilat, ilon) against its footprint's
    * (ilat0, ilon0, ilat1, ilon1). */
  def inBox: Column =
    col("ilat").between(col("ilat0"), col("ilat1")) &&
      col("ilon").between(col("ilon0"), col("ilon1"))

  /** Full containment: inside the box AND ts_sec inside [tfrom, tto]. */
  def contains: Column = inBox && col("ts_sec").between(col("tfrom"), col("tto"))

  /** Spark DataFrame of the boxes. Tiny (16 rows) — always broadcast. */
  def boxesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    boxes.map(b => (b.fpId, b.ilat0, b.ilon0, b.ilat1, b.ilon1, b.tfrom, b.tto))
      .toDF("fp_id", "ilat0", "ilon0", "ilat1", "ilon1", "tfrom", "tto")
  }

  /** Boxes + wkt column (for the JTS-refined join paths). */
  def boxesWktDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    boxes.map(b => (b.fpId, b.ilat0, b.ilon0, b.ilat1, b.ilon1, b.tfrom, b.tto, b.wkt))
      .toDF("fp_id", "ilat0", "ilon0", "ilat1", "ilon1", "tfrom", "tto", "wkt")
  }

  /** DuckDB twin: `(VALUES ...) AS <alias>(fp_id, ilat0, ilon0, ilat1,
    * ilon1, tfrom, tto)` — generated from the same Seq. */
  def sqlValuesAs(alias: String): String = boxes
    .map(b => s"(${b.fpId}, ${b.ilat0}, ${b.ilon0}, ${b.ilat1}, ${b.ilon1}, ${b.tfrom}, ${b.tto})")
    .mkString("(VALUES ", ", ", s") AS $alias(fp_id, ilat0, ilon0, ilat1, ilon1, tfrom, tto)")
  val sqlValues: String = sqlValuesAs("fp")

  /** Non-convex WKT polygons for the JTS-only paths (ScalaTest layer). */
  val polys: Seq[(Int, String)] = Seq(
    // L-shape
    100 -> "POLYGON ((0 0, 400 0, 400 100, 100 100, 100 300, 0 300, 0 0))",
    // ring with hole
    101 -> ("POLYGON ((-800 -500, -400 -500, -400 -100, -800 -100, -800 -500), " +
      "(-700 -400, -500 -400, -500 -200, -700 -200, -700 -400))"),
    // thin sliver
    102 -> "POLYGON ((1000 600, 1600 610, 1600 615, 1000 605, 1000 600))",
    // triangle
    103 -> "POLYGON ((-1500 200, -1100 200, -1300 600, -1500 200))",
    // notched box
    104 -> "POLYGON ((600 -900, 900 -900, 900 -600, 780 -600, 780 -750, 720 -750, 720 -600, 600 -600, 600 -900))",
    // diamond over the hot cell
    105 -> "POLYGON ((-745 355, -695 405, -745 455, -795 405, -745 355))",
  )
}
