package graft.tools

import org.apache.spark.sql.functions._

/** Microbench for the cell-expression codegen (verdict r3 #8):
  * `runMain graft.tools.CellCodegenBench [rows]` times a cell_id
  * projection and a cell_cover projection twice each — once with
  * generated code disabled (`spark.sql.codegen.factoryMode=NO_CODEGEN`,
  * which is what every row paid under CodegenFallback, minus the
  * fallback's extra boxing) and once with the default codegen path —
  * and prints the per-row gap. Median of 3 timed passes after a
  * warm-up pass, same input both modes. The session is
  * `GraftSession.build`: local[`SPARK_GRAFT_CPUS`] (default 4). */
object CellCodegenBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = graft.util.GraftSession.build("graft-cell-codegen-bench")
    graft.functions.GraftFunctions.register(spark)

    def cellIdScan() = spark.range(rows)
      .select(
        (col("id") % 1800 - 900).cast("int").as("ilat"),
        (col("id") % 3600 - 1800).cast("int").as("ilon"))
      .selectExpr("cell_id(ilat, ilon, 12) % 1000003 AS c") // mod keeps the ANSI sum in range
      .agg(sum(col("c"))).head()

    // WKT built per row (string concat is codegen'd in both modes, so the
    // delta isolates the cell_cover call); ~1/8 of cell_id's rows — JTS
    // dominates per-row cost
    def coverScan() = spark.range(rows / 8)
      .selectExpr("CAST(id % 1000 AS INT) AS o")
      .selectExpr(
        "concat('POLYGON ((', o, ' ', o, ', ', o, ' ', o + 50, ', ', o + 50, ' ', o + 50, ', ', o + 50, ' ', o, ', ', o, ' ', o, '))') AS wkt")
      .selectExpr("cell_cover(wkt, 8) AS c")
      .agg(sum(size(col("c")))).head()

    def median3(f: () => Any): Double = {
      f() // warm-up
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }

    for ((name, f) <- Seq("cell_id" -> (() => cellIdScan()), "cell_cover" -> (() => coverScan()))) {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = median3(f)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      val gen = median3(f)
      println(f"CELLBENCH $name interpreted=$interp%.2f s codegen=$gen%.2f s speedup=${interp / gen}%.2fx")
    }
    spark.stop()
  }
}
