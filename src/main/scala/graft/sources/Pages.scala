package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Common-Crawl-style pages table (BASELINE.json:input_hint shape:
  * url, warc_ts, html binary, text, lang — plus the engine's derived
  * deterministic geotag columns).
  *
  * Two constructors:
  *  - `fromDocuments`: derives pages 1:1 from the driver's `documents`
  *    parquet with pure integer/string arithmetic, so the DuckDB oracle
  *    reproduces identical rows from the same parquet (FIXTURES.md §2-3).
  *  - `synthetic(n)`: scale-free counter-based generator over
  *    `spark.range(n)` — same arithmetic at any n, used for the bench's
  *    large pages table. No RNG state: row i is a pure function of i, so
  *    the table is identical at any partitioning/parallelism.
  *
  * Geotag is integer deci-degrees (FIXTURES.md §3): prime-stride moduli,
  * with every 10th row collapsed onto one hot cell (405, -740) to plant
  * real skew for the salted join path.
  */
/** Typed row of the pages table (input_hint shape + derived geotag). */
final case class Page(
    doc_id: Long, url: String, warc_ts: java.sql.Timestamp, ts_sec: Long,
    html: Array[Byte], text: String, lang: String, source: String,
    n_chars: Long, ilat: Int, ilon: Int)

object Pages {
  /** 2024-01-01T00:00:00Z */
  final val Epoch = 1704067200L

  /** Typed Dataset boundary (SURVEY.md §1.3: case-class schemas at API
    * boundaries, DataFrame inside relational pipelines). */
  def typed(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[Page] = {
    import spark.implicits._
    fromDocuments(spark, sfDir).as[Page]
  }

  /** SQL (DuckDB) expression fragments — the oracle-side twins. Kept next
    * to the Column definitions below so they can't drift apart. */
  val sqlIlat = "CASE WHEN doc_id % 10 = 0 THEN 405 ELSE ((doc_id * 7919) % 1800) - 900 END"
  val sqlIlon = "CASE WHEN doc_id % 10 = 0 THEN -740 ELSE ((doc_id * 104729) % 3600) - 1800 END"
  val sqlTsSec = s"$Epoch + doc_id * 137"
  val sqlUrl = "concat('https://', source, '.example.com/doc/', CAST(doc_id AS VARCHAR))"

  /** The oracle's pages CTE body (runs on the driver-provided `documents`
    * view). Single line, ANSI, DuckDB-1.0-safe. */
  val oracleCte: String =
    s"SELECT doc_id, $sqlUrl AS url, $sqlTsSec AS ts_sec, text, lang, source, n_chars, " +
      s"$sqlIlat AS ilat, $sqlIlon AS ilon FROM documents"

  /** Column twin of Extract.escapeHtml — keeps the byte-identical
    * extraction invariant even if text contains &, < or > (order matters:
    * ampersand first). */
  private def escapeHtmlCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Inputs.documents(spark, sfDir)
    val docId = col("doc_id")
    d.select(
      docId,
      concat(lit("https://"), col("source"), lit(".example.com/doc/"), docId.cast("string")).as("url"),
      timestamp_seconds(docId * 137 + Epoch).as("warc_ts"),
      (docId * 137 + Epoch).as("ts_sec"),
      concat(
        lit("<html><head><title>d"), docId.cast("string"),
        lit("</title></head><body><p>"), escapeHtmlCol(col("text")),
        lit("</p></body></html>")).cast("binary").as("html"),
      col("text"), col("lang"), col("source"), col("n_chars"),
      when(docId % 10 === 0, 405)
        .otherwise((docId * 7919) % 1800 - 900).cast("int").as("ilat"),
      when(docId % 10 === 0, -740)
        .otherwise((docId * 104729) % 3600 - 1800).cast("int").as("ilon"))
  }

  private val vocab = Seq(
    "the", "a", "data", "page", "web", "crawl", "index", "tile", "cell", "join",
    "query", "spark", "scan", "text", "link", "host", "path", "lang", "word", "site",
    "map", "geo", "lat", "lon", "zone", "grid", "rank", "hash", "dedup", "token",
    "batch", "row")

  /** Standalone deterministic generator: row i is a pure function of i.
    * ~200-600 chars of text per row; same skew plant as fromDocuments. */
  def synthetic(spark: SparkSession, n: Long, parts: Int = 32): DataFrame = {
    val docId = col("id")
    val vocabArr = array(vocab.map(lit): _*)
    val nTok = (docId % 64 + 24).cast("int")
    val text = array_join(
      transform(sequence(lit(0), nTok - 1),
        k => element_at(vocabArr, ((docId * 31 + k * 7) % vocab.size + 1).cast("int"))),
      " ")
    val langs = array(lit("en"), lit("en"), lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"), lit("en"))
    spark.range(0, n, 1, parts)
      .select(
        docId.as("doc_id"),
        concat(lit("https://src"), (docId % 20).cast("string"),
          lit(".example.com/doc/"), docId.cast("string")).as("url"),
        timestamp_seconds(docId * 137 + Epoch).as("warc_ts"),
        (docId * 137 + Epoch).as("ts_sec"),
        text.as("text"),
        element_at(langs, (docId % 8 + 1).cast("int")).as("lang"),
        concat(lit("src"), (docId % 20).cast("string")).as("source"),
        when(docId % 10 === 0, 405)
          .otherwise((docId * 7919) % 1800 - 900).cast("int").as("ilat"),
        when(docId % 10 === 0, -740)
          .otherwise((docId * 104729) % 3600 - 1800).cast("int").as("ilon"))
      .withColumn("n_chars", length(col("text")))
      .withColumn("html", concat(
        lit("<html><head><title>d"), col("doc_id").cast("string"),
        lit("</title></head><body><p>"), escapeHtmlCol(col("text")),
        lit("</p></body></html>")).cast("binary"))
  }

  /** Cell index along one axis at `level` as a Column:
    * floor((x + extent/2) * 2^level / extent), `extent` =
    * [[graft.core.CellIndex.GridH]] for ilat, `GridW` for ilon — the ids of
    * `CellIndex.cyOf`/`cxOf`, in integer arithmetic only (no double
    * division, no floor call). Spark's `div` truncates toward zero, which
    * is floor only for a non-negative operand, so the operand is lifted by
    * `m` whole cells (m * extent > 2^31 * 2^level) and `m` is taken off
    * the quotient.
    *
    * Domain: ilat in [-900, 900], ilon in [-1800, 1800] (the upper edge maps
    * to 2^level, one past the last cell). Outside it the result is still
    * the exact floor for every int coordinate, so an out-of-range point
    * gets the floor formula's cell id, never a different one; NULL stays
    * NULL. */
  def cellAxis(x: Column, extent: Int, level: Int): Column = {
    require(level >= 0 && level <= graft.core.CellIndex.MaxLevel,
      s"level $level out of [0,${graft.core.CellIndex.MaxLevel}]")
    val m = (1L << (31 + level)) / extent + 1
    call_function("div", (x + extent / 2) * (1L << level) + m * extent, lit(extent)) - m
  }

  /** Row-major surrogate cell `cy * 2^L + cx` at `level` as a Column over the
    * 3600x1800 deci-degree grid, built from [[cellAxis]] (same domain).
    * Its oracle twin `sqlCell` keeps DuckDB's floor form, which is
    * identical for every int coordinate. */
  def cellCol(ilat: Column, ilon: Column, level: Int): Column =
    cellAxis(ilat, graft.core.CellIndex.GridH, level) * (1L << level) +
      cellAxis(ilon, graft.core.CellIndex.GridW, level)

  /** DuckDB twin of `cellCol`: the floor of a double division. */
  def sqlCell(ilatExpr: String, ilonExpr: String, level: Int): String = {
    val p = 1L << level
    s"(CAST(floor((($ilatExpr) + 900) * $p / 1800.0) AS BIGINT) * $p + " +
      s"CAST(floor((($ilonExpr) + 1800) * $p / 3600.0) AS BIGINT))"
  }
}
