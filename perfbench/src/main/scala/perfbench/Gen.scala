package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.IngestJob
import graft.sources.{Footprints, Pages}

/** Seeded, counter-based pages generator with the `graft.sources.Page`
  * schema. Row i is a pure function of i and the parameters, so a frame is
  * identical at any partitioning, and every count the checks need has a
  * closed form over one period of the coordinate arithmetic.
  *
  *  - ilat = (i*a + b) mod 1800 - 900, ilon = (i*c + d) mod 3600 - 1800;
  *  - row i is "hot" iff (i*hotStride) mod 1000 < hotPermille; hot rows all
  *    sit on one point inside footprint 0, the skew plant;
  *  - ts_sec = Epoch + i*tsStep;
  *  - text is 24..87 tokens; rows whose level-2 bucket is in `edited` get
  *    one extra token, which changes the bucket's ingest fingerprint.
  */
final case class GenParams(n: Long, parts: Int, a: Long, b: Long, c: Long, d: Long,
    hotPermille: Int, hotStride: Long, hotLat: Int, hotLon: Int, tsStep: Long,
    tokShift: Int) {

  /** Period of every coordinate formula: lcm(1800, 3600, 1000). */
  val period = 18000

  def point(i: Long): (Int, Int) =
    if ((i * hotStride) % 1000 < hotPermille) (hotLat, hotLon)
    else ((((i * a + b) % 1800) - 900).toInt, (((i * c + d) % 3600) - 1800).toInt)

  /** Number of ids in [0, n) congruent to r modulo the period. */
  def residueCount(r: Int): Long = n / period + (if (r < n % period) 1 else 0)

  /** Closed-form join result: pages inside each footprint box, by fp_id
    * (validity windows widened, as the timeless join variants do). */
  lazy val footprintCounts: Map[Int, Long] = {
    val acc = new Array[Long](Footprints.boxes.map(_.fpId).max + 1)
    var r = 0
    while (r < period) {
      val (lat, lon) = point(r)
      val k = residueCount(r)
      Footprints.boxes.foreach { bx =>
        if (bx.ilat0 <= lat && lat <= bx.ilat1 && bx.ilon0 <= lon && lon <= bx.ilon1)
          acc(bx.fpId) += k
      }
      r += 1
    }
    Footprints.boxes.map(bx => bx.fpId -> acc(bx.fpId)).filter(_._2 > 0).toMap
  }

  /** Share of pages on the hot point. */
  def hotShare: Double = hotPermille / 1000.0
}

object Gen {
  private val latPrimes = Seq(7919L, 7927L, 7933L, 7937L, 7949L, 7951L, 7963L, 7993L)
  private val lonPrimes = Seq(104729L, 104723L, 104717L, 104711L, 104707L, 104693L)
  private val strides = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  /** Parameters drawn from the seed; `hotPermille` and `tsStep` are the
    * workload's own properties. */
  def params(seed: Long, salt: Int, n: Long, parts: Int, hotPermille: Int,
      tsStep: Long): GenParams = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    GenParams(n, parts, pick(latPrimes), rnd.nextInt(1800).toLong, pick(lonPrimes),
      rnd.nextInt(3600).toLong, hotPermille, pick(strides),
      400 + rnd.nextInt(10), -749 + rnd.nextInt(10), tsStep, rnd.nextInt(32))
  }

  private val vocab = Seq(
    "the", "a", "data", "page", "web", "crawl", "index", "tile", "cell", "join",
    "query", "spark", "scan", "text", "link", "host", "path", "lang", "word", "site",
    "map", "geo", "lat", "lon", "zone", "grid", "rank", "hash", "dedup", "token",
    "batch", "row")

  def pCell(ilat: Column, ilon: Column): Column =
    Pages.cellCol(ilat, ilon, IngestJob.PCellLevel)

  /** The pages frame (Page schema). */
  def pages(spark: SparkSession, g: GenParams, edited: Set[Long] = Set.empty): DataFrame = {
    val id = col("id")
    val hot = (id * g.hotStride) % 1000 < g.hotPermille
    val ilat = when(hot, g.hotLat).otherwise((id * g.a + g.b) % 1800 - 900).cast("int")
    val ilon = when(hot, g.hotLon).otherwise((id * g.c + g.d) % 3600 - 1800).cast("int")
    val vocabArr = array(vocab.map(lit): _*)
    val nTok = (id % 64 + 24).cast("int")
    val text = array_join(
      transform(sequence(lit(0), nTok - 1),
        k => element_at(vocabArr, ((id * 31 + k * 7 + g.tokShift) % vocab.size + 1).cast("int"))),
      " ")
    val langs = array(Seq("en", "en", "en", "de", "fr", "es", "zh", "en").map(lit): _*)
    val tsSec = id * g.tsStep + Pages.Epoch
    val base = spark.range(0, g.n, 1, g.parts)
      .select(id.as("doc_id"), ilat.as("ilat"), ilon.as("ilon"), tsSec.as("ts_sec"),
        element_at(langs, (id % 8 + 1).cast("int")).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"), text.as("text"))
    val withEdits =
      if (edited.isEmpty) base
      else base.withColumn("text", when(pCell(col("ilat"), col("ilon")).isin(edited.toSeq: _*),
        concat(col("text"), lit(" edit"))).otherwise(col("text")))
    withEdits
      .select(
        col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id").cast("string")).as("url"),
        timestamp_seconds(col("ts_sec")).as("warc_ts"),
        col("ts_sec"),
        concat(lit("<html><head><title>d"), col("doc_id").cast("string"),
          lit("</title></head><body><p>"), col("text"), lit("</p></body></html>"))
          .cast("binary").as("html"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("ilat"), col("ilon"))
  }

  /** The pages frame with the ingest partition columns `p_cell`, `p_date`. */
  def partitioned(spark: SparkSession, g: GenParams, edited: Set[Long] = Set.empty): DataFrame =
    pages(spark, g, edited)
      .withColumn("p_cell", pCell(col("ilat"), col("ilon")))
      .withColumn("p_date", date_format(col("warc_ts"), "yyyy-MM-dd"))
}
