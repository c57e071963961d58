package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.jobs.IngestJob
import graft.operators.{GeoQueries, Tiling}
import graft.sources.SnapshotTable
import graft.util.CacheBag

/** What one run shares across its workload: the session, the tracer, the
  * seed, and the operation counts behind `attempted`/`failed`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val cpus: Int,
    val workDir: Path) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  var peakStorageBytes = 0L
  /** Seconds spent in `CacheBag.release()` in the current cycle. */
  var releaseS = 0.0

  def fail(op: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$op: $why"
    System.err.println(s"[perfbench] FAILED $op: $why")
  }

  /** One checked call: timed in a span named `name`, then verified; a
    * throw or a non-empty list of mismatches counts as a failed op. The
    * operators' registered caches are released after every call. */
  def op[T](name: String)(call: => T)(verify: T => Seq[String]): Option[(Double, T)] = {
    attempted += 1
    val res = try Right(tracer.span(name)(call)) catch { case NonFatal(t) => Left(t.toString) }
    if (tracer.on) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      peakStorageBytes = math.max(peakStorageBytes, used)
    }
    releaseS += tracer.span("util.cache_release")(CacheBag.release())._1
    res match {
      case Left(err) => fail(name, err); None
      case Right((s, r)) =>
        val bad = try verify(r) catch { case NonFatal(t) => Seq(s"check threw $t") }
        bad.foreach(fail(name, _))
        if (bad.isEmpty) Some((s, r)) else None
    }
  }

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}

/** Per-cycle samples, each tagged with whether the cycle was traced. */
final class Samples {
  private val xs = ArrayBuffer[(Boolean, Double)]()
  def add(traced: Boolean, v: Double): Unit = xs += (traced -> v)
  def clear(): Unit = xs.clear()
  def plain: Seq[Double] = xs.collect { case (false, v) => v }.toSeq
  def traced: Seq[Double] = xs.collect { case (true, v) => v }.toSeq
  /** Untraced samples, or traced ones if the run had none. */
  def best: Seq[Double] = if (plain.nonEmpty) plain else traced
  def median: Double = Stats.median(best)
}

/** A workload: input generated from the seed in `prepare`, then a closed
  * loop of `cycle`s, one client, each call waiting for the previous. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def traced: Boolean = ctx.tracer.on
  def rnd(salt: Int) = new java.util.Random(ctx.seed * 7919L + salt)
  val inputGenS = new Samples
  private val cycleSamples = ArrayBuffer[Samples]()

  /** Samples that cycles fill; a warm-up cycle's are discarded. */
  protected def samples(): Samples = { val s = new Samples; cycleSamples += s; s }
  def discardSamples(): Unit = cycleSamples.foreach(_.clear())

  /** Input generation and reference results; repeatable. */
  def prepare(): Unit
  def cycle(k: Int): Unit
  /** Input rows per second of the workload's primary calls. */
  def rowsPerS: Samples
  /** Output rows / input rows of the workload's main call. */
  def outputRatio: Double
  /** Workload properties derived from the seed, and sizes. */
  def properties: Map[String, Any]
  /** The workload's own end-to-end figures, by the names the docs use. */
  def details: Map[String, Any]
  /** Per-layer values only this workload measures (others report 0). */
  def layers: Map[String, Double] = Map.empty

  /** Compute every listed column of every row (the input generation cost
    * alone), plus any `extra` aggregates, which it returns. */
  protected def materialise(df: DataFrame, cols: Seq[String],
      extra: Column*): org.apache.spark.sql.Row = {
    val (s, r) = ctx.tracer.span("bench.input_gen") {
      df.agg(bit_xor(xxhash64(cols.map(col): _*)), extra: _*).head()
    }
    inputGenS.add(traced, s)
    r
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pip_tile" => new PipTile(ctx, 24000000L)
    case "skew_join" => new SkewJoin(ctx, 1500000L)
    case "table_ingest" => new TableIngest(ctx, 60000L)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Broadcast PIP join, then tile rasterization, over one pages frame. */
final class PipTile(ctx: Ctx, n: Long) extends Workload(ctx) {
  private val g = Gen.params(ctx.seed, 1, n, ctx.cpus * 16, hotPermille = 100, tsStep = 137)
  private val pages = Gen.pages(spark, g)
  private lazy val joinRows = g.footprintCounts.values.sum
  private var tileRows = -1L
  val rowsPerS = samples()
  private val tilesJoinRowsPerS = samples()
  private val joinS = samples()
  private val tileS = samples()

  def prepare(): Unit = {
    materialise(pages, Seq("doc_id", "ts_sec", "ilat", "ilon"))
    require(joinRows > 0, "generator places no page in any footprint")
  }

  def cycle(k: Int): Unit = {
    val j = ctx.op("operators.pip_join")(GeoQueries.pipJoinTimelessOn(spark, pages).count())(
      c => ctx.expect("join rows vs closed form", c, joinRows))
    val t = ctx.op("operators.rasterize") {
      val r = Tiling.rasterizeLongOn(spark, pages).agg(count(lit(1)), sum(col("n"))).head()
      (r.getLong(0), r.getLong(1))
    } { case (tiles, pixSum) =>
      ctx.expect("raster count sum vs input rows", pixSum, n) ++
        (if (tileRows >= 0) ctx.expect("raster rows vs first cycle", tiles, tileRows) else Nil)
    }
    t.foreach { case (_, (tiles, _)) => tileRows = tiles }
    for ((js, _) <- j; (ts, _) <- t) {
      joinS.add(traced, js)
      tileS.add(traced, ts)
      rowsPerS.add(traced, n / (js + ts))
      tilesJoinRowsPerS.add(traced, (joinRows + tileRows) / (js + ts))
    }
  }

  def outputRatio: Double = joinRows.toDouble / n
  def properties: Map[String, Any] = Map("pages" -> n, "hot_share" -> g.hotShare,
    "join_rows" -> joinRows, "tile_rows" -> tileRows, "gen" -> g.toString)
  def details: Map[String, Any] = Map(
    "pages_per_s" -> rowsPerS.median, "tiles_join_rows_per_s" -> tilesJoinRowsPerS.median,
    "pip_join_s" -> joinS.median, "rasterize_s" -> tileS.median)
}

/** Partitioned and salted PIP joins over a frame with one hot cell. */
final class SkewJoin(ctx: Ctx, n: Long) extends Workload(ctx) {
  private val hotPermille = 280 + rnd(2).nextInt(41)
  private val g = Gen.params(ctx.seed, 2, n, ctx.cpus * 8, hotPermille, tsStep = 137)
  private val pages = Gen.pages(spark, g)
  private lazy val want = g.footprintCounts
  val rowsPerS = samples()
  private val partS = samples()
  private val saltS = samples()

  private def perFp(df: DataFrame): Map[Int, Long] =
    df.select("fp_id", "n_pages").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def prepare(): Unit = {
    materialise(pages, Seq("doc_id", "ts_sec", "ilat", "ilon", "source", "lang"))
    ctx.op("operators.broadcast_join")(GeoQueries.pipJoinTimelessOn(spark, pages).count())(
      c => ctx.expect("broadcast join rows vs closed form", c, want.values.sum))
  }

  def cycle(k: Int): Unit = {
    val p = ctx.op("operators.partitioned_join")(
      perFp(GeoQueries.partitionedPipOn(spark, pages, widenTime = true)))(
      m => ctx.expect("partitioned per-footprint counts vs closed form", m, want))
    val s = ctx.op("operators.salted_join")(
      perFp(GeoQueries.saltedPipJoinOn(spark, pages, widenTime = true)))(
      m => ctx.expect("salted per-footprint counts vs closed form", m, want) ++
        p.toSeq.flatMap(pm => ctx.expect("salted vs partitioned", m, pm._2)))
    for ((ps, _) <- p; (ss, _) <- s) {
      partS.add(traced, ps)
      saltS.add(traced, ss)
      rowsPerS.add(traced, 2.0 * n / (ps + ss))
    }
  }

  def outputRatio: Double = want.values.sum.toDouble / n
  def properties: Map[String, Any] = Map("pages" -> n, "hot_share" -> g.hotShare,
    "join_rows" -> want.values.sum, "gen" -> g.toString)
  def details: Map[String, Any] = Map("skew_join_pages_per_s" -> rowsPerS.median,
    "partitioned_join_s" -> partS.median, "salted_join_s" -> saltS.median)
}

/** Ingest into a fresh snapshot table, re-ingest with a quarter of the
  * buckets changed, then stats-pruned band scans. */
final class TableIngest(ctx: Ctx, n: Long) extends Workload(ctx) {
  private val Dates = 4
  private val ScansPerCycle = 5
  private val g = Gen.params(ctx.seed, 3, n, ctx.cpus, hotPermille = 100,
    tsStep = math.max(1L, Dates * 86400L / n))
  /** Level-2 buckets that hold rows, from one period of the generator. */
  private val buckets: Seq[Long] = (0 until g.period).map { r =>
    val (lat, lon) = g.point(r)
    ((lat + 900) * 4 / 1800 * 4 + (lon + 1800) * 4 / 3600).toLong
  }.distinct.sorted
  private val edited: Set[Long] = {
    new scala.util.Random(rnd(3)).shuffle(buckets).take(buckets.size / 4).toSet
  }
  private val first = Gen.partitioned(spark, g)
  private val second = Gen.partitioned(spark, g, edited)
  private val scanRnd = rnd(4)
  private var latCounts: Map[Int, Long] = Map.empty
  private var secondSums: (Long, Long, Long) = (0L, 0L, 0L)
  private var inputBytes = 0L
  private var fullReadRows = 0L

  val rowsPerS = samples()
  private val reingestS = samples()
  private val scanS = samples()
  private val resolveMs = samples()
  private val partsReadRatio = samples()
  private val tableBytesPerInput = samples()
  private val writes = Map(
    "metadata_files_written" -> samples(), "metadata_bytes_written" -> samples(),
    "data_bytes_written" -> samples())
  private var rewritten = 0L
  private var skipped = 0L

  private def sums(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def prepare(): Unit = {
    // the generated rows are held in memory, so the calls time the
    // program's work and not the generator's; each prepare generates anew
    Seq(first, second).foreach { df =>
      df.unpersist(blocking = true)
      df.persist(StorageLevel.MEMORY_ONLY)
    }
    // bytes of the generated rows: strings and binary by length, 8 per
    // long or timestamp, 4 per int
    inputBytes = materialise(first, first.columns.toIndexedSeq,
      sum((octet_length(col("url")) + octet_length(col("html")) + octet_length(col("text")) +
        octet_length(col("lang")) + octet_length(col("source")) + octet_length(col("p_date")) +
        lit(8 * 5 + 4 * 2)).cast("long"))).getLong(1)
    latCounts = first.groupBy("ilat").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    secondSums = sums(second)
  }

  private def scan(root: String, lo: Int, hi: Int): (Long, Int, Int, Double) = {
    val (resolve, (df, read, total)) = ctx.tracer.span("sources.snapshot_resolve")(
      SnapshotTable.read(spark, root, SnapshotTable.Pruning(minIlat = Some(lo), maxIlat = Some(hi))))
    (df.filter(col("ilat").between(lo, hi)).count(), read, total, resolve)
  }

  /** (metadata files, metadata bytes, data bytes) under a table root. */
  private def onDisk(root: Path): (Long, Long, Long) = {
    if (!Files.exists(root)) return (0L, 0L, 0L)
    val w = Files.walk(root)
    try {
      val files = w.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val (data, meta) = files.partition(p => root.relativize(p).toString.startsWith("data"))
      (meta.size.toLong, meta.map(Files.size).sum, data.map(Files.size).sum)
    } finally w.close()
  }

  /** On-disk growth of the current cycle's commits (as `onDisk`). */
  private var written = (0L, 0L, 0L)

  private def ingest(name: String, root: Path, frame: DataFrame, rewrite: Int, skip: Int) = {
    val before = onDisk(root)
    val r = ctx.op(name)(IngestJob.runPages(spark, frame, root.toString, "bench")) { rep =>
      ctx.expect("buckets rewritten", rep.partitionsWritten, rewrite) ++
        ctx.expect("buckets skipped", rep.partitionsSkipped, skip) ++
        ctx.expect("rows", rep.rows, n)
    }
    val after = onDisk(root)
    written = (written._1 + after._1 - before._1, written._2 + after._2 - before._2,
      written._3 + after._3 - before._3)
    r
  }

  def cycle(k: Int): Unit = {
    val root = ctx.workDir.resolve(s"tables/c$k")
    written = (0L, 0L, 0L)
    ingest("jobs.ingest", root, first, buckets.size, 0).foreach { case (s, _) =>
      rowsPerS.add(traced, n / s)
      tableBytesPerInput.add(traced, (onDisk(root) match { case (_, m, d) => m + d }).toDouble / inputBytes)
    }
    ingest("jobs.reingest", root, second, edited.size, buckets.size - edited.size)
      .foreach { case (s, rep) =>
        reingestS.add(traced, s)
        rewritten = rep.partitionsWritten
        skipped = rep.partitionsSkipped
      }
    writes("metadata_files_written").add(traced, written._1.toDouble)
    writes("metadata_bytes_written").add(traced, written._2.toDouble)
    writes("data_bytes_written").add(traced, written._3.toDouble)
    ctx.op("sources.full_read")(sums(SnapshotTable.read(spark, root.toString)._1))(
      got => ctx.expect("full read (rows, sum doc_id, sum n_chars)", got, secondSums))
      .foreach { case (_, (rows, _, _)) => fullReadRows = rows }
    (1 to ScansPerCycle).foreach { _ =>
      val row = scanRnd.nextInt(4)
      val lo = -900 + row * 450 + scanRnd.nextInt(350)
      val hi = lo + 99
      val want = (lo to hi).map(latCounts.getOrElse(_, 0L)).sum
      ctx.op("sources.scan")(scan(root.toString, lo, hi))(r => ctx.expect(s"scan [$lo,$hi] rows", r._1, want))
        .foreach { case (s, (_, read, total, resolve)) =>
          scanS.add(traced, s)
          resolveMs.add(traced, resolve * 1000)
          partsReadRatio.add(traced, read.toDouble / total)
        }
    }
    SnapshotTable.recursiveDelete(root)
  }

  def outputRatio: Double = fullReadRows.toDouble / n
  def properties: Map[String, Any] = Map("rows" -> n, "buckets" -> buckets.size,
    "edited_buckets" -> edited.toSeq.sorted, "dates" -> Dates, "input_bytes" -> inputBytes,
    "gen" -> g.toString)
  def details: Map[String, Any] = {
    val (p, tail) = Stats.tail(scanS.best)
    Map("ingest_rows_per_s" -> rowsPerS.median, "reingest_s" -> reingestS.median,
      "scan_p50_s" -> scanS.median, "scan_tail_s" -> tail, "scan_tail_percentile" -> p,
      "scan_count" -> scanS.best.size,
      "table_bytes_per_input_byte" -> tableBytesPerInput.median)
  }
  override def layers: Map[String, Double] = Map(
    "sources.parts_read_ratio" -> partsReadRatio.median,
    "sources.snapshot_resolve_ms" -> resolveMs.median,
    "jobs.buckets_rewritten" -> rewritten.toDouble,
    "jobs.buckets_skipped" -> skipped.toDouble) ++
    writes.map { case (k, v) => s"sources.$k" -> v.median }
}
