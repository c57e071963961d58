package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Inputs

/** Multimodal column plumbing: image/audio/video carried as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The actual codec work is STUBBED (this container ships no image/audio
  * libraries): `FakeCodec` parses a deterministic synthetic header and
  * derives pseudo pixels from it. Everything around the stub — the schema,
  * the typed Dataset boundary, the mapPartitions batch shape (one codec
  * instance per partition, streamed iterator, no per-row setup), the
  * partitioning — is real, tested, and is exactly the plumbing a real
  * decoder would drop into.
  */
object MultiModal {

  /** media blob layout (synthetic): magic(4) | kind(1) | width(4) | height(4)
    * | nFrames(4) | payload(width*height bytes, counter-derived). */
  final val Magic = 0x47524654 // "GRFT"

  final case class MediaRow(media_id: Long, kind: String, media: Array[Byte],
      src_url: String)
  final case class DecodedRow(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, checksum: Long)
  final case class FrameRow(media_id: Long, n_frames: Int, frame_idx: Int,
      frame_checksum: Long)

  /** STUB CODEC — stands in for a real image/audio decoder. Deterministic:
    * output depends only on the blob bytes. */
  object FakeCodec {
    def encode(mediaId: Long, kind: String, w: Int, h: Int, nFrames: Int): Array[Byte] = {
      val payload = w * h
      val buf = ByteBuffer.allocate(17 + payload).order(ByteOrder.BIG_ENDIAN)
      buf.putInt(Magic)
      buf.put(kind.head.toByte)
      buf.putInt(w); buf.putInt(h); buf.putInt(nFrames)
      var i = 0
      while (i < payload) { buf.put(((mediaId * 31 + i * 7) % 251).toByte); i += 1 }
      buf.array()
    }

    def decode(blob: Array[Byte]): (Int, Int, Int, Long) = {
      require(blob.length >= 17, "truncated media blob")
      val buf = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
      require(buf.getInt() == Magic, "bad magic")
      buf.get() // kind tag
      val w = buf.getInt(); val h = buf.getInt(); val f = buf.getInt()
      var sum = 0L
      var i = 17
      while (i < blob.length) { sum = (sum * 131 + (blob(i) & 0xFF)) % 1000000007L; i += 1 }
      (w, h, f, sum)
    }

    /** "Resize": deterministic payload re-derivation at new dims (stub for
      * a real resampler; keeps the bytes a pure function of input). */
    def resize(blob: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
      val (_, _, f, sum) = decode(blob)
      val out = ByteBuffer.allocate(17 + w2 * h2).order(ByteOrder.BIG_ENDIAN)
      out.putInt(Magic); out.put(blob(4)); out.putInt(w2); out.putInt(h2); out.putInt(f)
      var i = 0
      while (i < w2 * h2) { out.put(((sum + i * 13) % 251).toByte); i += 1 }
      out.array()
    }
  }

  /** Deterministic synthetic media table derived from page ids: images,
    * audio, video in a 3-cycle with counter-based dims. */
  def mediaTable(spark: SparkSession, n: Long, parts: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map { id =>
      val kind = (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      val w = 8 + (id % 24).toInt
      val h = 8 + (id % 16).toInt
      val frames = if (kind == "video") 4 + (id % 12).toInt else 1
      MediaRow(id, kind, FakeCodec.encode(id, kind, w, h, frames),
        s"https://src${id % 20}.example.com/media/$id")
    }
  }

  final case class LenientRow(media_id: Long, kind: String, ok: Boolean,
      width: Int, height: Int, n_frames: Int, checksum: Long)

  /** Fixture with planted corruption: every 13th blob truncated to 8
    * bytes (fails the magic/length checks). */
  def mediaTableCorrupted(spark: SparkSession, n: Long, parts: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, n, parts).map { m =>
      if (m.media_id % 13 == 0) m.copy(media = m.media.take(8)) else m
    }
  }

  /** Lenient decode — the degrade-don't-abort contract (same philosophy
    * as malformed WKT → NULL): a corrupt blob yields an ok=false row with
    * zeroed metadata instead of killing a 10^12-row job; the aggregate
    * quarantines them. One codec per partition, streamed. */
  def decodeLenient(media: Dataset[MediaRow]): Dataset[LenientRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        try {
          val (w, h, f, sum) = FakeCodec.decode(m.media)
          LenientRow(m.media_id, m.kind, ok = true, w, h, f, sum)
        } catch {
          case _: IllegalArgumentException | _: java.nio.BufferUnderflowException =>
            LenientRow(m.media_id, m.kind, ok = false, 0, 0, 0, 0L)
        }
      }
    }
  }

  /** q85 — corrupt-media quarantine: decode the planted-corruption table
    * leniently, count ok vs quarantined per kind (oracle = arithmetic
    * corruption pattern). */
  def quarantineQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Inputs.documents(spark, sfDir).count()
    decodeLenient(mediaTableCorrupted(spark, n))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_corrupt"))
      .orderBy(col("kind"))
  }

  /** Decode stage: one codec per partition, iterator-streamed (the batch
    * shape a real decoder needs — no per-row init, bounded memory). */
  def decodeAll(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup site (real codecs allocate contexts here)
      it.map { m =>
        val (w, h, f, sum) = FakeCodec.decode(m.media)
        DecodedRow(m.media_id, m.kind, w, h, f, sum)
      }
    }
  }

  /** Frame sampling: every `step`-th frame of each video, exploded to rows
    * carrying the video's frame count (ONE decode per blob — the decode is
    * the dominant cost a real codec would have, so downstream consumers
    * must not need a second pass for the metadata). Frame checksums derive
    * deterministically from the blob checksum. */
  def sampleFrames(media: Dataset[MediaRow], step: Int = 3): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val (_, _, frames, sum) = FakeCodec.decode(m.media)
      (0 until frames by step).map(i =>
        FrameRow(m.media_id, frames, i, (sum * 31 + i) % 1000000007L))
    }
  }

  /** Resize stage + feature extraction: new dims halved (min 4), verify the
    * output parses, return (id, kind, old/new dims, new checksum). */
  def resizeAll(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h, _, _) = FakeCodec.decode(m.media)
        val blob2 = FakeCodec.resize(m.media, math.max(4, w / 2), math.max(4, h / 2))
        val (w2, h2, _, sum2) = FakeCodec.decode(blob2)
        (m.media_id, m.kind, w, h, w2, h2, sum2)
      }
    }.toDF("media_id", "kind", "w", "h", "w2", "h2", "checksum2")
  }

  /** Oracle-gated media inventory (q74): the synthetic media table sized to
    * the documents table, ENCODED to binary blobs, DECODED back through the
    * mapPartitions codec path, and aggregated on the decoded metadata. The
    * DuckDB twin recomputes the expected metadata arithmetically — so the
    * driver's hash compare gates the full encode->binary->decode round trip
    * (the multimodal pillar's only previously ST-only surface). Checksums
    * stay ST-gated (byte-rolling hash has no practical SQL twin). */
  def mediaInventoryQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Inputs.documents(spark, sfDir).count()
    decodeAll(mediaTable(spark, n))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_frames")).as("sum_frames"),
        min(col("width")).as("min_w"), max(col("width")).as("max_w"))
      .orderBy(col("kind"))
  }

  /** q81 — frame sampling end to end (every 3rd frame of each video,
    * decode → flatMap explode → per-n_frames rollup), oracle = arithmetic
    * sampled-count `(nf + 2) // 3`. Gates the sampling stride through the
    * driver's hash compare, not just the ST. */
  def frameSampleQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Inputs.documents(spark, sfDir).count()
    sampleFrames(mediaTable(spark, n), step = 3)
      .groupBy(col("n_frames"))
      .agg(countDistinct(col("media_id")).as("n_videos"),
        count(lit(1)).as("n_sampled"))
      .orderBy(col("n_frames"))
  }

  /** q82 — resize pipeline: blobs re-encoded at halved dims (min 4)
    * through the mapPartitions codec path; per-kind pixel budgets before
    * and after, oracle = pure dimension arithmetic. */
  def resizeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Inputs.documents(spark, sfDir).count()
    resizeAll(mediaTable(spark, n))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("w").cast("long") * col("h")).as("px_before"),
        sum(col("w2").cast("long") * col("h2")).as("px_after"))
      .orderBy(col("kind"))
  }

  private val mediaCte =
    "WITH m AS (SELECT row_number() OVER () - 1 AS id FROM documents), " +
      "d AS (SELECT id, CASE CAST(id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
      "8 + id % 24 AS w, 8 + id % 16 AS h, CASE WHEN id % 3 = 2 THEN 4 + id % 12 ELSE 1 END AS nf FROM m)"

  val oracle: Map[String, String] = Map(
    "q74_media_inventory" ->
      (s"$mediaCte SELECT kind, count(*) AS n_media, CAST(sum(nf) AS BIGINT) AS sum_frames, " +
        "CAST(min(w) AS INT) AS min_w, CAST(max(w) AS INT) AS max_w " +
        "FROM d GROUP BY kind ORDER BY kind"),
    "q81_frame_sample" ->
      (s"$mediaCte SELECT CAST(nf AS INT) AS n_frames, count(*) AS n_videos, " +
        "CAST(sum((nf + 2) // 3) AS BIGINT) AS n_sampled " +
        "FROM d WHERE kind = 'video' GROUP BY nf ORDER BY n_frames"),
    "q82_media_resize" ->
      (s"$mediaCte SELECT kind, count(*) AS n_media, " +
        "CAST(sum(w * h) AS BIGINT) AS px_before, " +
        "CAST(sum(greatest(4, w // 2) * greatest(4, h // 2)) AS BIGINT) AS px_after " +
        "FROM d GROUP BY kind ORDER BY kind"),
    "q85_media_quarantine" ->
      (s"$mediaCte SELECT kind, count(*) AS n_media, " +
        "CAST(sum(CASE WHEN id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok, " +
        "CAST(sum(CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt " +
        "FROM d GROUP BY kind ORDER BY kind"),
  )
}
