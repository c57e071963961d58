package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.testutil.SparkTestBase

class MultiModalSpec extends SparkTestBase {
  import MultiModal._

  /** Metadata inventory over the decoded table — the relational surface a
    * training pipeline filters on (dims, frame counts, per-kind stats). */
  private def mediaInventory(n: Long): DataFrame =
    decodeAll(mediaTable(spark, n))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), sum(col("n_frames")).as("sum_frames"),
        min(col("width")).as("min_w"), max(col("width")).as("max_w"),
        countDistinct(col("checksum")).as("n_distinct_payloads"))
      .orderBy(col("kind"))

  test("codec round-trip: encode -> decode recovers dims and frames") {
    val blob = FakeCodec.encode(42L, "video", 12, 10, 7)
    val (w, h, f, sum) = FakeCodec.decode(blob)
    assert((w, h, f) === ((12, 10, 7)))
    assert(sum === FakeCodec.decode(blob)._4) // deterministic
  }

  test("decode stage: distributed decode over partitions, all rows parse") {
    val decoded = decodeAll(mediaTable(spark, 300, parts = 8)).collect()
    assert(decoded.length === 300)
    assert(decoded.forall(d => d.width >= 8 && d.height >= 8))
    // per-kind counts follow the 3-cycle
    assert(decoded.count(_.kind == "image") === 100)
    assert(decoded.count(_.kind == "video") === 100)
  }

  test("frame sampling explodes only videos, every step-th frame") {
    val frames = sampleFrames(mediaTable(spark, 90), step = 3).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 3 == 0))
    val perMedia = frames.groupBy(_.media_id)
    // video ids are 2 mod 3; frame count = ceil(nFrames/3)
    for ((id, fs) <- perMedia) {
      assert(id % 3 === 2)
      val expected = (4 + (id % 12).toInt + 2) / 3
      assert(fs.length === expected, s"media $id")
    }
  }

  test("resize halves dims (min 4) and output reparses") {
    val out = resizeAll(mediaTable(spark, 60)).collect()
    assert(out.length === 60)
    for (r <- out) {
      assert(r.getInt(4) === math.max(4, r.getInt(2) / 2))
      assert(r.getInt(5) === math.max(4, r.getInt(3) / 2))
    }
  }

  test("lenient decode degrades ARBITRARY corruption, never aborts; ok rows exact") {
    import spark.implicits._
    // adversarial corruption beyond the planted fixture: empty blobs,
    // truncations at every boundary, flipped magic bytes
    val media = mediaTable(spark, 120).map { m =>
      (m.media_id % 5) match {
        case 0 => m.copy(media = Array.empty[Byte])
        case 1 => m.copy(media = m.media.take((m.media_id % 17).toInt))
        case 2 => val b = m.media.clone(); b(0) = 0x7f; m.copy(media = b)
        case _ => m
      }
    }
    val out = decodeLenient(media).collect()
    assert(out.length === 120, "every row must come back, good or quarantined")
    val expectOk = (0 until 120).count(i => i % 5 >= 3)
    assert(out.count(_.ok) === expectOk)
    // ok rows must agree with the strict decoder
    val strict = decodeAll(mediaTable(spark, 120)).collect()
      .map(r => r.media_id -> r).toMap
    out.filter(_.ok).foreach { r =>
      val s = strict(r.media_id)
      assert((r.width, r.height, r.n_frames, r.checksum) ===
        ((s.width, s.height, s.n_frames, s.checksum)))
    }
  }

  test("media inventory aggregates per kind") {
    val inv = mediaInventory(300).collect()
    assert(inv.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    val video = inv.find(_.getString(0) == "video").get
    assert(video.getLong(1) === 100)
    assert(video.getLong(2) > 100) // videos have >1 frame
  }

  test("determinism: same table generated twice is byte-identical") {
    val a = decodeAll(mediaTable(spark, 100)).collect().sortBy(_.media_id)
    val b = decodeAll(mediaTable(spark, 100, parts = 3)).collect().sortBy(_.media_id)
    assert(a.toSeq === b.toSeq) // partitioning must not affect content
  }
}
