package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.jobs.IngestJob
import graft.testutil.SparkTestBase

/** Rows carrying their `p_date` directory key come from one reader,
  * `SnapshotTable.readDated`: `changesBetween`, the file-level stream and
  * the DSv2 scan each return every live row with its own entry's
  * `p_date`, and the same schema when nothing is left to read. */
class DatedReadSpec extends SparkTestBase {

  private def pairs(df: DataFrame): Set[(Long, String)] =
    df.select("doc_id", "p_date").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** Schema and rows of every micro-batch of one AvailableNow pass of the
    * `graft-stream` source from `fromSeq`. */
  private def streamBatches(root: String, fromSeq: Long): Seq[(StructType, Set[(Long, String)])] = {
    val out = new ConcurrentLinkedQueue[(StructType, Set[(Long, String)])]()
    val ckpt = Files.createTempDirectory("dated-stream-ckpt")
    val q = spark.readStream.format("graft-stream").option("path", root)
      .option("fromSeq", fromSeq.toString).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => out.add((b.schema, pairs(b))); () }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "stream did not finish within 60s")
    SnapshotTable.recursiveDelete(ckpt)
    out.asScala.toSeq
  }

  test("changesBetween, the stream source and a DSv2 read carry each entry's p_date") {
    val root = Files.createTempDirectory("dated-read").toString
    // snapshot 1: even docs on dates a0..a2; snapshot 2 adds odd docs on
    // b0..b2; snapshot 3 layers a delete vector over both
    val pages = IngestJob.pagesWithPartitions(spark, sf0001)
    def dated(prefix: String) =
      pages.withColumn("p_date", concat(lit(prefix), (col("doc_id") % 3).cast("string")))
    IngestJob.runPages(spark, dated("a").filter(col("doc_id") % 2 === 0), root, "a")
    IngestJob.runPages(spark, dated("b").filter(col("doc_id") % 2 === 1), root, "b")
    val deleted = col("doc_id") % 7 === 2
    IngestJob.deleteWhere(spark, root, deleted, "del")
    assert(SnapshotTable.currentSeq(root).contains(3L))
    val snap3 = SnapshotTable.requireSnapshot(root, 3)
    assert(snap3.parts.exists(_.deletes.nonEmpty))
    assert(snap3.parts.map(_.pDate).distinct.size === 6)

    val live = pages.filter(!deleted)
    def want(df: DataFrame, prefix: String) =
      pairs(df.withColumn("p_date", concat(lit(prefix), (col("doc_id") % 3).cast("string"))))
    val wantAdded = want(live.filter(col("doc_id") % 2 === 1), "b")
    val wantAll = want(live.filter(col("doc_id") % 2 === 0), "a") ++ wantAdded

    val (changes, deltaParts, _) = SnapshotTable.changesBetween(spark, root, 1L, 3L)
    assert(deltaParts === SnapshotTable.addedBetween(
      Some(SnapshotTable.requireSnapshot(root, 1)), snap3).length)
    assert(pairs(changes) === wantAdded)

    val Seq((streamSchema, streamed)) = streamBatches(root, fromSeq = 1L)
    assert(streamed === wantAdded)

    val dsv2 = spark.read.format("graft").load(root)
    assert(pairs(dsv2) === wantAll)

    // snapshot 4 adds no data file: an empty delta, and a scan pruned to
    // zero entries, keep the populated frames' schemas
    IngestJob.deleteWhere(spark, root, col("doc_id") % 11 === 4, "del2")
    val (noChanges, noParts, _) = SnapshotTable.changesBetween(spark, root, 3L, 4L)
    assert(noParts === 0)
    assert(noChanges.schema === changes.schema)
    assert(noChanges.count() === 0)

    val Seq((emptySchema, none)) = streamBatches(root, fromSeq = 3L)
    assert(none.isEmpty)
    assert(emptySchema === streamSchema)

    val pruned = spark.read.format("graft").load(root).filter(col("ilat") > 100000)
    assert(pruned.collect().isEmpty)
    assert(GraftSource.lastPlanned._1 === 0)
    assert(pruned.schema === dsv2.schema)

    val schema = SnapshotTable.readSchema(spark, snap3)
    assert(SnapshotTable.readDated(spark, Nil, schema).schema ===
      SnapshotTable.readDated(spark, snap3.parts, schema).schema)
    SnapshotTable.recursiveDelete(Paths.get(root))
  }
}
