package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.IngestJob
import graft.sources.SnapshotTable.Pruning
import graft.streaming.StreamingJobs
import graft.testutil.SparkTestBase

/** The write path into the snapshot table: every writer's committed
  * entries describe exactly the directories it wrote — the path exists,
  * and rows and min/max equal a recount of the files under it (bounds
  * that prune nothing for rows without ilat/ilon/ts_sec) — including
  * partition values Spark escapes in directory names. */
class WritePathSpec extends SparkTestBase {

  private def tmpRoot(p: String): String = Files.createTempDirectory(p).toString

  private def pages: DataFrame = IngestJob.pagesWithPartitions(spark, sf0001)

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  /** Every entry of `root`'s CURRENT snapshot against a footer-inferred
    * recount of its directory. */
  private def assertEntriesExact(root: String): Unit = {
    val snap = SnapshotTable.currentSnapshot(root).get
    assert(snap.parts.nonEmpty, s"nothing committed under $root")
    snap.parts.foreach { e =>
      assert(Files.isDirectory(Paths.get(e.path)), s"entry path ${e.path} does not exist")
      val df = spark.read.parquet(e.path)
      val got = (e.rows, e.minIlat, e.maxIlat, e.minIlon, e.maxIlon, e.minTs, e.maxTs)
      val want =
        if (Seq("ilat", "ilon", "ts_sec").forall(df.columns.contains)) {
          val r = df.agg(count(lit(1)), min("ilat"), max("ilat"), min("ilon"), max("ilon"),
            min("ts_sec"), max("ts_sec")).head()
          (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
            r.getLong(5), r.getLong(6))
        } else (df.count(), Int.MinValue, Int.MaxValue, Int.MinValue, Int.MaxValue,
          Long.MinValue, Long.MaxValue)
      assert(got === want, s"entry ${e.path}")
    }
  }

  test("escaped partition values: runPages, mergeInto and mergeUpsertMor read back every row") {
    val root = tmpRoot("write-escaped")
    val date = "2024-01-01T00:00" // Spark names its directory p_date=2024-01-01T00%3A00
    val in = pages.withColumn("p_date", lit(date))
    IngestJob.runPages(spark, in.filter(col("doc_id") % 3 =!= 0), root, "base")
    IngestJob.mergeInto(spark, root,
      in.filter(col("doc_id") % 2 === 0).withColumn("n_chars", col("n_chars") + 1000L), "m")
    IngestJob.mergeUpsertMor(spark, root,
      in.filter(col("doc_id") % 5 === 0).withColumn("n_chars", col("n_chars") + 7L), "u")
    val (df, _, _) = SnapshotTable.read(spark, root)
    val want = in.filter(col("doc_id") % 3 =!= 0 || col("doc_id") % 2 === 0 ||
        col("doc_id") % 5 === 0)
      .withColumn("n_chars",
        when(col("doc_id") % 5 === 0, col("n_chars") + 7L)
          .when(col("doc_id") % 2 === 0, col("n_chars") + 1000L)
          .otherwise(col("n_chars")))
    def rows(d: DataFrame) =
      d.select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(df) === rows(want))
    val snap = SnapshotTable.currentSnapshot(root).get
    assert(snap.parts.forall(_.pDate == date), snap.parts.map(_.pDate).distinct)
    assert(snap.parts.exists(_.path.endsWith("p_date=2024-01-01T00%3A00")))
    assertEntriesExact(root)
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("runPages writes one parquet file per entry from a many-task input, also on re-ingest") {
    val root = tmpRoot("write-one-file")
    def parquetFiles(dir: Path) = files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    /** The attempt dir `entries` were written to holds exactly one parquet
      * file per entry, inside the entry's own directory. */
    def assertOneFilePerEntry(entries: Seq[SnapshotTable.PartitionEntry]): Unit = {
      val attempts = entries.map(e => Paths.get(e.path).getParent.getParent).distinct
      assert(attempts.size === 1, attempts)
      entries.foreach { e =>
        assert(parquetFiles(Paths.get(e.path)).size === 1, s"entry ${e.path}")
      }
      assert(parquetFiles(attempts.head).size === entries.size, attempts.head)
    }
    // round-robin: every input task holds rows of every (p_cell, p_date) key
    IngestJob.runPages(spark, pages.repartition(4), root, "one")
    val first = SnapshotTable.currentSnapshot(root).get.parts
    assert(first.map(_.pCell).distinct.size > 4, first.map(_.pCell))
    assertOneFilePerEntry(first)
    assertEntriesExact(root)

    val changed = first.map(_.pCell).distinct.sorted.take(4)
    IngestJob.runPages(spark, pages.withColumn("n_chars",
        when(col("p_cell").isin(changed: _*), col("n_chars") + 1L).otherwise(col("n_chars")))
      .repartition(4), root, "one")
    val second = SnapshotTable.currentSnapshot(root).get.parts
    val rewritten = second.filterNot(e => first.exists(_.path == e.path))
    assert(rewritten.map(_.pCell).distinct.sorted === changed)
    assert(rewritten.size === first.count(e => changed.contains(e.pCell)))
    assertOneFilePerEntry(rewritten)
    assertEntriesExact(root)
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("runPages, mergeInto, mergeIntoGlobal and mergeUpsertMor commit exact entries") {
    val root = tmpRoot("write-merges")
    IngestJob.runPages(spark, pages.filter(col("doc_id") % 3 =!= 0), root, "base")
    assertEntriesExact(root)
    IngestJob.mergeInto(spark, root,
      pages.filter(col("doc_id") % 2 === 0).withColumn("n_chars", col("n_chars") + 1L), "m")
    assertEntriesExact(root)
    // partition-moving keys: rewrites the old locations too
    IngestJob.mergeIntoGlobal(spark, root,
      pages.filter(col("doc_id") % 7 === 0).withColumn("p_date", lit("moved")), "g")
    assertEntriesExact(root)
    IngestJob.mergeUpsertMor(spark, root,
      pages.filter(col("doc_id") % 11 === 0).withColumn("n_chars", col("n_chars") + 2L), "u")
    assertEntriesExact(root)
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("geo and non-geo INSERT commit exact entries; non-geo bounds prune nothing") {
    val geo = tmpRoot("write-insert-geo")
    val rows = Pages.fromDocuments(spark, sf0001).select("doc_id", "ilat", "ilon", "ts_sec", "lang")
    rows.write.format("graft").mode("append").save(geo)
    rows.filter(col("doc_id") % 2 === 0).write.format("graft").mode("append").save(geo)
    assertEntriesExact(geo)
    assert(SnapshotTable.currentSnapshot(geo).get.parts.map(_.pCell).distinct.length > 1)

    val plain = tmpRoot("write-insert-plain")
    spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
      .write.format("graft").mode("append").save(plain)
    assertEntriesExact(plain)
    assert(SnapshotTable.currentSnapshot(plain).get.parts.map(_.pCell) === Seq(0L))
    SnapshotTable.recursiveDelete(Paths.get(geo))
    SnapshotTable.recursiveDelete(Paths.get(plain))
  }

  test("stream sink commits exact entries; an empty micro-batch commits nothing") {
    val root = tmpRoot("write-stream")
    val src = Pages.fromDocuments(spark, sf0001)
    StreamingJobs.commitBatchToTable(src.filter(col("doc_id") % 2 === 0), 0L, root)
    StreamingJobs.commitBatchToTable(src.filter(col("doc_id") % 2 === 1), 1L, root)
    assertEntriesExact(root)
    val seq = SnapshotTable.currentSeq(root)
    StreamingJobs.commitBatchToTable(src.limit(0), 2L, root)
    assert(SnapshotTable.currentSeq(root) === seq)
    assert(SnapshotTable.snapshotSeqs(root).lastOption === seq)
    assert(!Files.exists(Paths.get(root, "data", "batch=2")))
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("compact over delete vectors commits exact post-delete entries") {
    val root = tmpRoot("write-compact")
    IngestJob.runPages(spark, pages, root, "base")
    IngestJob.deleteWhere(spark, root, col("doc_id") % 4 === 1, "del")
    val live = SnapshotTable.read(spark, root)._1.count()
    val compacted = SnapshotTable.compact(spark, root)(_ => true).get
    assert(compacted.parts.map(_.rows).sum === live)
    assertEntriesExact(root)
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("DSv2 scan size counts data files only, not _SUCCESS or .crc") {
    val root = IngestJob.dsv2TableRoot(spark, sf0001)
    val snap = SnapshotTable.currentSnapshot(root).get
    val all = snap.parts.flatMap(e => files(Paths.get(e.path)))
    def hidden(p: Path) = Seq("_", ".").exists(p.getFileName.toString.startsWith)
    assert(all.exists(hidden), "no hidden files in the entry directories")
    val want = all.filterNot(hidden).map(Files.size).sum
    val stats = new GraftScan(snap, GraftSource.tableSchema(root), Pruning())
      .estimateStatistics()
    assert(stats.sizeInBytes().getAsLong === want)
    assert(stats.numRows().getAsLong === snap.parts.map(_.rows).sum)
  }
}
