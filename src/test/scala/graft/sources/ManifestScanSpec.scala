package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.jobs.{IngestJob, JobCounts}
import graft.sources.SnapshotTable.{PartitionEntry, Pruning, Snapshot}
import graft.testutil.SparkTestBase

/** Snapshot reads are planned from the manifest alone: the kept entries'
  * files under the recorded schema DDL, with no Spark listing or
  * footer-inference job, and with the same schema and rows as a
  * footer-inferred `spark.read.parquet` of the same directories. */
class ManifestScanSpec extends SparkTestBase {

  private def tmpRoot(p: String): String = Files.createTempDirectory(p).toString

  /** `f`'s result and the Spark jobs it started. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val (a, c) = JobCounts.during(spark)(f)
    (a, c.jobs)
  }

  /** Rows as comparable sorted strings (binary columns by content). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.mkString("bin[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** `SnapshotTable.read` of `root` under `p` equals a footer-inferred
    * parquet read of the kept entries, deletes anti-joined by doc_id. */
  private def assertMatchesFooterRead(root: String, p: Pruning): Unit = {
    val snap = SnapshotTable.currentSnapshot(root).get
    val keep = SnapshotTable.prunedParts(snap, p)
    assert(keep.nonEmpty)
    val (got, kept, _) = SnapshotTable.read(spark, root, p)
    assert(kept === keep.length)
    val raw = spark.read.parquet(keep.map(_.path): _*)
    val dels = keep.flatMap(_.deletes).distinct
    val want =
      if (dels.isEmpty) raw
      else raw.join(spark.read.parquet(dels: _*).select("doc_id"), Seq("doc_id"), "left_anti")
        .select(raw.columns.map(col).toIndexedSeq: _*)
    assert(got.schema === want.schema, s"${got.schema.treeString}\nvs\n${want.schema.treeString}")
    assert(rowsOf(got) === rowsOf(want))
  }

  test("a read resolves with 0 Spark jobs and a full count runs <= 2, at > 32 entries") {
    val root = tmpRoot("manifest-scan-jobs")
    // four dates per cell: more entries than Spark's parallel-listing
    // threshold (32 paths), where spark.read.parquet adds a listing job
    val pages = IngestJob.pagesWithPartitions(spark, sf0001)
      .withColumn("p_date", concat(lit("d"), (col("doc_id") % 4).cast("string")))
    IngestJob.runPages(spark, pages, root, "jobs")
    val snap = SnapshotTable.currentSnapshot(root).get
    assert(snap.parts.length >= 33, s"only ${snap.parts.length} entries")
    val ((df, kept, total), resolveJobs) = jobsOf(SnapshotTable.read(spark, root))
    assert(kept === total)
    assert(resolveJobs === 0, s"resolving the read ran $resolveJobs jobs")
    // the scan's file index is rooted at exactly the manifest's entry dirs
    val roots = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            assert(f.location.isInstanceOf[org.apache.spark.sql.graft.ManifestFileIndex])
            assert(f.partitionSchema === StructType.fromDDL("p_date STRING, scope INT"))
            f.location.rootPaths.map(r => new java.io.File(r.toUri).getPath)
          case _ => Nil
        }
    }.flatten
    assert(roots.sorted === snap.parts.map(_.path).sorted)
    val (n, countJobs) = jobsOf(df.count())
    assert(n === pages.count())
    assert(countJobs <= 2, s"a full count ran $countJobs jobs")
  }

  test("reads equal footer-inferred parquet reads: ingest, INSERT and streaming-sink tables") {
    val pruned = Pruning(minIlat = Some(0))
    // IngestJob table, then the same table with delete vectors layered on
    val ingest = tmpRoot("manifest-scan-ingest")
    IngestJob.runPages(spark, IngestJob.pagesWithPartitions(spark, sf0001), ingest, "eq")
    Seq(Pruning(), pruned).foreach(assertMatchesFooterRead(ingest, _))
    IngestJob.deleteWhere(spark, ingest, col("doc_id") % 7 === 2, "eqdel")
    assert(SnapshotTable.currentSnapshot(ingest).get.parts.exists(_.deletes.nonEmpty))
    Seq(Pruning(), pruned).foreach(assertMatchesFooterRead(ingest, _))

    // DSv2 INSERT (append) table
    val insert = tmpRoot("manifest-scan-insert")
    val rows = Pages.fromDocuments(spark, sf0001)
      .select("doc_id", "url", "warc_ts", "ts_sec", "text", "lang", "source",
        "n_chars", "ilat", "ilon")
    rows.filter(col("doc_id") < 200).write.format("graft").mode("append").save(insert)
    rows.filter(col("doc_id") >= 200).write.format("graft").mode("append").save(insert)
    Seq(Pruning(), pruned).foreach(assertMatchesFooterRead(insert, _))

    // streaming-sink table: one entry per micro-batch commit
    val stream = tmpRoot("manifest-scan-stream")
    val pages = Pages.fromDocuments(spark, sf0001)
    Seq(0L, 1L, 2L).foreach { b =>
      graft.streaming.StreamingJobs.commitBatchToTable(
        pages.filter(col("doc_id") % 3 === b), b, stream)
    }
    assert(SnapshotTable.currentSnapshot(stream).get.parts.length === 3)
    Seq(Pruning(), pruned).foreach(assertMatchesFooterRead(stream, _))
  }

  test("a snapshot that records no DDL infers its schema from its entries and still reads") {
    val root = tmpRoot("manifest-scan-noddl")
    val df = spark.range(40).selectExpr("id AS doc_id", "CAST(id % 5 AS INT) AS ilat",
      "CAST(id AS STRING) AS s")
    val entries = Seq(0, 1).map { k =>
      val path = s"$root/data/e$k"
      df.filter(col("doc_id") % 2 === k).write.parquet(path)
      PartitionEntry(k, "all", path, 20, k * 10, k * 10 + 4, 0, 0, 0L, 0L)
    }
    SnapshotTable.commitSnapshot(root, Snapshot(1, 1, entries.toIndexedSeq))
    assert(SnapshotTable.currentSnapshot(root).get.schemaDdl.isEmpty)
    assertMatchesFooterRead(root, Pruning())
    assertMatchesFooterRead(root, Pruning(minIlat = Some(5)))
    // pruned to zero entries: the typed empty frame under the inferred schema
    val (none, kept, _) = SnapshotTable.read(spark, root, Pruning(minIlat = Some(100)))
    assert(kept === 0)
    assert(none.schema === spark.read.parquet(entries.head.path).schema)
    assert(none.count() === 0)
  }

  test("after ALTER TABLE ADD COLUMN, SnapshotTable.read surfaces the column as nulls") {
    val wh = tmpRoot("manifest-scan-alter-wh")
    val s = spark.newSession()
    try {
      s.conf.set("spark.sql.catalog.gms", classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.gms.warehouse", wh)
      s.sql("CREATE TABLE gms.t (k BIGINT, v STRING)")
      s.range(3).selectExpr("id AS k", "'a' AS v", "'all' AS p_date")
        .createOrReplaceTempView("ms_src0")
      s.sql("INSERT INTO gms.t SELECT * FROM ms_src0")
      s.sql("ALTER TABLE gms.t ADD COLUMN score BIGINT")
      val (pre, _, _) = SnapshotTable.read(s, s"$wh/t")
      assert(pre.columns.contains("score"))
      assert(pre.schema("score").dataType === org.apache.spark.sql.types.LongType)
      assert(pre.orderBy("k").select("k", "score").collect().toSeq ===
        Seq(Row(0L, null), Row(1L, null), Row(2L, null)))
      // files written after the ALTER carry the column; old files stay null
      s.range(2).selectExpr("id + 10 AS k", "'b' AS v", "id AS score", "'all' AS p_date")
        .createOrReplaceTempView("ms_src1")
      s.sql("INSERT INTO gms.t SELECT * FROM ms_src1")
      val (post, _, _) = SnapshotTable.read(s, s"$wh/t")
      assert(post.orderBy("k").select("k", "score").collect().toSeq ===
        Seq(Row(0L, null), Row(1L, null), Row(2L, null), Row(10L, 0L), Row(11L, 1L)))
      // the same contract as the DSv2 read
      val sql = s.sql("SELECT k, score FROM gms.t ORDER BY k").collect().toSeq
      assert(sql === post.orderBy("k").select("k", "score").collect().toSeq)
    } finally SnapshotTable.recursiveDelete(java.nio.file.Paths.get(wh))
  }

  test("deleteWhere and mergeUpsertMor read touched keys back with no listing or inference job") {
    val root = tmpRoot("manifest-scan-dv")
    val pages = IngestJob.pagesWithPartitions(spark, sf0001)
    IngestJob.runPages(spark, pages, root, "dv")
    val (_, delJobs) = jobsOf(IngestJob.deleteWhere(spark, root, col("doc_id") % 7 === 2, "dvdel"))
    val upd = pages.filter(col("doc_id") % 5 === 1).withColumn("n_chars", col("n_chars") + 1L)
    val (_, morJobs) = jobsOf(IngestJob.mergeUpsertMor(spark, root, upd, "dvmor"))
    // a footer-inferred read-back of the vectors adds one job to each
    // (5 and 13 jobs)
    assert(delJobs <= 4, s"deleteWhere ran $delJobs jobs")
    assert(morJobs <= 12, s"mergeUpsertMor ran $morJobs jobs")
    // the vectors mask exactly the deleted rows and the upserted keys' old
    // rows; upserted keys deleted earlier come back
    val (df, _, _) = SnapshotTable.read(spark, root)
    val upKey = col("doc_id") % 5 === 1
    assert(df.count() ===
      pages.filter(col("doc_id") % 7 =!= 2).count() + pages.filter(upKey && col("doc_id") % 7 === 2).count())
    def chars(d: DataFrame): (Long, Long) = {
      val r = d.filter(upKey).agg(count(lit(1)), sum("n_chars")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (n, c) = chars(pages)
    assert(chars(df) === ((n, c + n)))
    SnapshotTable.recursiveDelete(java.nio.file.Paths.get(root))
  }
}
