package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Pruning
import graft.testutil.SparkTestBase

class TableLayerSpec extends SparkTestBase {

  private def tmpRoot(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-$tag")
    p.toString
  }

  test("ingest commits a snapshot; rerun of same job skips every bucket") {
    val root = tmpRoot("ingest")
    val r1 = IngestJob.run(spark, sf0001, root, "job1")
    assert(r1.partitionsWritten > 0 && r1.partitionsSkipped === 0)
    assert(SnapshotTable.currentSeq(root) === Some(1L))
    val r2 = IngestJob.run(spark, sf0001, root, "job1")
    assert(r2.partitionsWritten === 0)
    assert(r2.partitionsSkipped === r1.partitionsWritten)
    assert(SnapshotTable.currentSeq(root) === Some(2L)) // snapshots immutable, history kept
    assert(Files.exists(Paths.get(root, "meta", "snap-1.json")))
  }

  test("manifest pruning: lat-band read touches fewer partitions, same answer") {
    val root = tmpRoot("prune")
    IngestJob.run(spark, sf0001, root, "job1")
    val (_, kept, total) = SnapshotTable.read(spark, root,
      Pruning(minIlat = Some(0), maxIlat = Some(299)))
    assert(kept < total, s"pruning had no effect: $kept/$total")
    val got = IngestJob.inventory(spark, root, 0, 299).collect().map(_.toSeq).toSeq
    val want = IngestJob.pagesWithPartitions(spark, sf0001)
      .filter(col("ilat").between(0, 299))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("url")).as("n_urls"))
      .orderBy(col("lang")).collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("time pruning: ts window touches fewer partitions (multi-day sf0.1)") {
    val root = tmpRoot("prunets")
    IngestJob.run(spark, "/root/testdata/sf0.1", root, "job1")
    val (_, kept, total) = SnapshotTable.read(spark, root,
      Pruning(minTs = Some(graft.sources.Pages.Epoch),
        maxTs = Some(graft.sources.Pages.Epoch + 86399)))
    assert(kept < total, s"$kept/$total")
    val (_, keptD, totalD) = SnapshotTable.read(spark, root,
      Pruning(dates = Some(Set("2024-01-02"))))
    assert(keptD < totalD, s"$keptD/$totalD")
  }

  test("resume: crash after 3 buckets, rerun skips them, final state identical") {
    val rootA = tmpRoot("resumeA")
    val rootB = tmpRoot("resumeB")
    // uninterrupted reference run
    IngestJob.run(spark, sf0001, rootB, "jobB")
    // crashing run
    val err = intercept[RuntimeException] {
      IngestJob.run(spark, sf0001, rootA, "jobA", failAfter = Some(3))
    }
    assert(err.getMessage.contains("injected failure"))
    assert(SnapshotTable.currentSeq(rootA).isEmpty) // no snapshot committed
    val lineageDone = Files.list(Paths.get(rootA, "lineage", "jobA")).count()
    assert(lineageDone === 3)
    // resume
    val r = IngestJob.run(spark, sf0001, rootA, "jobA")
    assert(r.partitionsSkipped === 3, s"skipped ${r.partitionsSkipped}")
    assert(SnapshotTable.currentSeq(rootA) === Some(1L))
    // content equality with uninterrupted run (html compared via md5 —
    // Array[Byte] equality is referential in Row.toSeq)
    def content(root: String) = SnapshotTable.read(spark, root)._1
      .withColumn("html_md5", md5(col("html"))).drop("html")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(content(rootA) === content(rootB))
    // manifest equality modulo job-independent fields
    val sa = SnapshotTable.currentSnapshot(rootA).get
    val sb = SnapshotTable.currentSnapshot(rootB).get
    assert(sa.parts.map(p => p.copy(path = "")) === sb.parts.map(p => p.copy(path = "")))
  }

  test("resume boundary cases: crash before any bucket and before the last bucket") {
    val reference = tmpRoot("resume-ref")
    IngestJob.run(spark, sf0001, reference, "jobRef")
    def content(root: String) = SnapshotTable.read(spark, root)._1
      .withColumn("hm", md5(col("html"))).drop("html")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val want = content(reference)
    for (n <- Seq(0, 15)) {
      val root = tmpRoot(s"resume-$n")
      intercept[RuntimeException] {
        IngestJob.run(spark, sf0001, root, "jobN", failAfter = Some(n))
      }
      assert(SnapshotTable.currentSeq(root).isEmpty)
      val r = IngestJob.run(spark, sf0001, root, "jobN")
      assert(r.partitionsSkipped === n && r.partitionsWritten === 16 - n)
      assert(content(root) === want, s"failAfter=$n")
    }
  }

  test("ingest runs a constant number of jobs, independent of bucket count") {
    val root = tmpRoot("scans")
    val (_, ingest) = JobCounts.during(spark)(IngestJob.run(spark, sf0001, root, "jobS"))
    // one stats aggregation + one rebalanced partitionBy write (each may
    // spawn a couple of AQE sub-jobs: 5 jobs in all here). The round-1
    // implementation ran one filtered write PER bucket: ~20 jobs at 16
    // buckets, growing with bucket count.
    assert(ingest.jobs <= 8, s"ingest spawned ${ingest.jobs} jobs")
  }

  test("time travel: committed snapshots stay readable after a changed-input rerun") {
    val root = tmpRoot("tt")
    IngestJob.run(spark, sf0001, root, "jobT")
    def digest(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("html_md5", md5(col("html"))).drop("html")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val v1 = digest(SnapshotTable.read(spark, root)._1)
    // same jobId, different input (same doc_ids, different text): every
    // bucket fingerprint changes -> full rewrite under a NEW attempt dir
    val r2 = IngestJob.run(spark, sf001, root, "jobT")
    assert(r2.partitionsSkipped === 0 && r2.partitionsWritten > 0)
    assert(SnapshotTable.currentSeq(root) === Some(2L))
    // snapshot 1 still serves its original bytes (paths never rewritten)
    assert(digest(SnapshotTable.readAt(spark, root, 1)._1) === v1)
    // snapshot 2 == a fresh ingest of the new input
    val rootB = tmpRoot("ttB")
    IngestJob.run(spark, sf001, rootB, "jobTB")
    assert(digest(SnapshotTable.readAt(spark, root, 2)._1) ===
      digest(SnapshotTable.read(spark, rootB)._1))
    assert(SnapshotTable.snapshotSeqs(root) === Seq(1L, 2L))
  }

  test("concurrent commit: second writer on the same seq gets a conflict, retry merges") {
    val root = tmpRoot("cas")
    IngestJob.run(spark, sf0001, root, "jobC") // seq 1
    val base = SnapshotTable.currentSnapshot(root).get
    // both "writers" computed seq 2; the second CAS must fail, not overwrite
    SnapshotTable.commitSnapshot(root, base.copy(seq = 2))
    intercept[SnapshotTable.SnapshotConflictException] {
      SnapshotTable.commitSnapshot(root, base.copy(seq = 2, parts = Seq.empty))
    }
    assert(SnapshotTable.snapshotAt(root, 2).get.parts === base.parts) // winner intact
    // the loser's retry lands on the next seq with its own parts merged
    val merged = SnapshotTable.commitWithRetry(root) { seq =>
      val prev = SnapshotTable.snapshotAt(root, seq - 1).get
      prev.copy(seq = seq)
    }
    assert(merged.seq === 3L)
    assert(SnapshotTable.currentSeq(root) === Some(3L))
  }

  test("schema evolution: old snapshots readable through registered migrations") {
    val root = tmpRoot("evo")
    IngestJob.run(spark, sf0001, root, "jobE") // written at schema_ver 1
    // reader is at schema v2: v1 -> v2 adds a fetch_status column
    val migrations: SnapshotTable.Migrations =
      Map(1 -> (df => df.withColumn("fetch_status", lit(200))))
    val (df, _, _) = SnapshotTable.read(spark, root, Pruning(), migrations)
    assert(df.columns.contains("fetch_status"))
    assert(df.filter(col("fetch_status") =!= 200).count() === 0)
    val rows = SnapshotTable.read(spark, root)._1.count()
    assert(df.count() === rows) // migration is column-only, row-preserving
  }

  test("expire: old snapshots + unreferenced data GC'd, current stays readable") {
    val root = tmpRoot("expire")
    IngestJob.run(spark, sf0001, root, "jobX")          // seq 1 -> attempt a1
    val rows1 = SnapshotTable.read(spark, root)._1.count()
    IngestJob.run(spark, sf001, root, "jobX")           // changed input: seq 2 -> a2
    val rows2 = SnapshotTable.read(spark, root)._1.count()
    assert(Files.exists(Paths.get(root, "data", "jobX", "a1")))
    val (snapsDeleted, dirsDeleted) = SnapshotTable.expire(root, keep = 1)
    assert(snapsDeleted === 1 && dirsDeleted > 0)
    assert(SnapshotTable.snapshotAt(root, 1).isEmpty)
    assert(!Files.exists(Paths.get(root, "data", "jobX", "a1"))) // orphaned attempt GC'd
    assert(SnapshotTable.read(spark, root)._1.count() === rows2) // CURRENT intact
    assert(rows1 === rows2) // same doc count either way (content differs)
    // lineage still matches the retained attempt: rerun skips everything
    val r3 = IngestJob.run(spark, sf001, root, "jobX")
    assert(r3.partitionsWritten === 0 && r3.partitionsSkipped > 0)
  }

  test("expire keeps referenced partitions when a snapshot spans attempts") {
    val root = tmpRoot("expire-mixed")
    IngestJob.run(spark, sf0001, root, "jobM") // seq 1, all buckets in a1
    // force ONE bucket stale (drop its lineage) -> rerun rewrites just it
    // under a2 while snapshot 2 keeps referencing the other a1 buckets
    val lineageDir = Paths.get(root, "lineage", "jobM")
    val one = Files.list(lineageDir).iterator().next()
    Files.delete(one)
    val r2 = IngestJob.run(spark, sf0001, root, "jobM")
    assert(r2.partitionsWritten === 1 && r2.partitionsSkipped > 0)
    val before = SnapshotTable.read(spark, root)._1.count()
    val (snaps, _) = SnapshotTable.expire(root, keep = 1)
    assert(snaps === 1)
    // the a1 attempt root holds _SUCCESS (a "leaf" to the walker) AND the
    // still-referenced bucket dirs — expire must not recurse through it
    assert(SnapshotTable.read(spark, root)._1.count() === before)
  }

  test("snapshot json round-trips") {
    val root = tmpRoot("json")
    IngestJob.run(spark, sf0001, root, "job1")
    val s = SnapshotTable.currentSnapshot(root).get
    val round = SnapshotTable.parseSnapshot(SnapshotTable.snapshotJson(s))
    assert(round === s)
  }

  test("partition evolution: finer-grained later generation coexists; reads + pruning sound") {
    // The Iceberg partition-spec-evolution analog. CONTRACT: p_cell values
    // across spec generations must be namespace-disjoint, or a new-spec
    // append would supersede an old-spec partition that happens to share
    // the integer key (level-2 rowmajor ids 0..15 are a subset of
    // level-4's 0..255). The engine's level-TAGGED cell id (CellIndex
    // top-4-bits level, the H3 shape) provides that for free — this test
    // pins both the coexistence and the stats-based pruning across mixed
    // granularities.
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val root = tmpRoot("evolve")
    val even = IngestJob.pagesWithPartitions(spark, sf0001) // gen 1: level 2, rowmajor
      .filter(col("doc_id") % 2 === 0)
    IngestJob.runPages(spark, even, root, "gen1")
    val gen1 = SnapshotTable.currentSnapshot(root).get

    // gen 2: odd docs partitioned at LEVEL 4 with the level-tagged id
    val odd = graft.sources.Pages.fromDocuments(spark, sf0001)
      .filter(col("doc_id") % 2 === 1)
      .withColumn("p_cell", GraftFunctions.cell_id(col("ilat"), col("ilon"), lit(4)))
      .withColumn("p_date", date_format(col("warc_ts"), "yyyy-MM-dd"))
    IngestJob.runPages(spark, odd, root, "gen2")
    val gen2 = SnapshotTable.currentSnapshot(root).get

    // coexistence: every gen-1 entry survived the gen-2 append untouched
    assert(gen1.parts.map(_.path).toSet.subsetOf(gen2.parts.map(_.path).toSet),
      "new-spec append must not supersede old-spec partitions")
    val all = IngestJob.pagesWithPartitions(spark, sf0001)
    assert(SnapshotTable.read(spark, root)._1.count() === all.count())

    // pruning across MIXED granularities: per-entry stats are spec-free
    val (pruned, kept, total) = SnapshotTable.read(spark, root,
      Pruning(minIlat = Some(0), maxIlat = Some(299)))
    assert(kept < total, s"pruning had no effect: $kept/$total")
    assert(pruned.filter(col("ilat").between(0, 299)).count() ===
      all.filter(col("ilat").between(0, 299)).count())
    SnapshotTable.recursiveDelete(java.nio.file.Paths.get(root))
  }
}
