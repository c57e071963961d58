package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable._

/** Two-level manifest scalability (round-2 verdict ask #5): commit
  * metadata cost must be ∝ touched partitions, not table size. Metadata
  * tests — no data files behind the entries; only the INSERT case builds
  * its (tiny) frame with a Spark session. */
class ManifestScaleSpec extends AnyFunSuite {

  private def entry(i: Int, date: String = "2024-01-01"): PartitionEntry =
    PartitionEntry(i.toLong, date, s"/data/fake/p$i", 100L,
      -900 + (i % 1800), -900 + (i % 1800), -1800 + (i % 3600), -1800 + (i % 3600),
      0L, 1000L)

  private def metaBytes(root: String): Map[Path, Long] = {
    val meta = Paths.get(root, "meta")
    val walk = Files.walk(meta)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".json")).map(p => p -> Files.size(p)).toMap
    } finally walk.close()
  }

  test("1-partition append to a 10k-partition table writes O(touched) metadata bytes") {
    val root = Files.createTempDirectory("manifest-scale").toString
    // full commit of 10k partitions auto-groups into manifest files
    val full = Snapshot(1, 1, (0 until 10000).map(entry(_)), "doc_id BIGINT")
    commitSnapshot(root, full)
    val s1 = snapshotAt(root, 1).get
    assert(s1.parts.length == 10000)
    assert(s1.manifestRefs.length == 10, s"expected 10 manifests, got ${s1.manifestRefs.length}")
    val before = metaBytes(root)
    val baseTotal = before.values.sum

    // delta-append ONE new partition
    val appended = commitDeltaWithRetry(root)(
      Seq(entry(20000)), _ => false, removePCells = Some(Set.empty[Long]))
    assert(appended.parts.length == 10001)
    val after = metaBytes(root)
    val newFiles = after.keySet -- before.keySet
    val newBytes = newFiles.toSeq.map(after).sum
    // new metadata = snap-2.json (refs only) + one 1-entry manifest;
    // the 10 base manifests are re-referenced byte-for-byte
    assert(before.forall { case (p, sz) => after.get(p).contains(sz) },
      "a base manifest was rewritten by a pure append")
    assert(newBytes * 50 < baseTotal,
      s"append wrote $newBytes B vs $baseTotal B base metadata — not O(touched)")

    // delta-UPSERT one existing key: exactly one manifest rewritten
    val upserted = commitDeltaWithRetry(root)(
      Seq(entry(5000).copy(rows = 999L)), p => p.pCell == 5000L && p.pDate == "2024-01-01",
      removePCells = Some(Set(5000L)))
    assert(upserted.parts.length == 10001)
    assert(upserted.parts.count(_.pCell == 5000L) == 1)
    assert(upserted.parts.find(_.pCell == 5000L).get.rows == 999L)
    val after2 = metaBytes(root)
    val rewrittenRefs = upserted.manifestRefs.map(_.path).toSet --
      appended.manifestRefs.map(_.path).toSet
    // one rewritten base manifest + the 1-entry upsert manifest
    assert(rewrittenRefs.size == 2, s"rewrote ${rewrittenRefs.size} manifests")
    // ~one manifest of ten (the touched one) + the 1-entry upsert manifest
    val upsertBytes = (after2.keySet -- after.keySet).toSeq.map(after2).sum
    assert(upsertBytes * 5 < baseTotal,
      s"upsert wrote $upsertBytes B vs $baseTotal B — more than the touched manifest")

    // round trip: time travel still resolves every snapshot exactly
    assert(snapshotAt(root, 1).get.parts.length == 10000)
    assert(snapshotAt(root, 2).get.parts.length == 10001)

    // metadata READ cost: a pure append with resolveResult=false must not
    // read ANY base manifest (level-1 parse + range skip only)
    val readsBefore = manifestReads.get()
    commitDeltaWithRetry(root)(Seq(entry(20001)), _ => false,
      removePCells = Some(Set.empty[Long]), resolveResult = false)
    assert(manifestReads.get() === readsBefore,
      s"pure append read ${manifestReads.get() - readsBefore} manifests")
    // ...and a 1-key upsert reads exactly the one range-matching manifest
    val readsBefore2 = manifestReads.get()
    commitDeltaWithRetry(root)(Seq(entry(7000).copy(rows = 1L)),
      p => p.pCell == 7000L, removePCells = Some(Set(7000L)),
      resolveResult = false)
    assert(manifestReads.get() - readsBefore2 <= 2,
      s"1-key upsert read ${manifestReads.get() - readsBefore2} manifests")
    recursiveDelete(Paths.get(root))
  }

  test("manifest GC: expire drops unreferenced manifests, keeps referenced ones") {
    val root = Files.createTempDirectory("manifest-gc").toString
    commitSnapshot(root, Snapshot(1, 1, (0 until 3000).map(entry(_)), "doc_id BIGINT"))
    // supersede key 0 twice -> two generations of its manifest
    commitDeltaWithRetry(root)(Seq(entry(0).copy(rows = 1L)),
      p => p.pCell == 0L, removePCells = Some(Set(0L)))
    commitDeltaWithRetry(root)(Seq(entry(0).copy(rows = 2L)),
      p => p.pCell == 0L, removePCells = Some(Set(0L)))
    val manifestsBefore = Files.list(Paths.get(root, "meta", "manifests")).count()
    val (dropped, _) = expire(root, keep = 1, olderThanMs = 0L)
    assert(dropped == 2)
    val live = snapshotAt(root, 3).get
    val manifestsAfter = Files.list(Paths.get(root, "meta", "manifests")).count()
    assert(manifestsAfter == live.manifestRefs.length,
      s"GC left $manifestsAfter manifests for ${live.manifestRefs.length} refs (was $manifestsBefore)")
    assert(live.parts.length == 3000 && live.parts.find(_.pCell == 0L).get.rows == 2L)
    recursiveDelete(Paths.get(root))
  }

  test("schema-only commits read no manifests: INSERT append and ALTER ADD COLUMN") {
    val spark = graft.testutil.SparkTestBase.spark
    val frame = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    val root = Files.createTempDirectory("manifest-schema").toString
    commitSnapshot(root, Snapshot(1, 1, (0 until 3000).map(entry(_)), frame.schema.toDDL))
    assert(snapshotAt(root, 1).get.manifestRefs.length == 3)
    // the append's schema contract needs the level-1 snapshot only, and
    // its commit re-references every existing manifest unread
    val r0 = manifestReads.get()
    GraftTableWriter.append(frame, root, overwrite = false)
    assert(manifestReads.get() === r0,
      s"append read ${manifestReads.get() - r0} manifests")
    assert(currentSnapshotMeta(root).get.manifestRefs.length == 4)

    // ALTER reads nothing beyond what its closing loadTable reads
    val wh = Files.createTempDirectory("manifest-alter").toString
    val troot = s"$wh/t"
    commitSnapshot(troot, Snapshot(1, 1, (0 until 3000).map(entry(_)), "doc_id BIGINT"))
    val cat = new GraftCatalog()
    cat.initialize("gm", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty[String], "t")
    val r1 = manifestReads.get()
    cat.loadTable(id)
    val loadReads = manifestReads.get() - r1
    val r2 = manifestReads.get()
    cat.alterTable(id, org.apache.spark.sql.connector.catalog.TableChange.addColumn(
      Array("x"), org.apache.spark.sql.types.IntegerType))
    val alterReads = manifestReads.get() - r2
    assert(loadReads === 3L)
    assert(alterReads === loadReads, s"alter read $alterReads manifests, load $loadReads")
    val altered = currentSnapshotMeta(troot).get
    assert(altered.schemaVer == 2 && altered.schemaDdl.contains("x"))
    assert(altered.manifestRefs === snapshotAt(troot, 1).get.manifestRefs)
    recursiveDelete(Paths.get(root))
    recursiveDelete(Paths.get(wh))
  }

  test("tagging and branching read no manifests") {
    val root = Files.createTempDirectory("manifest-refs").toString
    commitSnapshot(root, Snapshot(1, 1, (0 until 3000).map(entry(_)), "doc_id BIGINT"))
    assert(currentSnapshotMeta(root).get.manifestRefs.length == 3)
    // the seq check is an existence test on meta/snap-<seq>.json — a
    // two-level table's manifests stay unread however many there are
    val r0 = manifestReads.get()
    tagSnapshot(root, "v1", 1)
    createBranch(root, "audit", 1)
    assert(manifestReads.get() === r0,
      s"tag + branch read ${manifestReads.get() - r0} manifests")
    assert(resolveTag(root, "v1").contains(1L) && resolveBranch(root, "audit").contains(1L))
    val noTag = intercept[IllegalArgumentException](tagSnapshot(root, "v9", 9))
    assert(noTag.getMessage.contains(s"no snapshot 9 under $root"))
    val noBranch = intercept[IllegalArgumentException](createBranch(root, "b9", 9))
    assert(noBranch.getMessage.contains(s"no snapshot 9 under $root"))
    recursiveDelete(Paths.get(root))
  }
}
