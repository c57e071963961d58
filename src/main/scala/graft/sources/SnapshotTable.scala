package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.types.StructType

/** Iceberg-style table layer (SURVEY.md §1.4) — no Iceberg jar exists in
  * this environment, so the snapshot/manifest mechanics are implemented
  * from scratch on plain parquet + JSON:
  *
  * {{{
  * root/
  *   data/p_cell=<n>/p_date=<yyyy-MM-dd>/part-N.parquet
  *   meta/snap-<seq>.json   // manifest: partition entries + min/max stats
  *   meta/CURRENT           // name of the live snapshot; ATOMIC_MOVE commit
  *   lineage/<jobId>/cell-<n>.json  // per-partition lineage + metrics
  * }}}
  *
  * Readers resolve CURRENT -> manifest -> partition file list, prune
  * partitions by their (ilat, ilon, ts) min/max stats BEFORE the parquet
  * scan — the engine's partition-pruning surface: at 100 TB the pruning
  * decision costs one small JSON read instead of a file-system walk, and
  * Spark only ever sees the matching files. The scan is planned from the
  * manifest alone: the kept entries' directories are listed on the
  * driver ([[org.apache.spark.sql.graft.ManifestFileIndex]]) and read
  * under the snapshot's recorded schema DDL ([[readSchema]]), so
  * resolving a read runs no Spark job — no listing job, no footer
  * inference. Columns an additive ALTER added read as typed nulls from
  * older files. Only a snapshot that records no DDL (legacy files,
  * hand-built snapshots) infers its schema, once, from its first entry.
  *
  * `p_date` is a directory key, not a file column. Every frame that
  * carries it — merge and delete writers, `changesBetween`, the DSv2
  * scan, the file-level stream — comes from one reader, [[readDated]]:
  * delete vectors applied, one scan per date, the key taken from each
  * entry, and the same typed shape when no entry is left. "Entries added
  * between two snapshots" has one definition too, [[addedBetween]].
  *
  * Write path: every writer turns written rows into manifest entries
  * through [[writePartitioned]] (frames carrying `p_cell`/`p_date`) or
  * [[writeEntry]] (one directory). Both take each entry's path, row count
  * and min/max stats from the files just written, so an entry describes
  * exactly the directory Spark created (partition values escaped as Spark
  * names them). Rows without (ilat, ilon, ts_sec) get bounds that prune
  * nothing. The ingest's pass-1 aggregate reuses the same [[statsAgg]]
  * columns and [[statsEntry]] decoder.
  *
  * Commit protocol: write snap-<seq>.json, then move CURRENT into place via
  * an atomic rename — readers see the old or the new snapshot, never a
  * partial one. Snapshots are immutable; history stays readable. Main
  * commits retry through one optimistic loop, [[commitWithRetry]]: delta
  * commits, compaction, rollback and schema changes rebuild their
  * snapshot against the latest CURRENT inside it. Only [[commitToBranch]]
  * keeps its own loop, because its attempt must also win the branch-ref
  * CAS.
  */
object SnapshotTable {

  /** `deletes`: merge-on-read delete files (parquet of doc_ids) layered
    * over this partition's data files — readers anti-join them, the data
    * path itself is never rewritten for a delete (the Iceberg v2 MOR
    * shape: a few deleted rows must not rewrite a 100 TB partition).
    * `rows` stays the PHYSICAL row count; min/max stats remain valid
    * supersets of the live rows. */
  /** `bloom`: optional base64 doc_id bloom filter (the key-skipping
    * index): point-lookup writers (MOR upsert/global MERGE with small key
    * sets) prune partitions that provably hold none of their keys WITHOUT
    * scanning them. Absent = always scanned (safe default — COW rewrites
    * and compaction drop it). Sized for [[graft.jobs.IngestJob.BloomKeys]]
    * keys; an over-full bloom degrades toward prune-nothing, never toward
    * a false negative. Stored in the manifest (file-level pruning BEFORE
    * planning); at extreme partition counts push blooms into parquet
    * footers instead and accept scan-time-only skipping. */
  final case class PartitionEntry(
      pCell: Long, pDate: String, path: String, rows: Long,
      minIlat: Int, maxIlat: Int, minIlon: Int, maxIlon: Int,
      minTs: Long, maxTs: Long, deletes: Seq[String] = Seq.empty,
      bloom: Option[String] = None)

  /** Driver-side bloom test: could this entry hold ANY of `keys`?
    * Entries without a bloom always qualify. */
  def mightContainAny(e: PartitionEntry, keys: Seq[Long]): Boolean =
    e.bloom.forall { b64 =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
      keys.exists(bf.mightContainLong)
    }

  /** Two-level metadata (the Iceberg manifest-list shape, round-2 verdict
    * ask #5): a snapshot may reference MANIFEST FILES (each holding a
    * group of partition entries) instead of inlining every entry. A
    * commit then writes one new manifest for its touched entries and
    * re-references the others — metadata write cost is ∝ touched
    * partitions, not table size (the flat layout rewrote ~100 MB per
    * commit at the briefed 10^6 partitions). `minPCell`/`maxPCell` let a
    * delta commit skip rewriting (or even reading) manifests that cannot
    * contain a superseded key. */
  final case class ManifestRef(path: String, nParts: Int,
      minPCell: Long, maxPCell: Long)

  /** `origin` marks which ref produced the snapshot ("main", or the
    * branch name for commitToBranch snapshots): branch commits live in
    * the same global seq space (time travel + manifest reuse need that),
    * so without the marker, seq-based time travel and the `snapshots`
    * metatable could surface unpublished branch content
    * indistinguishably from published main history. */
  /** `tsMs` is the wall-clock commit time (stamped by [[commitSnapshot]];
    * 0 for pre-stamp snapshot files) — the `TIMESTAMP AS OF` resolution
    * axis. Metadata only: never part of any hash-compared query output. */
  final case class Snapshot(seq: Long, schemaVer: Int, parts: Seq[PartitionEntry],
      schemaDdl: String = "", manifestRefs: Seq[ManifestRef] = Seq.empty,
      origin: String = "main", tsMs: Long = 0L)

  /** Entries per manifest file when a full commit auto-groups (a ~1000-
    * entry manifest is ~200 KB — the Iceberg default ballpark). */
  final val ManifestGroupSize = 1000

  private val mapper = new ObjectMapper()

  // ---- JSON codec (flat, fully controlled format; java-typed for jackson) --

  private def partToMap(p: PartitionEntry): java.util.Map[String, Object] = {
    val base = Map[String, Object](
      "p_cell" -> java.lang.Long.valueOf(p.pCell), "p_date" -> p.pDate,
      "path" -> p.path, "rows" -> java.lang.Long.valueOf(p.rows),
      "min_ilat" -> Integer.valueOf(p.minIlat), "max_ilat" -> Integer.valueOf(p.maxIlat),
      "min_ilon" -> Integer.valueOf(p.minIlon), "max_ilon" -> Integer.valueOf(p.maxIlon),
      "min_ts" -> java.lang.Long.valueOf(p.minTs), "max_ts" -> java.lang.Long.valueOf(p.maxTs)
    )
    // absent keys = no deletes / no bloom: old manifests parse unchanged
    val withDel = if (p.deletes.isEmpty) base else base + ("deletes" -> p.deletes.asJava)
    p.bloom.fold(withDel)(b => withDel + ("bloom" -> b)).asJava
  }

  def snapshotJson(s: Snapshot): String = {
    val base0 = Map[String, Object](
      "seq" -> java.lang.Long.valueOf(s.seq),
      "schema_ver" -> Integer.valueOf(s.schemaVer),
      "schema_ddl" -> s.schemaDdl)
    // absent keys = "main" / unstamped: pre-origin snapshot files parse
    // unchanged
    val base1 = if (s.origin == "main") base0 else base0 + ("origin" -> s.origin)
    val base =
      if (s.tsMs == 0L) base1
      else base1 + ("ts_ms" -> java.lang.Long.valueOf(s.tsMs))
    val m =
      (if (s.manifestRefs.nonEmpty)
        base + ("manifests" -> s.manifestRefs.map(refToMap).asJava)
      else base + ("parts" -> s.parts.map(partToMap).asJava)).asJava
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)
  }

  private def refToMap(r: ManifestRef): java.util.Map[String, Object] =
    Map[String, Object](
      "path" -> r.path, "n_parts" -> Integer.valueOf(r.nParts),
      "min_p_cell" -> java.lang.Long.valueOf(r.minPCell),
      "max_p_cell" -> java.lang.Long.valueOf(r.maxPCell)).asJava

  private def nodeToPart(n: com.fasterxml.jackson.databind.JsonNode): PartitionEntry =
    PartitionEntry(
      n.get("p_cell").asLong(), n.get("p_date").asText(), n.get("path").asText(),
      n.get("rows").asLong(),
      n.get("min_ilat").asInt(), n.get("max_ilat").asInt(),
      n.get("min_ilon").asInt(), n.get("max_ilon").asInt(),
      n.get("min_ts").asLong(), n.get("max_ts").asLong(),
      Option(n.get("deletes")).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty),
      Option(n.get("bloom")).map(_.asText()))

  /** Parse a snapshot file. Two-level snapshots resolve their manifest
    * files (absolute paths) into the flat `parts` view every existing
    * reader consumes; `manifestRefs` keeps the level-1 structure for
    * delta commits and manifest GC. */
  def parseSnapshot(json: String): Snapshot = {
    val meta = parseSnapshotMeta(json)
    if (meta.manifestRefs.isEmpty) meta
    else meta.copy(parts = meta.manifestRefs.flatMap(r => readManifest(r.path)))
  }

  /** Level-1-only parse: refs + inline parts, WITHOUT reading any
    * manifest file — the commit path's view (a delta commit must not pay
    * an O(table) metadata read to re-reference untouched manifests). For
    * a two-level snapshot the returned `parts` is EMPTY. */
  def parseSnapshotMeta(json: String): Snapshot = {
    val root = mapper.readTree(json)
    val ddl = Option(root.get("schema_ddl")).map(_.asText()).getOrElse("")
    val refs = Option(root.get("manifests")).map(_.elements().asScala.map { n =>
      ManifestRef(n.get("path").asText(), n.get("n_parts").asInt(),
        n.get("min_p_cell").asLong(), n.get("max_p_cell").asLong())
    }.toSeq).getOrElse(Seq.empty)
    val inline =
      if (refs.nonEmpty) Seq.empty
      else root.get("parts").elements().asScala.map(nodeToPart).toSeq
    Snapshot(root.get("seq").asLong(), root.get("schema_ver").asInt(), inline, ddl, refs,
      Option(root.get("origin")).map(_.asText()).getOrElse("main"),
      Option(root.get("ts_ms")).map(_.asLong()).getOrElse(0L))
  }

  private def snapshotMetaAt(root: String, seq: Long): Option[Snapshot] = {
    val p = Paths.get(root, "meta", s"snap-$seq.json")
    if (!Files.exists(p)) None else Some(parseSnapshotMeta(Files.readString(p)))
  }

  /** Latest MAIN-origin snapshot committed at or before wall-clock
    * `tsMs` — the `TIMESTAMP AS OF` resolution rule. Branch-origin
    * snapshots are excluded (unpublished content must not surface
    * through time travel by accident), as are pre-stamp files (ts 0). */
  def snapshotSeqAsOf(root: String, tsMs: Long): Option[Long] =
    snapshotSeqs(root).flatMap(snapshotMetaAt(root, _))
      .filter(s => s.origin == "main" && s.tsMs > 0 && s.tsMs <= tsMs)
      .map(_.seq).sorted.lastOption

  /** Test seam: number of manifest files read in this JVM — the
    * ManifestScaleSpec gate on commit metadata READ cost. */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong

  /** Test seam: (endpoint partitions scanned, endpoint partitions total)
    * of the most recent changelogBetween — the gate on the bloom-pruned
    * endpoint scan (cost ∝ delta, not table size). */
  val changelogEndpointParts =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** One manifest file = a JSON array of partition entries. */
  def readManifest(path: String): Seq[PartitionEntry] = {
    manifestReads.incrementAndGet()
    mapper.readTree(Files.readString(Paths.get(path)))
      .elements().asScala.map(nodeToPart).toSeq
  }

  /** Write a manifest file under meta/manifests (uuid-named — immutable
    * once referenced; orphans from lost commit races are GC'd by expire's
    * grace-windowed sweep). Entries are sorted so the ref's key range is
    * tight. */
  def writeManifest(root: String, entries: Seq[PartitionEntry]): ManifestRef = {
    require(entries.nonEmpty, "empty manifest")
    val dir = Paths.get(root, "meta", "manifests")
    Files.createDirectories(dir)
    val sorted = entries.sortBy(e => (e.pCell, e.pDate))
    val p = dir.resolve(s"m-${java.util.UUID.randomUUID().toString.take(12)}.json")
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(sorted.map(partToMap).asJava))
    ManifestRef(p.toString, sorted.length, sorted.head.pCell, sorted.last.pCell)
  }

  // ---- snapshot resolution + atomic commit --------------------------------

  def currentSeq(root: String): Option[Long] = {
    val cur = Paths.get(root, "meta", "CURRENT")
    if (!Files.exists(cur)) None
    else {
      val name = Files.readString(cur).trim // "snap-<seq>.json"
      Some(name.stripPrefix("snap-").stripSuffix(".json").toLong)
    }
  }

  def currentSnapshot(root: String): Option[Snapshot] =
    currentSeq(root).flatMap(snapshotAt(root, _))

  /** Level-1 view of the CURRENT snapshot ([[parseSnapshotMeta]]): schema
    * and manifest refs without reading any manifest file. */
  def currentSnapshotMeta(root: String): Option[Snapshot] =
    currentSeq(root).flatMap(snapshotMetaAt(root, _))

  /** Time travel: any committed snapshot stays readable by seq (snapshots
    * are immutable; data files are attempt-versioned and never rewritten
    * once referenced — see IngestJob). */
  def snapshotAt(root: String, seq: Long): Option[Snapshot] = {
    val p = Paths.get(root, "meta", s"snap-$seq.json")
    if (!Files.exists(p)) None else Some(parseSnapshot(Files.readString(p)))
  }

  /** Snapshot `seq`; fails loudly when it was never committed or has
    * been expired. */
  def requireSnapshot(root: String, seq: Long): Snapshot =
    snapshotAt(root, seq).getOrElse(
      throw new IllegalStateException(s"no snapshot $seq under $root"))

  /** The CURRENT snapshot; fails loudly when the root holds none. */
  def requireCurrent(root: String): Snapshot = requireCurrent(root, currentSnapshot(root))

  /** `snap`, a view of CURRENT the caller resolved itself (level-1 or
    * pinned at load), failing like [[requireCurrent]] when absent. */
  def requireCurrent(root: String, snap: Option[Snapshot]): Snapshot =
    snap.getOrElse(throw new IllegalStateException(s"no CURRENT snapshot under $root"))

  /** Bottom-up recursive delete with closed streams — the ONE copy of the
    * walk-reverse-delete idiom (expire, snapshotDiff rebuilds). */
  def recursiveDelete(p: Path): Unit =
    withWalk(p)(_.toSeq.reverse.foreach(Files.deleteIfExists(_)))

  /** Run `f` over a closed-afterwards directory stream (Files.list/walk
    * leak one fd each until GC otherwise — a maintenance pass over tens of
    * thousands of partition dirs would hit EMFILE). */
  private def withList[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }
  private def withWalk[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** All committed snapshot seqs, ascending. */
  def snapshotSeqs(root: String): Seq[Long] = {
    val meta = Paths.get(root, "meta")
    if (!Files.exists(meta)) Seq.empty
    else withList(meta)(_.map(_.getFileName.toString)
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(_.stripPrefix("snap-").stripSuffix(".json").toLong)
      .toSeq).sorted
  }

  /** Two writers raced a commit to the same seq; retry with a fresh seq. */
  final class SnapshotConflictException(msg: String) extends RuntimeException(msg)

  /** Write snap-<seq>.json (CAS: fails if that seq is already committed)
    * and atomically flip CURRENT to it. The hard-link publish is the
    * compare-and-swap: two concurrent writers computing the same next seq
    * can both write their temp manifest, but only one link lands — the
    * loser gets SnapshotConflictException instead of silently overwriting
    * (ADVICE r1: the commit path was an unlocked read-modify-write).
    * CURRENT only ever advances. */
  def commitSnapshot(root: String, snap0: Snapshot): Unit =
    commitSnapshot(root, snap0, advanceCurrent = true)

  /** `advanceCurrent = false` commits the snapshot file WITHOUT moving the
    * main (CURRENT) ref — the branch-commit path: the snapshot joins the
    * global seq space (time travel by seq works) but main readers never
    * see it until a fast-forward publishes it. */
  def commitSnapshot(root: String, snap0: Snapshot, advanceCurrent: Boolean): Unit = {
    // large FULL commits auto-group their inline entries into manifest
    // files so the snapshot file itself stays metadata-sized; delta
    // commits (refs already set) and small tables pass through unchanged
    val snap1 =
      if (snap0.manifestRefs.isEmpty && snap0.parts.length >= 2 * ManifestGroupSize)
        snap0.copy(manifestRefs = snap0.parts.sortBy(e => (e.pCell, e.pDate))
          .grouped(ManifestGroupSize).map(writeManifest(root, _)).toSeq)
      else snap0
    // stamp the commit time once, here, so EVERY commit path (full,
    // delta, branch, rollback) gets a TIMESTAMP-AS-OF axis for free
    val snap = if (snap1.tsMs != 0L) snap1
      else snap1.copy(tsMs = System.currentTimeMillis())
    val meta = Paths.get(root, "meta")
    Files.createDirectories(meta)
    val target = meta.resolve(s"snap-${snap.seq}.json")
    val tmp = meta.resolve(s".snap-${snap.seq}.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, snapshotJson(snap))
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new SnapshotConflictException(
          s"snapshot ${snap.seq} already committed under $root")
    }
    Files.deleteIfExists(tmp)
    if (!advanceCurrent) return
    // CURRENT advance under a per-root JVM monitor + an OS file lock: the
    // naked check-then-move was a race (two CAS winners on different seqs
    // could flip CURRENT backwards). The monitor serializes same-JVM
    // writers — FileChannel.lock THROWS OverlappingFileLockException
    // rather than blocking when another thread of this JVM holds the OS
    // lock; the file lock covers cross-process writers.
    val mon = currentAdvanceLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)
    mon.synchronized {
      val lockPath = meta.resolve(".CURRENT.lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!currentSeq(root).exists(_ > snap.seq)) {
            val cur = meta.resolve(s".CURRENT.tmp-${snap.seq}")
            Files.writeString(cur, s"snap-${snap.seq}.json")
            Files.move(cur, meta.resolve("CURRENT"),
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          }
        } finally lock.release()
      } finally ch.close()
    }
  }

  private val currentAdvanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The one retry loop of main commits: re-resolve the latest committed
    * seq, rebuild the snapshot through `build` (which must re-merge
    * against the now-current state), and commit — the standard
    * optimistic-concurrency pattern over the CAS above. */
  def commitWithRetry(root: String, maxRetries: Int = 10)(build: Long => Snapshot): Snapshot = {
    var attempt = 0
    while (true) {
      val seq = snapshotSeqs(root).lastOption.getOrElse(0L) + 1
      val snap = build(seq)
      try { commitSnapshot(root, snap); return snap }
      catch {
        case e: SnapshotConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DELTA commit (the metadata-scalable write path, verdict r2 ask #5):
    * append `newEntries` and drop every base entry matching `removeKey`,
    * rewriting only the MANIFESTS that change. Per attempt:
    *
    *  - the base snapshot is parsed LEVEL-1 ONLY (`parseSnapshotMeta`) —
    *    manifests whose [minPCell, maxPCell] range cannot hold a removed
    *    key are re-referenced by path with zero bytes read OR written;
    *  - manifests that may hold removed keys are read once and, when
    *    entries actually match, rewritten without them (Iceberg's
    *    rewrite-affected-manifests rule);
    *  - `newEntries` land in ONE new manifest, written once and reused
    *    across commit-race retries.
    *
    * Total metadata I/O per commit is therefore ∝ touched manifests, both
    * read and write. A base snapshot still storing INLINE parts (small
    * table) is converted on first delta commit. `removePCells`: the
    * p_cell values `removeKey` can match — the range skip; pass None when
    * the predicate is not cell-bounded (every manifest is then checked,
    * still write-optimal). `validate` receives the entries of every
    * possibly-affected manifest (superset of all entries whose p_cell is
    * in `removePCells`) inside each attempt — the optimistic-concurrency
    * conflict surface. Schema ver/ddl carry forward from the base unless
    * overridden.
    *
    * The returned Snapshot resolves the full `parts` view only when
    * `resolveResult` (one metadata pass, reusing the already-read
    * manifests); hot-path writers that only need the committed seq pass
    * false and get `parts` empty (refs always set). */
  def commitDeltaWithRetry(root: String, maxRetries: Int = 10)(
      newEntries: Seq[PartitionEntry], removeKey: PartitionEntry => Boolean,
      removePCells: Option[Set[Long]] = None,
      schemaVer: Option[Int] = None, schemaDdl: Option[String] = None,
      validate: Seq[PartitionEntry] => Unit = _ => (),
      resolveResult: Boolean = true): Snapshot = {
    val newRef = if (newEntries.nonEmpty) Some(writeManifest(root, newEntries)) else None
    commitWithRetry(root, maxRetries) { seq =>
      // base on MAIN's CURRENT ref, NEVER the latest seq file: branch
      // commits (and orphaned lost-race branch snapshots) share the seq
      // space without advancing CURRENT — basing on seq-1 would silently
      // merge unpublished branch content into the next main commit
      val base = currentSnapshotMeta(root)
      val baseRefs: Seq[ManifestRef] = base match {
        case Some(b) if b.manifestRefs.nonEmpty => b.manifestRefs
        case Some(b) if b.parts.nonEmpty => Seq(writeManifest(root, b.parts))
        case _ => Seq.empty
      }
      // read possibly-affected manifests ONCE; untouched refs cost nothing
      val affected: Seq[(ManifestRef, Seq[PartitionEntry])] = baseRefs.flatMap { r =>
        val mayHold = removePCells.forall(_.exists(c => c >= r.minPCell && c <= r.maxPCell))
        if (mayHold) Some(r -> readManifest(r.path)) else None
      }
      validate(affected.flatMap(_._2))
      val affectedOut: Map[String, Option[(ManifestRef, Seq[PartitionEntry])]] =
        affected.map { case (r, entries) =>
          val kept = entries.filterNot(removeKey)
          r.path -> (
            if (kept.length == entries.length) Some(r -> entries)
            else if (kept.isEmpty) None
            else Some(writeManifest(root, kept) -> kept))
        }.toMap
      val keptRefs: Seq[(ManifestRef, Option[Seq[PartitionEntry]])] = baseRefs.flatMap { r =>
        affectedOut.get(r.path) match {
          case None => Some(r -> None) // untouched, never read
          case Some(Some((r2, es))) => Some(r2 -> Some(es))
          case Some(None) => None // fully superseded
        }
      } ++ newRef.map(_ -> Some(newEntries))
      val parts =
        if (!resolveResult) Seq.empty
        else keptRefs.flatMap { case (r, es) => es.getOrElse(readManifest(r.path)) }
      Snapshot(seq, schemaVer.orElse(base.map(_.schemaVer)).getOrElse(1), parts,
        schemaDdl.orElse(base.map(_.schemaDdl)).getOrElse(""), keptRefs.map(_._1))
    }
  }

  // ---- write path: written files -> manifest entries -----------------------

  /** Does a frame of `schema` carry the (ilat, ilon, ts_sec) trio the
    * manifest stats describe? */
  private[graft] def hasGeo(schema: StructType): Boolean =
    Seq("ilat", "ilon", "ts_sec").forall(schema.fieldNames.contains)

  /** The manifest stats of a row group as aggregate columns: the row
    * count, then — when `geo` — min/max of ilat, ilon and ts_sec.
    * [[statsEntry]] decodes them. */
  private[graft] def statsAgg(geo: Boolean): Seq[Column] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    count(lit(1)).as("rows") +: (if (!geo) Nil else Seq(
      min(col("ilat")), max(col("ilat")), min(col("ilon")), max(col("ilon")),
      min(col("ts_sec")), max(col("ts_sec"))))
  }

  /** The entry whose [[statsAgg]] columns start at `r(i)`. Without geo
    * stats the bounds prune nothing. */
  private[graft] def statsEntry(pCell: Long, pDate: String, path: String, r: Row, i: Int,
      geo: Boolean): PartitionEntry =
    if (geo) PartitionEntry(pCell, pDate, path, r.getLong(i),
      r.getInt(i + 1), r.getInt(i + 2), r.getInt(i + 3), r.getInt(i + 4),
      r.getLong(i + 5), r.getLong(i + 6))
    else PartitionEntry(pCell, pDate, path, r.getLong(i),
      Int.MinValue, Int.MaxValue, Int.MinValue, Int.MaxValue, Long.MinValue, Long.MaxValue)

  /** Write `df` under `dir`, one directory per (p_cell, p_date) —
    * `pc=<p_cell>/p_date=<p_date>`, `pc=0` for a frame without `p_cell`;
    * `p_cell` stays a data column, `p_date` is only the directory key —
    * and return one entry per directory written (none for an empty
    * frame). Stats come from the files just written, never from
    * re-evaluating `df`: a non-deterministic input must not produce stats
    * describing rows the files don't hold. */
  def writePartitioned(df: DataFrame, dir: String): Seq[PartitionEntry] = {
    import org.apache.spark.sql.functions.{col, lit}
    df.withColumn("pc", if (df.columns.contains("p_cell")) col("p_cell") else lit(0L))
      .write.mode(SaveMode.Overwrite).partitionBy("pc", "p_date").parquet(dir)
    writtenEntries(df.sparkSession, dir, df.drop("p_date").schema)
  }

  /** Write `df` as the one entry (pCell, pDate) at `dir`, stats from the
    * files just written (0 rows and prune-nothing bounds when empty). */
  def writeEntry(df: DataFrame, dir: String, pCell: Long, pDate: String): PartitionEntry = {
    df.write.mode(SaveMode.Overwrite).parquet(dir)
    writtenEntries(df.sparkSession, dir, df.schema).headOption
      .getOrElse(statsEntry(pCell, pDate, Paths.get(dir).toAbsolutePath.normalize.toString,
        Row(0L), 0, geo = false))
      .copy(pCell = pCell, pDate = pDate)
  }

  /** One entry per directory holding files under `dir`, from one
    * aggregate over a manifest scan of `dir` (no listing or inference
    * job) grouped by the directory of each row's file. The path is the
    * directory Spark created; `pCell`/`pDate` are its `pc=`/`p_date=` keys,
    * unescaped. */
  private def writtenEntries(spark: SparkSession, dir: String,
      fileSchema: StructType): Seq[PartitionEntry] = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val geo = hasGeo(fileSchema)
    val agg = statsAgg(geo)
    ManifestFileIndex.scan(spark, Seq(dir), fileSchema)
      .groupBy(regexp_replace(col("_metadata.file_path"), "/[^/]*$", ""))
      .agg(agg.head, agg.tail: _*)
      .collect().toSeq
      .map { r =>
        val path = new java.net.URI(r.getString(0)).getPath
        val keys = path.split('/').toSeq.flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> unescapePathName(v))
          case _ => None
        }).toMap
        statsEntry(keys.get("pc").fold(0L)(_.toLong), keys.getOrElse("p_date", ""),
          path, r, 1, geo)
      }
      .sortBy(e => (e.pCell, e.pDate))
  }

  // ---- pruned read ---------------------------------------------------------

  final case class Pruning(
      minIlat: Option[Int] = None, maxIlat: Option[Int] = None,
      minIlon: Option[Int] = None, maxIlon: Option[Int] = None,
      minTs: Option[Long] = None, maxTs: Option[Long] = None,
      dates: Option[Set[String]] = None)

  def prunedParts(snap: Snapshot, p: Pruning): Seq[PartitionEntry] =
    snap.parts.filter { e =>
      p.minIlat.forall(v => e.maxIlat >= v) && p.maxIlat.forall(v => e.minIlat <= v) &&
      p.minIlon.forall(v => e.maxIlon >= v) && p.maxIlon.forall(v => e.minIlon <= v) &&
      p.minTs.forall(v => e.maxTs >= v) && p.maxTs.forall(v => e.minTs <= v) &&
      p.dates.forall(ds => ds.contains(e.pDate))
    }

  /** Reader-side schema evolution: step functions keyed by the schema
    * version they migrate FROM. A snapshot written at schema_ver v is
    * migrated v -> v+1 -> ... while steps are registered — old snapshots
    * stay readable through schema changes without rewriting their files
    * (the Iceberg read-schema-evolution model). */
  type Migrations = Map[Int, DataFrame => DataFrame]

  def migrate(df: DataFrame, fromVer: Int, migrations: Migrations): DataFrame = {
    var out = df
    var v = fromVer
    while (migrations.contains(v)) { out = migrations(v)(out); v += 1 }
    out
  }

  /** Resolve CURRENT, prune partitions by stats, read only matching files.
    * Returns (dataframe, partitionsRead, partitionsTotal). */
  def read(spark: SparkSession, root: String, p: Pruning = Pruning(),
      migrations: Migrations = Map.empty): (DataFrame, Int, Int) =
    readSnapshot(spark, requireCurrent(root), p, migrations)

  /** Time-travel read of snapshot `seq` with the same pruning surface. */
  def readAt(spark: SparkSession, root: String, seq: Long,
      p: Pruning = Pruning(), migrations: Migrations = Map.empty): (DataFrame, Int, Int) =
    readSnapshot(spark, requireSnapshot(root, seq), p, migrations)

  private def readSnapshot(spark: SparkSession, snap: Snapshot,
      p: Pruning, migrations: Migrations): (DataFrame, Int, Int) = {
    val keep = prunedParts(snap, p)
    val schema = readSchema(spark, snap)
    // zero kept entries (an empty snapshot, or stats pruned every entry):
    // the typed empty frame, a scan of no files under the table schema
    val df =
      if (keep.isEmpty) ManifestFileIndex.scan(spark, Nil, schema)
      else applyDeletes(spark, keep, schema)
    (migrate(df, snap.schemaVer, migrations), keep.length, snap.parts.length)
  }

  /** The schema every read of `snap` scans its files under: the DDL the
    * snapshot records (schema-on-read — files written before an additive
    * ALTER lack the new column and surface it as typed nulls). A snapshot
    * that records no DDL (legacy files, hand-built snapshots) infers it
    * once from its first entry's footers; with no entries either, the
    * schema is empty. */
  def readSchema(spark: SparkSession, snap: Snapshot): StructType =
    if (snap.schemaDdl.nonEmpty) StructType.fromDDL(snap.schemaDdl)
    else snap.parts.headOption.fold(new StructType())(e => spark.read.parquet(e.path).schema)

  /** Row identity read from delete vectors and changed files. */
  private val DocIdSchema = StructType.fromDDL("doc_id BIGINT")

  /** Merge-on-read read path with Iceberg-v2 delete SEQUENCING: a delete
    * ref masks ONLY the entries that carry it — a data file appended
    * AFTER a delete was committed (e.g. a MOR upsert's new rows reusing
    * the same doc_ids) is never masked by that earlier delete, because
    * only the PRE-EXISTING entries had the ref layered onto them.
    * doc_id is the row identity within a scope: ids absent from an entry
    * simply don't match. Entries sharing an identical delete set (the
    * overwhelmingly common no-deletes case) read in ONE multi-path scan,
    * so the fast path stays a single parquet read; delete sets are
    * commit-bounded and broadcast.
    *
    * Every scan reads the manifest's own file list under `schema`
    * (normally [[readSchema]] of the snapshot the entries came from)
    * through [[ManifestFileIndex]]: no listing or footer-inference job
    * runs before the frame is acted on. */
  def applyDeletes(spark: SparkSession, entries: Seq[PartitionEntry],
      schema: StructType): DataFrame = {
    require(entries.nonEmpty, "applyDeletes needs at least one entry")
    // Scope granularity is the delete COMMIT (the vector dir), not the
    // individual per-partition vector file: one delete commit writes one
    // vector file per touched partition, and grouping on the exact ref
    // lists would explode the plan into per-entry scan branches
    // (O(partitions) — a measured 16x q87 regression). Entries touched by
    // the same commit SET share sequencing scope by construction, and
    // doc_id is globally unique per snapshot, so anti-joining a commit's
    // full vector union can never mask a foreign partition's rows.
    def commitDirs(e: PartitionEntry): Seq[String] =
      e.deletes.map(p => Paths.get(p).getParent.getParent.toString).distinct.sorted
    entries.groupBy(commitDirs).toSeq
      .sortBy(_._2.map(_.path).min) // deterministic group order
      .map { case (_, es) =>
        val df = ManifestFileIndex.scan(spark, es.map(_.path), schema)
        val dels = es.flatMap(_.deletes).distinct
        if (dels.isEmpty) df
        else {
          require(df.columns.contains("doc_id"),
            "merge-on-read deletes need the doc_id row-identity column")
          val ids = ManifestFileIndex.scan(spark, dels, DocIdSchema).distinct()
          df.join(org.apache.spark.sql.functions.broadcast(ids), Seq("doc_id"), "left_anti")
        }
      }.reduce(_.unionByName(_))
  }

  /** The one reader of rows with their `p_date` directory key: the live
    * rows of `entries` read under `schema` ([[applyDeletes]], one scan per
    * date), `p_date` set from each entry's manifest key. No entries: the
    * typed empty frame of the same shape. */
  def readDated(spark: SparkSession, entries: Seq[PartitionEntry],
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.lit
    entries.groupBy(_.pDate).toSeq.sortBy(_._1)
      .map { case (d, es) => applyDeletes(spark, es, schema).withColumn("p_date", lit(d)) }
      .reduceOption(_.unionByName(_))
      .getOrElse(ManifestFileIndex.scan(spark, Nil, schema).withColumn("p_date", lit("")))
  }

  /** Entries `to` references that `from` does not — the files appended or
    * rewritten between two snapshots; every entry of `to` without `from`. */
  def addedBetween(from: Option[Snapshot], to: Snapshot): Seq[PartitionEntry] = {
    val old = from.fold(Set.empty[String])(_.parts.map(_.path).toSet)
    to.parts.filterNot(e => old(e.path))
  }

  /** ROW-level CDC (the Iceberg changelog-view analog, on top of the
    * file-level [[changesBetween]]): the NET per-key changes between two
    * snapshots as (op, row) with op ∈ I/U/D — insert, update (content
    * differs), delete. A key inserted and deleted within the window nets
    * to nothing; carried-over rows resurfaced by COW rewrites are
    * filtered by content comparison (md5(text), n_chars).
    *
    * Scale shape: CANDIDATE keys come only from the window's delta — rows
    * of files added between the snapshots plus ids in delete vectors
    * layered between them — so candidate volume ∝ delta. Both endpoint
    * states are then read semi-joined to the candidates, with the
    * endpoint scans bloom-pruned by a bounded candidate-key sample (the
    * per-partition doc_id blooms of A24): when the window is
    * point-lookup-sized, endpoint read cost ∝ delta too, not table
    * size. `changelogEndpointParts` is the observable seam. */
  def changelogBetween(spark: SparkSession, root: String, fromSeq: Long,
      toSeq: Long, payload: Seq[String] = Seq("lang", "n_chars"),
      cache: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromSeq < toSeq, s"fromSeq $fromSeq must precede toSeq $toSeq")
    val (from, to) = (requireSnapshot(root, fromSeq), requireSnapshot(root, toSeq))
    // candidate keys: everything a file-level change between the two
    // snapshots can possibly touch — rows of ADDED files, rows of REMOVED
    // files (a compact that materialized deletes, a rollback that dropped
    // an append), and ids in delete vectors layered OR un-layered in the
    // window (an un-layered vector = a rollback resurrecting rows).
    val added = addedBetween(Some(from), to).map(_.path)
    val removed = addedBetween(Some(to), from).map(_.path)
    val fromDelRefs = from.parts.flatMap(_.deletes).toSet
    val toDelRefs = to.parts.flatMap(_.deletes).toSet
    val changedDels =
      ((toDelRefs -- fromDelRefs) ++ (fromDelRefs -- toDelRefs)).toSeq.sorted
    val cands = (Seq(added, removed, changedDels).filter(_.nonEmpty).map(ps =>
      ManifestFileIndex.scan(spark, ps, DocIdSchema)))
      .reduceOption(_.unionByName(_)).map(_.distinct())
    cands match {
      case None => // no file-level delta at all: empty changelog
        // payload columns keep the TABLE's types (from the endpoint
        // snapshot's DDL), not a blanket STRING — callers that union
        // windows or schema-match must see the same frame shape as the
        // populated branch
        val ddlTypes: Map[String, String] =
          Option(to.schemaDdl).filter(_.nonEmpty)
            .map(d => org.apache.spark.sql.types.StructType.fromDDL(d)
              .fields.map(f => f.name -> f.dataType.sql).toMap)
            .getOrElse(Map.empty)
        // and like the populated branch, payload columns the table doesn't
        // have are dropped, not null-padded
        val pay0 =
          if (ddlTypes.isEmpty) payload
          else payload.filter(ddlTypes.contains)
        spark.range(0).selectExpr(
          Seq("CAST('' AS STRING) AS op", "id AS doc_id") ++
            pay0.map(p => s"CAST(NULL AS ${ddlTypes.getOrElse(p, "STRING")}) AS `$p`"): _*)
      case Some(c0) =>
        // cache=false: single-consumption callers (the CDC stream — no
        // per-batch CacheBag release point) recompute the candidate scan
        // per semi-join instead of holding a cache entry
        val c = if (cache) {
          val p = c0.persist(); graft.util.CacheBag.register(p); p
        } else c0
        // Endpoint-scan pruning via the per-partition doc_id blooms (the
        // skipping index this scaladoc used to promise): when the
        // candidate key set is point-lookup-sized, endpoint partitions
        // whose bloom provably holds none of them are skipped — endpoint
        // read cost then tracks the DELTA, not table size (a typical CDC
        // window touches a handful of partitions of a huge table). Bloom
        // false positives only ADD partitions; bloomless entries always
        // scan; larger candidate sets fall back to the full endpoint scan
        // they would need anyway.
        val keySample: Option[Seq[Long]] = {
          val cap = 10000
          if (!(from.parts ++ to.parts).exists(_.bloom.isDefined)) None
          else {
            val s = c.limit(cap + 1).collect()
            if (s.isEmpty || s.length > cap) None else Some(s.map(_.getLong(0)).toSeq)
          }
        }
        def prune(parts: Seq[PartitionEntry]): Seq[PartitionEntry] =
          keySample.fold(parts)(ks => parts.filter(p => mightContainAny(p, ks)))
        val (fromKept, toKept) = (prune(from.parts), prune(to.parts))
        changelogEndpointParts.set(
          (fromKept.length + toKept.length, from.parts.length + to.parts.length))
        def live(snap: Snapshot, kept: Seq[PartitionEntry]): Option[DataFrame] =
          if (kept.isEmpty) None else Some(applyDeletes(spark, kept, readSchema(spark, snap)))
        val (oAll, nAll) = (live(from, fromKept), live(to, toKept))
        // generic over the table shape: only doc_id is required; content
        // equality is an md5 over ALL shared columns (sorted for a
        // deterministic JSON rendering), so an update to ANY column —
        // not just text — surfaces as U. Payload columns are reported
        // when the schema has them.
        val shared: Seq[String] = ((oAll, nAll) match {
          case (Some(o), Some(n)) => o.columns.intersect(n.columns).toSeq
          case (Some(o), None) => o.columns.toSeq
          case (None, Some(n)) => n.columns.toSeq
          case _ => Seq("doc_id")
        }).sorted
        require(shared.contains("doc_id"),
          "changelog needs the doc_id row-identity column")
        val pay = payload.filter(shared.contains)
        def st(df: DataFrame): DataFrame = {
          // binary columns (html) hash through md5 first — to_json has no
          // stable rendering for BinaryType
          val fields = shared.map(cn => df.schema(cn).dataType match {
            case org.apache.spark.sql.types.BinaryType => md5(col(cn)).as(cn)
            case _ => col(cn)
          })
          df.join(c, Seq("doc_id"), "left_semi")
            .select(Seq(col("doc_id"),
              md5(to_json(struct(fields: _*))).as("h")) ++ pay.map(col): _*)
        }
        val (o, n) = (oAll, nAll) match {
          case (Some(of), Some(nf)) => (st(of), st(nf))
          case (Some(of), None) => val s = st(of); (s, s.limit(0))
          case (None, Some(nf)) => val s = st(nf); (s.limit(0), s)
          case _ => val e = spark.range(0).selectExpr("id AS doc_id",
            "CAST('' AS STRING) AS h"); (e, e)
        }
        o.select(Seq(col("doc_id"), col("h").as("o_h")) ++
            pay.map(p => col(p).as(s"o_$p")): _*)
          .join(n.select(Seq(col("doc_id"), col("h").as("n_h")) ++
            pay.map(p => col(p).as(s"n_$p")): _*), Seq("doc_id"), "full_outer")
          .withColumn("op",
            when(col("o_h").isNull, lit("I"))
              .when(col("n_h").isNull, lit("D"))
              .when(col("o_h") =!= col("n_h"), lit("U")))
          .filter(col("op").isNotNull) // unchanged carried-over rows net out
          .select(Seq(col("op"), col("doc_id")) ++
            pay.map(p => coalesce(col(s"n_$p"), col(s"o_$p")).as(p)): _*)
    }
  }

  /** CDC-style incremental read (the Iceberg incremental-scan analog):
    * the rows of every partition file snapshot `toSeq` references that
    * snapshot `fromSeq` does not — i.e. the appended AND rewritten files
    * between the two snapshots. File-granular by design: a COW rewrite
    * (MERGE) surfaces its whole rewritten partition, carried-over rows
    * included — the consumer dedups on its key if it needs row-level
    * changes (same caveat Iceberg documents for non-append commits).
    * Bytes read ∝ delta, never table size. Returns (frame, deltaParts,
    * totalParts); rows come from [[readDated]], `p_date` included, and an
    * empty delta is the typed empty frame of the same shape. */
  def changesBetween(spark: SparkSession, root: String, fromSeq: Long,
      toSeq: Long): (DataFrame, Int, Int) = {
    require(fromSeq < toSeq, s"fromSeq $fromSeq must precede toSeq $toSeq")
    val (from, to) = (requireSnapshot(root, fromSeq), requireSnapshot(root, toSeq))
    val delta = addedBetween(Some(from), to)
    // delivered rows honor the TO snapshot's delete vectors — a delta
    // file never surfaces rows already deleted as of `toSeq`
    (readDated(spark, delta, readSchema(spark, to)), delta.length, to.parts.length)
  }

  /** DELETIONS between two snapshots: the doc_ids of every delete file
    * `toSeq` references that `fromSeq` does not. Delete commits add no
    * data files, so they are INVISIBLE to [[changesBetween]] / the
    * streaming source (file-level CDC) — a downstream replica applies
    * this id set alongside the row delta to stay consistent. */
  def deleteDeltaBetween(spark: SparkSession, root: String, fromSeq: Long,
      toSeq: Long): DataFrame = {
    require(fromSeq < toSeq, s"fromSeq $fromSeq must precede toSeq $toSeq")
    val (from, to) = (requireSnapshot(root, fromSeq), requireSnapshot(root, toSeq))
    val old = from.parts.flatMap(_.deletes).toSet
    val fresh = to.parts.flatMap(_.deletes).distinct.filterNot(old)
    if (fresh.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
    else ManifestFileIndex.scan(spark, fresh, DocIdSchema).distinct()
  }

  // ---- named refs (Iceberg tag analog) -------------------------------------

  /** Iceberg-style rollback (set-current-snapshot): commit a NEW snapshot
    * whose content is snapshot `seq`'s. History is preserved — the bad
    * snapshots stay time-travelable until `expire` GCs them — and the
    * metadata cost is O(1) regardless of table size: the target's
    * manifest refs are RE-REFERENCED verbatim (manifest files are
    * immutable), never read, resolved, or rewritten. Re-referencing also
    * makes them live again, so a later `expire` keeps every file the
    * rolled-back state needs. A small target still storing inline parts
    * is carried inline. */
  def rollback(root: String, seq: Long): Snapshot = {
    val p = Paths.get(root, "meta", s"snap-$seq.json")
    require(Files.exists(p), s"rollback: no snapshot $seq under $root")
    val target = parseSnapshotMeta(Files.readString(p))
    commitWithRetry(root) { next =>
      Snapshot(next, target.schemaVer, target.parts, target.schemaDdl, target.manifestRefs)
    }
  }

  /** Tag a committed snapshot with a stable name (`meta/refs/<name>`,
    * atomic-rename write). Tags pin snapshots against [[expire]] (tagged
    * seqs are always retained) and resolve in [[readTag]] /
    * `option("snapshot", ...)`-style flows — the "models trained on
    * corpus-v3" reproducibility handle. */
  def tagSnapshot(root: String, name: String, seq: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name '$name'")
    // an existence check, as in rollback: reads no manifest
    require(Files.exists(Paths.get(root, "meta", s"snap-$seq.json")),
      s"no snapshot $seq under $root")
    val dir = Paths.get(root, "meta", "refs")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, seq.toString)
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def resolveTag(root: String, name: String): Option[Long] = {
    val p = Paths.get(root, "meta", "refs", name)
    if (!Files.exists(p)) None else Some(Files.readString(p).trim.toLong)
  }

  def listTags(root: String): Seq[(String, Long)] = {
    val dir = Paths.get(root, "meta", "refs")
    if (!Files.exists(dir)) Seq.empty
    else withList(dir)(_.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> Files.readString(p).trim.toLong)
      .toSeq).sortBy(_._1)
  }

  def dropTag(root: String, name: String): Boolean =
    Files.deleteIfExists(Paths.get(root, "meta", "refs", name))

  /** Time-travel read by tag name. */
  def readTag(spark: SparkSession, root: String, name: String,
      p: Pruning = Pruning(), migrations: Migrations = Map.empty): (DataFrame, Int, Int) =
    readAt(spark, root, resolveTag(root, name).getOrElse(
      throw new IllegalStateException(s"no tag '$name' under $root")), p, migrations)

  // ---- branches (mutable refs; write-audit-publish) ------------------------

  /** Branches are MUTABLE named refs under `meta/branches/<name>` (tags are
    * immutable pins). They carry the Iceberg write-audit-publish loop:
    * create a branch at the current state, commit experimental/staged work
    * ONTO THE BRANCH (main's CURRENT never moves — no reader sees it),
    * audit via [[readBranch]], then publish with [[fastForward]] or discard
    * with [[dropBranch]]. Branch snapshots share the global seq space, so
    * time travel by seq and manifest reuse work unchanged; [[expire]] pins
    * every branch head. */
  def createBranch(root: String, name: String, fromSeq: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name '$name'")
    require(Files.exists(Paths.get(root, "meta", s"snap-$fromSeq.json")),
      s"no snapshot $fromSeq under $root")
    val dir = Paths.get(root, "meta", "branches")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, fromSeq.toString)
    try Files.createLink(dir.resolve(name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalArgumentException(s"branch '$name' already exists under $root")
    }
    Files.deleteIfExists(tmp)
    // record the creation base: fastForward's publish guard (the Iceberg
    // fast_forward ancestry check) compares main's CURRENT against it
    Files.writeString(dir.resolve(s".$name.base"), fromSeq.toString)
  }

  /** The seq main's CURRENT pointed at when the branch was cut (or last
    * published) — the fast-forward guard's comparison point. Absent for
    * branches created before the guard existed. */
  def branchBase(root: String, name: String): Option[Long] = {
    val p = Paths.get(root, "meta", "branches", s".$name.base")
    if (!Files.exists(p)) None else Some(Files.readString(p).trim.toLong)
  }

  def resolveBranch(root: String, name: String): Option[Long] = {
    val p = Paths.get(root, "meta", "branches", name)
    if (!Files.exists(p)) None else Some(Files.readString(p).trim.toLong)
  }

  def listBranches(root: String): Seq[(String, Long)] = {
    val dir = Paths.get(root, "meta", "branches")
    if (!Files.exists(dir)) Seq.empty
    else withList(dir)(_.toSeq).filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> Files.readString(p).trim.toLong)
      .sortBy(_._1)
  }

  /** Takes the same per-ref locks as [[casBranch]]: a drop racing a
    * commitToBranch between its ref check and its atomic move must not be
    * overwritten by the move (which would resurrect the dropped branch). */
  def dropBranch(root: String, name: String): Boolean = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString + "#branch:" + name
    val mon = currentAdvanceLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val dir = Paths.get(root, "meta", "branches")
      if (!Files.exists(dir)) return false
      val ch = java.nio.channels.FileChannel.open(dir.resolve(s".$name.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          Files.deleteIfExists(dir.resolve(s".$name.base"))
          Files.deleteIfExists(dir.resolve(name))
        } finally lock.release()
      } finally ch.close()
    }
  }

  /** Read the branch head with the usual pruning surface. */
  def readBranch(spark: SparkSession, root: String, name: String,
      p: Pruning = Pruning(), migrations: Migrations = Map.empty): (DataFrame, Int, Int) =
    readAt(spark, root, resolveBranch(root, name).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root")), p, migrations)

  /** Commit ONTO a branch: `build(nextSeq, head)` produces the new branch
    * snapshot from the current head; the snapshot file lands in the global
    * seq space WITHOUT advancing CURRENT, then the branch ref CAS-advances
    * (expect = the head built against). A lost ref race rebuilds against
    * the new head — the orphaned snapshot file is unreferenced and expire
    * collects it. */
  def commitToBranch(root: String, name: String, maxRetries: Int = 10)(
      build: (Long, Snapshot) => Snapshot): Snapshot = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val headSeq = resolveBranch(root, name).getOrElse(
        throw new IllegalArgumentException(s"no branch '$name' under $root"))
      val head = snapshotAt(root, headSeq).getOrElse(
        throw new IllegalStateException(s"branch '$name' head snap-$headSeq missing"))
      val seq = snapshotSeqs(root).lastOption.getOrElse(0L) + 1
      // stamp the branch as the snapshot's origin: metadata consumers and
      // seq-based time travel can then tell unpublished branch content
      // from main history (a fastForward re-commits it origin=main)
      val snap = build(seq, head).copy(origin = name)
      try {
        commitSnapshot(root, snap, advanceCurrent = false)
        if (casBranch(root, name, headSeq, snap.seq)) return snap
      } catch { case _: SnapshotConflictException => () }
      attempt += 1
    }
    throw new SnapshotConflictException(
      s"branch '$name' commit lost ${maxRetries + 1} races under $root")
  }

  /** Publish: main takes the branch head's CONTENT as a new commit (the
    * same O(1) manifest re-reference as [[rollback]]).
    *
    * Guarded like Iceberg's `fast_forward`: publishing is only safe when
    * main has NOT moved since the branch was cut — a main commit that
    * landed in between would be silently reverted by the set-current.
    * The branch's creation base (recorded by [[createBranch]], refreshed
    * on publish) stands in for the ancestry DAG: main's CURRENT must
    * still equal it, else this aborts. `force = true` restores the old
    * unconditional set-current for deliberate overwrite-publishes (and is
    * the implicit behavior for pre-guard branches with no recorded
    * base). */
  def fastForward(root: String, name: String, force: Boolean = false): Snapshot = {
    val headSeq = resolveBranch(root, name).getOrElse(
      throw new IllegalStateException(s"no branch '$name' under $root"))
    if (!force) branchBase(root, name).foreach { base =>
      val main = currentSeq(root)
      require(main.contains(base),
        s"fast-forward aborted: main moved ${main.getOrElse("?")} since branch " +
          s"'$name' was cut at $base — its commits would be silently reverted. " +
          "Rebase (re-create the branch from current main and re-apply) or " +
          "publish with force=true to deliberately overwrite.")
    }
    val published = rollback(root, headSeq)
    // refresh the base so a continued WAP loop on the same branch can
    // publish again (main's head is now the branch content we just set)
    val dir = Paths.get(root, "meta", "branches")
    if (Files.exists(dir.resolve(name)))
      Files.writeString(dir.resolve(s".$name.base"), published.seq.toString)
    published
  }

  /** Atomic branch-ref advance: succeeds only if the ref still points at
    * `expect`. Same two-level locking as the CURRENT advance (per-ref JVM
    * monitor — FileChannel.lock throws rather than blocks on same-JVM
    * overlap — plus an OS file lock for cross-process writers). */
  private def casBranch(root: String, name: String, expect: Long, to: Long): Boolean = {
    val key = Paths.get(root).toAbsolutePath.normalize.toString + "#branch:" + name
    val mon = currentAdvanceLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val dir = Paths.get(root, "meta", "branches")
      Files.createDirectories(dir)
      val ch = java.nio.channels.FileChannel.open(dir.resolve(s".$name.lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (!resolveBranch(root, name).contains(expect)) false
          else {
            val tmp = dir.resolve(s".$name.tmp-$to")
            Files.writeString(tmp, to.toString)
            Files.move(tmp, dir.resolve(name),
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
            true
          }
        } finally lock.release()
      } finally ch.close()
    }
  }

  // ---- maintenance: snapshot expiration + orphan GC ------------------------

  /** Expire all but the `keep` most recent snapshots, then garbage-collect
    * data directories no retained snapshot references and lineage records
    * whose data is gone (a lineage entry pointing at deleted files would
    * make a resume skip a bucket that no longer exists on disk). Returns
    * (snapshotsDeleted, dataDirsDeleted). The CURRENT snapshot is always
    * retained.
    *
    * `olderThanMs`: only collect directories last modified at least this
    * long ago — the orphan-GC grace window (Iceberg's remove_orphan_files
    * olderThan). An in-flight ingest's freshly written but not-yet-
    * committed attempt is unreferenced by ANY manifest; without the grace
    * window a concurrent expire would delete it out from under the commit.
    * Pass 0 only when no writer can be active. */
  def expire(root: String, keep: Int, olderThanMs: Long = 0L): (Int, Int) = {
    require(keep >= 1, "must retain at least one snapshot")
    val seqs = snapshotSeqs(root)
    val cur = currentSeq(root)
    // tagged snapshots are pinned: a named ref ("corpus-v3") must stay
    // readable until the tag is dropped, whatever the keep window says
    val retain = (seqs.takeRight(keep) ++ cur ++ listTags(root).map(_._2) ++
      listBranches(root).map(_._2)).toSet
    val drop = seqs.filterNot(retain)
    drop.foreach(s => Files.deleteIfExists(Paths.get(root, "meta", s"snap-$s.json")))

    // resolve each retained snapshot ONCE (parseSnapshot reads the full
    // manifest set — don't pay it twice for data-dir and manifest GC)
    val retained = retain.toSeq.flatMap(snapshotAt(root, _))
    // referenced partition leaf dirs + merge-on-read delete dirs, normalized
    val referenced: Set[Path] = retained
      .flatMap(_.parts.flatMap(e => (e.path +: e.deletes)
        .map(p => Paths.get(p).normalize()))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dataRoot = Paths.get(root, "data")
    var dirsDeleted = 0
    if (Files.exists(dataRoot)) {
      // a leaf dir = a directory containing data files directly; delete
      // leaves no retained manifest points at. Two guards: (a) a dir can
      // hold data files AND referenced subdirs (Spark writes _SUCCESS at
      // the write root, so an attempt dir looks like a leaf) — never
      // delete an ANCESTOR of a referenced path; (b) an earlier deletion
      // may have removed a descendant leaf already — re-check existence
      // at deletion time (Files.walk on a deleted path throws).
      val leaves = withWalk(dataRoot)(_.toSeq).filter(p => Files.isDirectory(p) &&
        withList(p)(_.exists(Files.isRegularFile(_))))
      leaves.filterNot(l => referenced.contains(l.normalize())).foreach { l =>
        if (Files.exists(l) && !referenced.exists(_.startsWith(l.normalize())) &&
          Files.getLastModifiedTime(l).toMillis <= cutoff) {
          recursiveDelete(l); dirsDeleted += 1
        }
      }
      // sweep now-empty directories bottom-up (emptiness re-checked at
      // deletion time so freshly-emptied parents fall in the same pass)
      withWalk(dataRoot)(_.toSeq).reverse.foreach { p =>
        if (p != dataRoot && Files.exists(p) && Files.isDirectory(p) &&
          withList(p)(!_.hasNext)) Files.deleteIfExists(p)
      }
    }

    // manifest GC: drop manifest files no retained snapshot references
    // (lost-race orphans and rewritten-away manifests), with the same
    // grace window so a concurrent delta commit's just-written manifest
    // survives until its snapshot file lands
    val manifestDir = Paths.get(root, "meta", "manifests")
    if (Files.exists(manifestDir)) {
      val referencedM: Set[Path] = retained
        .flatMap(_.manifestRefs.map(r => Paths.get(r.path).normalize())).toSet
      withList(manifestDir)(_.toSeq).foreach { p =>
        if (Files.isRegularFile(p) && p.toString.endsWith(".json") &&
          !referencedM.contains(p.normalize()) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff) Files.deleteIfExists(p)
      }
    }

    // drop lineage whose durable data was collected
    val lineageRoot = Paths.get(root, "lineage")
    if (Files.exists(lineageRoot)) {
      withWalk(lineageRoot)(_.toSeq)
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".json"))
        .foreach { p =>
          val n = mapper.readTree(Files.readString(p))
          val dp = Option(n.get("data_path")).map(_.asText()).getOrElse("")
          if (dp.nonEmpty && !Files.exists(Paths.get(dp))) Files.deleteIfExists(p)
        }
    }
    (drop.length, dirsDeleted)
  }

  /** Compaction (the Iceberg rewrite-data-files analog): merge the
    * partitions selected by `pick` — one rewritten dir PER pDate group, so
    * date-pruning semantics survive — and delta-commit the merged entries
    * in their place, so only the manifests holding merged entries are
    * rewritten; the merged entries' stats are exact, read from the
    * rewritten files. Streaming sinks land one small dir per
    * micro-batch; compaction keeps read amplification bounded no matter
    * how long the stream runs. Old snapshots still reference the original
    * dirs (time travel intact) until `expire` collects them. Returns the
    * new snapshot; None if fewer than two partitions matched or another
    * writer rewrote part of the selected set first (the losing rewrite is
    * cleaned up, nothing double-commits).
    *
    * Operational constraint (same as Iceberg's rewrite): run only when no
    * writer may RETRY into the merged set — a foreachBatch retry of an
    * already-compacted batch id would re-append that batch's rows, since
    * its idempotency key is the original partition path. */
  def compact(spark: SparkSession, root: String)
      (pick: PartitionEntry => Boolean): Option[Snapshot] = {
    val snap = requireCurrent(root)
    val merge = snap.parts.filter(pick)
    if (merge.length < 2) return None
    val schema = readSchema(spark, snap)
    val mergedPaths = merge.map(_.path).toSet
    // unique rewrite paths: concurrent compacts can never overwrite each
    // other's output (and a committed compact dir is never rewritten)
    val out = s"$root/data/compact-${java.util.UUID.randomUUID().toString.take(8)}"
    val entries = merge.groupBy(_.pDate).toSeq.sortBy(_._1).map { case (date, g) =>
      // compaction APPLIES merge-on-read deletes: the rewritten files hold
      // only live rows and the merged entry carries no delete refs
      writeEntry(applyDeletes(spark, g, schema)
        .coalesce(math.max(1, (g.map(_.rows).sum / 1000000L).toInt)),
        s"$out/p_date=${escapePathName(date)}", g.map(_.pCell).min, date)
    }
    // abort (and clean up our orphaned rewrite) if a concurrent writer
    // changed ANY selected entry — full case-class equality, not path
    // equality: a deleteWhere layers delete refs WITHOUT moving the data
    // path, and committing this rewrite over it would resurrect the
    // concurrently-deleted rows. Schema ver/DDL carry forward from the
    // latest snapshot, so a racing schema change is never reverted.
    try Some(commitDeltaWithRetry(root)(entries, p => mergedPaths(p.path),
      removePCells = Some(merge.map(_.pCell).toSet),
      validate = affected => if (!merge.toSet.subsetOf(affected.toSet))
        throw new java.util.ConcurrentModificationException(
          s"compact conflict: a merged entry changed under $root")))
    catch {
      case _: java.util.ConcurrentModificationException =>
        recursiveDelete(Paths.get(out))
        None
    }
  }

  // ---- lineage -------------------------------------------------------------

  /** `dataPath` is the bucket's durable data directory: lineage records
    * WHERE a bucket landed (attempt-versioned, see IngestJob) as well as
    * what produced it, so a resume can reference prior attempts' files
    * without ever rewriting a path a committed snapshot points at. */
  final case class Lineage(jobId: String, pCell: Long, rows: Long, wallMs: Long,
      inputFingerprint: String, dataPath: String = "")

  def lineagePath(root: String, jobId: String, pCell: Long): Path =
    Paths.get(root, "lineage", jobId, s"cell-$pCell.json")

  def writeLineage(root: String, l: Lineage): Unit = {
    val p = lineagePath(root, l.jobId, l.pCell)
    Files.createDirectories(p.getParent)
    val m = Map[String, Object](
      "job_id" -> l.jobId, "p_cell" -> java.lang.Long.valueOf(l.pCell),
      "rows" -> java.lang.Long.valueOf(l.rows), "wall_ms" -> java.lang.Long.valueOf(l.wallMs),
      "input_fingerprint" -> l.inputFingerprint, "data_path" -> l.dataPath).asJava
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(m))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readLineage(root: String, jobId: String, pCell: Long): Option[Lineage] = {
    val p = lineagePath(root, jobId, pCell)
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readString(p))
      Some(Lineage(n.get("job_id").asText(), n.get("p_cell").asLong(),
        n.get("rows").asLong(), n.get("wall_ms").asLong(),
        n.get("input_fingerprint").asText(),
        Option(n.get("data_path")).map(_.asText()).getOrElse("")))
    }
  }
}
