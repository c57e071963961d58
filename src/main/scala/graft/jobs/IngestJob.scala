package graft.jobs

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._

import graft.sources.{Pages, SnapshotTable}
import graft.sources.SnapshotTable.{Lineage, PartitionEntry, Pruning, Snapshot}

/** Resumable archive-ingest job — the GIPS `Asset.archive` / repository-
  * layout analog (SURVEY.md §2 A4/A5), re-imagined as checkpointed
  * partitioned parquet with snapshot commit:
  *
  *  1. pages are spatially bucketed by `p_cell` (level-2 row-major cell,
  *     16 coarse buckets) and `p_date`;
  *  2. each p_cell bucket is written independently and idempotently
  *     (overwrite of its own directory), then its lineage JSON (rows,
  *     wall-ms, input fingerprint) is committed atomically;
  *  3. a rerun of the same jobId SKIPS every bucket whose lineage already
  *     matches the input fingerprint — this is the resume-from-checkpoint
  *     path demanded by the north rule;
  *  4. after all buckets are durable, the snapshot manifest (with per-
  *     partition min/max stats for pruning) is committed via atomic rename.
  *
  * A failure at any point leaves either (a) unreferenced data files that
  * the next run overwrites, or (b) a fully committed snapshot — never a
  * half-visible table.
  */
object IngestJob {

  final val PCellLevel = 2 // 4^2 = 16 coarse spatial buckets

  final case class RunReport(jobId: String, snapshotSeq: Long,
      partitionsWritten: Int, partitionsSkipped: Int, rows: Long)

  def pagesWithPartitions(spark: SparkSession, sfDir: String): DataFrame =
    Pages.fromDocuments(spark, sfDir)
      .withColumn("p_cell", Pages.cellCol(col("ilat"), col("ilon"), PCellLevel))
      .withColumn("p_date", date_format(col("warc_ts"), "yyyy-MM-dd"))

  /** Deterministic fingerprint of a bucket's input (count + doc_id ranges
    * + content volume) — used to detect stale lineage when inputs change
    * between runs. The n_chars sum catches same-ids-different-content
    * edits that id ranges alone would miss. */
  private def fingerprint(rows: Long, minDoc: Long, maxDoc: Long, sumDoc: Long,
      sumChars: Long): String =
    s"$rows:$minDoc:$maxDoc:$sumDoc:$sumChars"

  /** Run (or resume) the ingest. `failAfter`: test hook — throw after N
    * buckets have been made durable (simulates a mid-job crash).
    *
    * TWO passes over the input, independent of bucket count (the round-1
    * version ran one filtered scan PER bucket plus two stats scans — ~18
    * passes at 16 buckets):
    *
    *  1. one column-pruned aggregation computes the per-(p_cell, p_date)
    *     manifest stats AND the per-bucket input fingerprints;
    *  2. one `partitionBy(pc, p_date)` write covering exactly the stale
    *     buckets (dynamic partition overwrite — already-durable buckets of
    *     a crashed attempt survive the resume's write untouched). The
    *     stale rows are first rebalanced on (pc, p_date), so each entry
    *     directory gets one file rather than one per input task holding
    *     its key (AQE's rebalance splits an oversized key into a few
    *     files and merges small ones; a plain repartition would put a hot
    *     key in one task).
    *
    * Data paths are versioned by the snapshot seq the run will commit
    * (`data/<jobId>/a<seq>/`): a crash-before-commit retry recomputes the
    * same seq and idempotently overwrites only its own uncommitted files,
    * while a rerun AFTER a commit gets a fresh attempt dir — no path a
    * committed snapshot references is ever rewritten, so history stays
    * readable (ADVICE r1). Unchanged buckets keep serving their prior
    * attempt's files via the lineage dataPath (Iceberg-style file sharing
    * across snapshots). */
  def run(spark: SparkSession, sfDir: String, root: String, jobId: String,
      failAfter: Option[Int] = None): RunReport =
    runPages(spark, pagesWithPartitions(spark, sfDir), root, jobId, failAfter)

  /** Bloom capacity per partition (the key-skipping index): 1024 keys at
    * 1% fpp ≈ 1.2 KB serialized (~1.6 KB base64 in the manifest entry) —
    * the deliberate trade: inline blooms keep the prune a pure metadata
    * read, at ~1.6 KB/entry of manifest weight. Size by real
    * rows-per-partition in production; an over-full bloom saturates
    * toward prune-nothing, which is SAFE (no false negatives); at extreme
    * partition counts (1e6+) drop inline blooms for parquet-footer blooms
    * and accept scan-time-only skipping. */
  final val BloomKeys = 1024L

  /** Typed aggregator building the per-partition doc_id bloom inside the
    * SAME stats shuffle (no extra pass; partials merge bitwise). */
  private object DocBloomAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
    override def zero = org.apache.spark.util.sketch.BloomFilter.create(BloomKeys, 0.01)
    override def reduce(b: org.apache.spark.util.sketch.BloomFilter, a: Long) = {
      b.putLong(a); b
    }
    override def merge(b1: org.apache.spark.util.sketch.BloomFilter,
        b2: org.apache.spark.util.sketch.BloomFilter) = { b1.mergeInPlace(b2); b1 }
    override def finish(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); b.writeTo(bos); bos.toByteArray
    }
    override def bufferEncoder =
      org.apache.spark.sql.Encoders.javaSerialization[org.apache.spark.util.sketch.BloomFilter]
    override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Same contract as `run`, over an already-prepared pages frame (must
    * carry the `p_cell`/`p_date` partition columns). */
  def runPages(spark: SparkSession, pages: DataFrame, root: String, jobId: String,
      failAfter: Option[Int] = None): RunReport = {

    // pass 1 — single stats aggregation; tiny (bucket x date) metadata
    // rows: the shared manifest stats, then fingerprint inputs and bloom.
    // Computed from the input, not read back from the written files: the
    // fingerprints decide which buckets get written at all.
    val geo = SnapshotTable.hasGeo(pages.schema)
    val stats = SnapshotTable.statsAgg(geo)
    val bloomUdaf = org.apache.spark.sql.functions.udaf(DocBloomAgg)
    val cellDate = pages.groupBy(col("p_cell"), col("p_date"))
      .agg(stats.head, stats.tail ++ Seq(
        min(col("doc_id")).as("mind"), max(col("doc_id")).as("maxd"),
        sum(col("doc_id")).as("sumd"), sum(col("n_chars")).as("sumc"),
        bloomUdaf(col("doc_id")).as("bloom")): _*)
      .collect()

    // per-bucket fingerprints: driver-side fold of the stats rows
    val byCell: Seq[(Long, Long, String)] = cellDate.groupBy(_.getLong(0)).toSeq
      .map { case (cell, rs) =>
        def f(c: String) = rs.map(_.getAs[Long](c))
        val rows = f("rows").sum
        (cell, rows, fingerprint(rows, f("mind").min, f("maxd").max, f("sumd").sum,
          f("sumc").sum))
      }
      .sortBy(_._1)

    val dir = attemptDir(root, jobId)

    val priorLineage: Map[Long, Lineage] = byCell.flatMap { case (cell, _, _) =>
      SnapshotTable.readLineage(root, jobId, cell).map(cell -> _)
    }.toMap
    val fresh = byCell.filter { case (cell, _, fp) =>
      !priorLineage.get(cell).exists(_.inputFingerprint == fp)
    }
    val skipped = byCell.size - fresh.size
    // test hook: make only the first N stale buckets durable, then crash
    val stale = failAfter.fold(fresh)(n => fresh.take(n))

    if (stale.nonEmpty) {
      val t0 = System.nanoTime()
      // pass 2 — ONE rebalanced write for every stale bucket. `pc`
      // duplicates p_cell as the partition column so p_cell itself stays
      // a DATA column in the files (the table schema readers see is stable).
      pages.filter(col("p_cell").isin(stale.map(_._1): _*))
        .withColumn("pc", col("p_cell"))
        .hint("rebalance", col("pc"), col("p_date"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pc", "p_date")
        .parquet(dir)
      val wallMs = (System.nanoTime() - t0) / 1000000
      // bucket-level lineage marks durability; wallMs is the write's wall
      // (one write covers all stale buckets — attempt-level metric)
      stale.foreach { case (cell, rows, fp) =>
        SnapshotTable.writeLineage(root,
          Lineage(jobId, cell, rows, wallMs, fp, s"$dir/pc=$cell"))
      }
    }
    failAfter.foreach { n =>
      if (fresh.size > n) throw new RuntimeException(s"injected failure after $n buckets")
    }

    // manifest: stats from pass 1, paths from the (just-written or prior)
    // bucket lineage — snapshots may span attempts
    val cellPath: Map[Long, String] =
      stale.map { case (cell, _, _) => cell -> s"$dir/pc=$cell" }.toMap ++
        priorLineage.collect { case (cell, l) if l.dataPath.nonEmpty &&
          !stale.exists(_._1 == cell) => cell -> l.dataPath }
    // (the p_date directory name is escaped exactly as Spark names it)
    val entries = cellDate
      .map { r =>
        val (cell, date) = (r.getLong(0), r.getString(1))
        SnapshotTable.statsEntry(cell, date,
          s"${cellPath(cell)}/p_date=${escapePathName(date)}", r, 2, geo)
          .copy(bloom = Option(r.getAs[Array[Byte]]("bloom"))
            .map(java.util.Base64.getEncoder.encodeToString))
      }
      .sortBy(e => (e.pCell, e.pDate))

    val schemaDdl = pages.drop("p_date").schema.toDDL
    // optimistic DELTA commit: if a concurrent writer (e.g. a streaming
    // sink on the same root) claimed this seq, re-commit at the next seq
    // instead of dying after all the writes landed. Each attempt re-merges
    // against the latest committed snapshot: parts from other writers
    // survive, any prior version of this ingest's own (p_cell, p_date)
    // partitions is superseded — and only manifests holding superseded
    // keys are rewritten (metadata cost ∝ touched partitions).
    val ownKeys = entries.map(e => (e.pCell, e.pDate)).toSet
    val committed = SnapshotTable.commitDeltaWithRetry(root)(
      entries, p => ownKeys((p.pCell, p.pDate)),
      removePCells = Some(ownKeys.map(_._1)),
      schemaVer = Some(1), schemaDdl = Some(schemaDdl),
      resolveResult = false) // only the seq is reported
    RunReport(jobId, committed.seq, stale.size, skipped, byCell.map(_._2).sum)
  }

  /** G1z — z-order clustered archive: rows sorted by the MORTON cell id
    * at `level` (bit-interleaved lat/lon — `cell_id` IS the z-order key)
    * before writing, so each output file covers a compact spatial square
    * instead of a longitude stripe or a random scatter. Per-file
    * (ilat, ilon) min/max stats then prune tightly for ANY 2-D box
    * predicate — the data-layout half of data skipping that partition
    * columns alone can't give (a row-major sort clusters one axis only).
    * `ZorderSpec` measures the per-file bounding-box area vs an
    * insertion-ordered write. */
  def zorderArchive(spark: SparkSession, sfDir: String, out: String,
      level: Int = 8, files: Int = 16): Long = {
    graft.functions.GraftFunctions.register(spark)
    val pages = Pages.fromDocuments(spark, sfDir)
      .withColumn("zkey",
        graft.functions.GraftFunctions.cell_id(col("ilat"), col("ilon"), lit(level)))
    pages
      .repartitionByRange(files, col("zkey"), col("doc_id"))
      .sortWithinPartitions(col("zkey"), col("doc_id"))
      .drop("zkey")
      .write.mode(SaveMode.Overwrite).parquet(out)
    spark.read.parquet(out).count()
  }

  /** Build-once cache for tables derived from one input dir. One table per
    * input CONTENT, built once and reused: repeated invocations (bench
    * passes, tests) must not re-write it — and a regenerated fixture at the
    * same path must not serve a stale cache. The cache key is a DRIVER-SIDE
    * fingerprint of the source file listing (names + sizes + mtimes):
    * detecting regeneration costs a directory walk, not a Spark scan per
    * invocation. The table is built under a process-unique staging dir and
    * published by atomic dir rename: two fresh JVMs racing the build can't
    * see (or delete) each other's half-built table — the loser keeps the
    * winner's. A failed build cleans its stage up instead of accumulating
    * in the tmp dir. `build` receives the staging root and writes and
    * commits under it; manifests and lineage record the staged paths,
    * which are translated to the final root before the rename. Returns
    * the final root once the table under it has
    * snapshot `wantSeq` committed. `ver` is the BUILDER-LOGIC version and
    * is part of the cache key: bump it whenever the build closure's
    * semantics change, or a warm /tmp keeps serving the previous
    * semantics' table (the source-listing fingerprint only detects INPUT
    * changes). */
  private[graft] def cachedTable(prefix: String, sfDir: String, wantSeq: Long,
      ver: Int = 1)(build: String => Unit): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val src = Paths.get(sfDir, "documents.parquet")
    val listing = {
      val walk = Files.walk(src)
      try walk.iterator().asScala.toSeq.filter(Files.isRegularFile(_)).sortBy(_.toString)
        .map(p => s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
        .mkString("\n")
      finally walk.close()
    }
    val key = digest.digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val root = Paths.get(sys.props("java.io.tmpdir"), s"$prefix-v$ver-$key").toString
    if (SnapshotTable.currentSeq(root) != Some(wantSeq)) {
      val stage = Files.createTempDirectory(s"$prefix-stage").toString
      try {
        build(stage)
        // every writer records the STAGE-absolute paths it wrote in
        // manifests and lineage; translate them to their post-rename
        // locations. Stage paths are tmp-dir names ([A-Za-z0-9/_.-]) —
        // plain string replacement inside the JSON is escaping-safe.
        val walk = Files.walk(Paths.get(stage))
        try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".json"))
          .foreach { p =>
            val s = new String(Files.readAllBytes(p), "UTF-8")
            if (s.contains(stage))
              Files.write(p, s.replace(stage, root).getBytes("UTF-8"))
          }
        finally walk.close()
        try Files.move(Paths.get(stage), Paths.get(root),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.AccessDeniedException |
               _: java.nio.file.DirectoryNotEmptyException =>
            SnapshotTable.recursiveDelete(Paths.get(stage)) // another JVM won
        }
      } catch {
        case t: Throwable =>
          if (Files.exists(Paths.get(stage)))
            SnapshotTable.recursiveDelete(Paths.get(stage))
          throw t
      }
    }
    root
  }

  /** A2/G-diff — snapshot diff ("what's new since"): builds a two-snapshot
    * table (snapshot 1 = an earlier partial crawl, snapshot 2 = the full
    * crawl) through the REAL commit + time-travel machinery, then
    * anti-joins the two reads — the most common archive question over an
    * Iceberg-style table, oracle-gated end to end. The anti join is an
    * equi-join on doc_id: at scale both sides shuffle once on the id (or
    * co-locate via the shared table layout). */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.fromDocuments(spark, sfDir)
      .select("doc_id", "url", "lang", "source", "ts_sec", "ilat", "ilon", "n_chars")
    val root = cachedTable("graft-snapdiff", sfDir, 2L, ver = 2) { stage =>
      def commit(seq: Long, df: DataFrame): Unit =
        SnapshotTable.commitSnapshot(stage, Snapshot(seq, 1,
          IndexedSeq(SnapshotTable.writeEntry(df, s"$stage/data/s$seq", seq, "all")),
          df.schema.toDDL))
      commit(1, pages.filter(col("doc_id") % 3 =!= 0))
      commit(2, pages)
    }
    val (snap1, _, _) = SnapshotTable.readAt(spark, root, 1)
    val (snap2, _, _) = SnapshotTable.readAt(spark, root, 2)
    snap2.join(snap1.select("doc_id"), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** MERGE INTO (upsert) with partition-level copy-on-write — the Iceberg
    * COW merge shape. `updates` must carry the table columns plus the
    * `p_cell`/`p_date` partition columns; rows whose `key` matches an
    * existing row REPLACE it, others are inserted. Only partitions the
    * update set touches are rewritten (old rows anti-joined on the key,
    * union the partition's updates, one partitioned write); every other
    * partition's files carry FORWARD into the new snapshot untouched —
    * at 100 TB a merge of one day's re-crawls rewrites a handful of
    * buckets, never the table.
    *
    * Assumes partition-stable keys: an update row lands in the same
    * (p_cell, p_date) its previous version lives in. That holds whenever
    * the partition columns are deterministic functions of the key (true
    * for the geotag layout: p_cell derives from the url-keyed location,
    * p_date from the crawl schedule being re-crawled). Keys that MOVE
    * partitions need [[mergeIntoGlobal]] — this variant would leave the
    * old-location row in place (a silent duplicate). */
  def mergeInto(spark: SparkSession, root: String, updates0: DataFrame,
      jobId: String, key: String = "doc_id",
      beforeCommit: () => Unit = () => ()): Snapshot = {
    val current = SnapshotTable.requireCurrent(root)
    val updates = updates0.persist()
    val touchedKeys = updates.select(col("p_cell"), col("p_date")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    mergeRewrite(spark, root, current, updates, touchedKeys, jobId, key, beforeCommit)
  }

  /** MERGE INTO for PARTITION-MOVING keys (round-2 verdict ask #6): when
    * an update's key may live in a DIFFERENT (p_cell, p_date) than the
    * update row targets (a re-geotagged page, a corrected crawl date),
    * the partitions holding stale rows are discovered by a GLOBAL
    * semi-join of the table's (key, partition) projection against the
    * update keys — those partitions are rewritten too, so the old-location
    * row is dropped, not duplicated. Cost shape at 100 TB: one
    * column-pruned scan of (key, p_cell, p_date) semi-joined against the
    * (typically broadcastable) update keys and collected in one job — the
    * unavoidable price of not knowing where keys live; everything
    * downstream rewrites only the touched partitions, same as
    * [[mergeInto]]. */
  def mergeIntoGlobal(spark: SparkSession, root: String, updates0: DataFrame,
      jobId: String, key: String = "doc_id",
      beforeCommit: () => Unit = () => ()): Snapshot = {
    val current = SnapshotTable.requireCurrent(root)
    val updates = updates0.persist()
    val targetKeys = updates.select(col("p_cell"), col("p_date")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val staleKeys = keyLocations(spark, current, updates.select(col(key)), key)
      .select(col("p_cell"), col("p_date")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    mergeRewrite(spark, root, current, updates, targetKeys ++ staleKeys,
      jobId, key, beforeCommit)
  }

  /** Shared COW rewrite + delta commit: rewrite exactly the partitions in
    * `touchedKeys` (old rows anti-joined on `key`, union the updates),
    * conflict-validate, commit. */
  private def mergeRewrite(spark: SparkSession, root: String, current: Snapshot,
      updates: DataFrame, touchedKeys: Set[(Long, String)], jobId: String,
      key: String, beforeCommit: () => Unit): Snapshot = {
    val touched = current.parts.filter(p => touchedKeys((p.pCell, p.pDate)))
    // old LIVE rows of rewritten partitions, p_date included: a rewrite
    // that read raw files would resurrect deleted rows (the rewritten
    // entries carry no delete refs — the rewrite materializes them)
    val updCols = updates.columns.toSeq.map(col)
    val merged = SnapshotTable.readDated(spark, touched, SnapshotTable.readSchema(spark, current))
      .select(updCols: _*)
      .join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates.select(updCols: _*))
    val stats = SnapshotTable.writePartitioned(merged, attemptDir(root, jobId))
    updates.unpersist(false)
    // supersede everything rewritten OR touched: a touched partition whose
    // rows ALL moved away (global merge) produces no stats entry but its
    // old entry must still drop, or stale rows resurrect
    val newKeys = stats.map(e => (e.pCell, e.pDate)).toSet ++ touchedKeys
    // optimistic-concurrency VALIDATION (Iceberg-style): the merge read its
    // old rows from `current`'s files; if a concurrent writer rewrote any
    // TOUCHED partition since, committing would silently discard that
    // writer's rows — conflict must abort, not win. (Foreign partitions —
    // keys the merge does not touch — are merged in, never conflicted.)
    beforeCommit() // test hook: interleave a concurrent writer here
    SnapshotTable.commitDeltaWithRetry(root)(
      stats, p => newKeys((p.pCell, p.pDate)),
      removePCells = Some(newKeys.map(_._1)),
      schemaVer = Some(current.schemaVer), schemaDdl = Some(current.schemaDdl),
      validate = conflictValidator(newKeys, touched.toSet, "merge"))
  }

  /** MERGE-upsert end to end (oracle-gated q61): base snapshot = the
    * non-recrawled corpus (doc_id % 3 != 0) committed through the REAL
    * resumable-ingest machinery; upserts = re-crawled docs (doc_id % 2
    * == 0, +1000 chars); COW merge on doc_id; read back CURRENT and
    * aggregate. n_keys == n_docs in the output is the no-duplicate
    * invariant crossing the oracle gate. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    // partition granularity is the CALLER's choice: this table merges by
    // spatial bucket only (p_date collapsed), so the build is 16 buckets,
    // not a (bucket x date) grid — the oracle math is date-independent
    def prepared = pagesWithPartitions(spark, sfDir)
      .withColumn("p_date", lit("all"))
    val root = cachedTable("graft-merge", sfDir, 2L, ver = 2) { stage =>
      runPages(spark, prepared.filter(col("doc_id") % 3 =!= 0), stage, "base")
      mergeInto(spark, stage,
        prepared.filter(col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L),
        "merge")
    }
    val (df, _, _) = SnapshotTable.read(spark, root)
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_keys"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Schema of q75's stored snapshot-1 inventory (`inv/s1`): the refresh
    * reads it under this schema, so building the query runs no
    * schema-inference job (`InputsSpec` gates it against the files). */
  private[graft] final val StoredInvDdl = "lang STRING, n_docs BIGINT, sum_chars BIGINT"

  /** Incremental inventory refresh (IVM — q75): the per-lang inventory of
    * snapshot 2 computed WITHOUT rescanning the archive. Snapshot 1's
    * inventory was materialized at commit time; the refresh reads that
    * stored aggregate plus ONLY the partitions snapshot 2 ADDED (append
    * detected through the manifest: parts whose path snapshot 1 does not
    * reference), then combines. At 100 TB this is the only viable refresh
    * shape — bytes read ∝ delta, not archive. The oracle recomputes the
    * full aggregate from scratch; hash equality proves the incremental
    * path exact. An ST additionally asserts the refresh plan's file scans
    * touch no snapshot-1 data path. */
  def incrementalInventory(spark: SparkSession, sfDir: String): DataFrame = {
    val pages = Pages.fromDocuments(spark, sfDir)
      .select("doc_id", "lang", "ts_sec", "ilat", "ilon", "n_chars")
    val root = cachedTable("graft-incr", sfDir, 2L, ver = 2) { stage =>
      def part(seq: Long, df: DataFrame): PartitionEntry =
        SnapshotTable.writeEntry(df, s"$stage/data/s$seq", seq, "all")
      val a = part(1, pages.filter(col("doc_id") % 3 =!= 0))
      SnapshotTable.commitSnapshot(stage, Snapshot(1, 1, IndexedSeq(a), pages.schema.toDDL))
      // materialize snapshot 1's inventory next to the snapshot (the
      // stored aggregate an incremental refresh starts from)
      SnapshotTable.readAt(spark, stage, 1)._1
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/inv/s1")
      // snapshot 2 APPENDS a partition; snapshot 1's files carry forward
      val b = part(2, pages.filter(col("doc_id") % 3 === 0))
      SnapshotTable.commitSnapshot(stage, Snapshot(2, 1, IndexedSeq(a, b), pages.schema.toDDL))
    }
    val snap2 = SnapshotTable.requireSnapshot(root, 2)
    val newParts =
      SnapshotTable.addedBetween(Some(SnapshotTable.requireSnapshot(root, 1)), snap2)
    val storedInv = spark.read.schema(StoredInvDdl).parquet(s"$root/inv/s1")
    val deltaInv = SnapshotTable
      .applyDeletes(spark, newParts, SnapshotTable.readSchema(spark, snap2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    storedInv.unionByName(deltaInv)
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Merge-on-read DELETE (the Iceberg v2 delete-vector shape): rows
    * matching `cond` are removed from the table WITHOUT rewriting any
    * data file — a commit-scoped delete file (parquet of doc_ids,
    * bucketed like the data) is layered onto every touched partition's
    * entry, readers anti-join it, and the next `compact` of those
    * partitions materializes the removal. At 100 TB a handful of deleted
    * rows costs one small delete file + one delta commit, never a
    * partition rewrite; history stays time-travelable (pre-delete
    * snapshots still see the rows). doc_id is the row identity. Aborts on
    * a concurrent rewrite of a touched partition (same optimistic rule as
    * MERGE). Returns the committed snapshot; the current one when nothing
    * matched. */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column, jobId: String,
      beforeCommit: () => Unit = () => ()): Snapshot = {
    val current = SnapshotTable.requireCurrent(root)
    val hits = SnapshotTable.readDated(spark, current.parts,
        SnapshotTable.readSchema(spark, current))
      .filter(cond).select(col("doc_id"), col("p_cell"), col("p_date"))
      .persist()
    if (hits.isEmpty) { hits.unpersist(false); return current } // nothing matched
    val (dir, touched) = writeDeleteVectors(spark, root, hits, jobId)
    hits.unpersist(false)
    // FULL-entry base set (path AND existing delete refs): a concurrent
    // deleteWhere layers refs without moving the path — committing our
    // stale copy would drop its refs and resurrect its deleted rows
    val baseSet = current.parts.filter(p => touched((p.pCell, p.pDate))).toSet
    val updated = baseSet.toSeq.sortBy(e => (e.pCell, e.pDate)).map(withDeleteRef(_, dir))
    beforeCommit() // test hook: interleave a concurrent writer here
    SnapshotTable.commitDeltaWithRetry(root)(
      updated, p => touched((p.pCell, p.pDate)),
      removePCells = Some(touched.map(_._1)),
      schemaVer = Some(current.schemaVer), schemaDdl = Some(current.schemaDdl),
      validate = conflictValidator(touched, baseSet, "delete"))
  }

  /** Data dir of a writer's commit attempt, versioned by the seq it will
    * commit (a committed path is never rewritten). The seq comes from the
    * committed-snapshot list, not CURRENT: a crash between the snapshot
    * CAS and the CURRENT flip must not make the next run re-claim an
    * already-taken seq. */
  private def attemptDir(root: String, jobId: String): String =
    s"$root/data/$jobId/a${SnapshotTable.snapshotSeqs(root).lastOption.getOrElse(0L) + 1}"

  /** `p` with the delete vector [[writeDeleteVectors]] wrote for it under
    * commit dir `dir` layered on (`pd=` escaped as Spark names the dir). */
  private def withDeleteRef(p: PartitionEntry, dir: String): PartitionEntry =
    p.copy(deletes = p.deletes :+ s"$dir/pc=${p.pCell}/pd=${escapePathName(p.pDate)}")

  /** Write one delete-vector file per touched partition for `hits`
    * (doc_id, p_cell, p_date) under a FRESH uuid-tokenized commit dir (a
    * reused jobId must not overwrite vector files a committed snapshot
    * still references), and read the touched keys back from the files
    * actually written, under a pinned (p_cell, p_date) schema with no
    * listing or inference job (data columns — dir keys are type-inference
    * hazards). The pc=/pd= layout under ONE commit dir is load-bearing:
    * `applyDeletes` scopes delete sequencing by the commit dir (the ref's
    * parent), while per-entry refs point at the pc/pd leaf. Shared by
    * [[deleteWhere]] and [[mergeUpsertMor]]. */
  private def writeDeleteVectors(spark: SparkSession, root: String,
      hits: DataFrame, jobId: String): (String, Set[(Long, String)]) = {
    val dir = s"$root/data/deletes/$jobId-${java.util.UUID.randomUUID().toString.take(8)}"
    hits.withColumn("pc", col("p_cell")).withColumn("pd", col("p_date"))
      .write.mode(SaveMode.Overwrite).partitionBy("pc", "pd").parquet(dir)
    val touched = org.apache.spark.sql.graft.ManifestFileIndex.scan(spark, Seq(dir), KeySchema)
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    (dir, touched)
  }

  /** The (p_cell, p_date) columns of a delete-vector file. */
  private val KeySchema =
    org.apache.spark.sql.types.StructType.fromDDL("p_cell BIGINT, p_date STRING")

  /** Live (key, p_cell, p_date) rows of `current` whose `key` is among
    * `updKeys`: where the updated keys live now, found globally so
    * partition-moving keys are caught. The scan is bloom-pruned for small
    * key sets ([[bloomScanSet]]). */
  private def keyLocations(spark: SparkSession, current: Snapshot, updKeys: DataFrame,
      key: String): DataFrame =
    SnapshotTable.readDated(spark, bloomScanSet(current.parts, updKeys, key),
        SnapshotTable.readSchema(spark, current))
      .select(col(key), col("p_cell"), col("p_date"))
      .join(updKeys, Seq(key), "left_semi")

  /** Key-skipping via per-partition blooms: when the update key set is
    * small enough to collect (point lookups — exactly where skipping
    * matters), partitions whose bloom provably holds none of the keys are
    * pruned from the old-location DISCOVERY scan; larger key sets fall
    * back to the full scan they would touch anyway. Entries without a
    * bloom (COW rewrites, compaction output) always scan. */
  private def bloomScanSet(parts: Seq[PartitionEntry], updKeys: DataFrame,
      key: String, cap: Int = 10000): Seq[PartitionEntry] = {
    // the manifest blooms index doc_id SPECIFICALLY — pruning with any
    // other merge key would be a FALSE NEGATIVE (silently skipped old
    // locations, the bug class the global merge exists to prevent)
    if (key != "doc_id") return parts
    // an all-bloomless table (COW rewrites, compaction output) can't be
    // pruned at all — don't pay the key collect just to keep everything
    if (!parts.exists(_.bloom.isDefined)) return parts
    val sample = updKeys.limit(cap + 1).collect()
    // empty key set: nothing can match anywhere, but `exists` over zero
    // keys is false — which would prune every BLOOMED entry and keep the
    // bloomless ones, an inverted (if harmless) scan set. Keep all.
    if (sample.isEmpty || sample.length > cap) parts
    else {
      val ks = sample.map(_.getLong(0)).toSeq
      parts.filter(p => SnapshotTable.mightContainAny(p, ks))
    }
  }

  /** The optimistic-concurrency rule of the merge, delete and MOR upsert
    * writers: a touched partition whose FULL entry is not in the base set
    * this writer read — rewritten (path moved), delete-layered (refs
    * changed) or created concurrently — aborts the commit, since this
    * writer's rows for it were derived without the other writer's.
    * `affected` (from the delta commit) holds every entry of every manifest
    * that may hold a touched cell, so each such write is visible. */
  private def conflictValidator(touched: Set[(Long, String)],
      baseSet: Set[PartitionEntry],
      what: String): Seq[PartitionEntry] => Unit =
    affected => affected.foreach { p =>
      val k = (p.pCell, p.pDate)
      if (touched(k) && !baseSet.contains(p))
        throw new java.util.ConcurrentModificationException(
          s"$what conflict: partition $k was written after this $what " +
            "computed its row set — re-run against the new snapshot")
    }

  /** Merge-on-read MERGE (the Iceberg v2 MOR upsert, completing the
    * write-path matrix: COW merge `mergeInto`, global COW `mergeIntoGlobal`,
    * MOR delete `deleteWhere`, MOR upsert here): updated keys' old rows are
    * masked by delete vectors layered onto the partitions that hold them —
    * found GLOBALLY from live rows, so partition-moving keys are safe — and
    * the update rows land as NEW appended partitions, all in ONE atomic
    * delta commit. No data file is rewritten: at 100 TB a few re-crawled
    * docs per partition must not rewrite every touched partition the way
    * the COW merges do.
    *
    * Correctness leans on delete SEQUENCING (`SnapshotTable.applyDeletes`):
    * the vectors attach only to the PRE-EXISTING entries, so the appended
    * rows — reusing the same doc_ids — are never masked by them. Reads pay
    * one anti-join per delete layer until `compact` materializes. Conflict
    * surface mirrors `deleteWhere`: a touched partition rewritten,
    * delete-layered, or created concurrently aborts the commit. */
  def mergeUpsertMor(spark: SparkSession, root: String, updates0: DataFrame,
      jobId: String, key: String = "doc_id",
      beforeCommit: () => Unit = () => ()): Snapshot = {
    // delete vectors ARE doc_id sets: writeDeleteVectors persists the hit
    // keys under the merge key's column name, but applyDeletes anti-joins
    // every layered vector on doc_id. A non-doc_id MOR upsert would
    // therefore COMMIT vectors that every subsequent read of the table
    // fails (or worse, mis-masks) on — refuse up front instead of
    // persisting a broken snapshot. COW merges (mergeInto/mergeIntoGlobal)
    // rewrite rows and stay key-generic.
    require(key == "doc_id",
      s"mergeUpsertMor requires key=doc_id (got '$key'): delete vectors are " +
        "doc_id row-identity sets (SnapshotTable.applyDeletes). Use " +
        "mergeIntoGlobal for non-doc_id merge keys (copy-on-write, key-generic).")
    val current = SnapshotTable.requireCurrent(root)
    val updates = updates0.persist()
    // old LIVE locations of updated keys -> one delete vector per partition
    val hits = keyLocations(spark, current, updates.select(col(key)), key).persist()
    val (withRefs, touchedDel) =
      if (hits.isEmpty) (Seq.empty[PartitionEntry], Set.empty[(Long, String)])
      else {
        val (dir, touched) = writeDeleteVectors(spark, root, hits, jobId)
        (current.parts.filter(p => touched((p.pCell, p.pDate)))
          .sortBy(e => (e.pCell, e.pDate)).map(withDeleteRef(_, dir)), touched)
      }
    hits.unpersist(false)
    // appended update partitions (attempt-versioned like every data write)
    val newEntries = SnapshotTable.writePartitioned(updates, attemptDir(root, jobId))
    updates.unpersist(false)
    val baseSet = current.parts.filter(p => touchedDel((p.pCell, p.pDate))).toSet
    beforeCommit() // test hook: interleave a concurrent writer here
    SnapshotTable.commitDeltaWithRetry(root)(
      withRefs ++ newEntries, p => touchedDel((p.pCell, p.pDate)),
      removePCells = if (touchedDel.isEmpty) Some(Set.empty[Long])
        else Some(touchedDel.map(_._1)),
      schemaVer = Some(current.schemaVer), schemaDdl = Some(current.schemaDdl),
      validate = conflictValidator(touchedDel, baseSet, "MOR upsert"))
  }

  /** MOR upsert end to end (oracle-gated q91): SAME base + update sets as
    * the COW merge q61 — the oracle is q61's arithmetic recompute, so hash
    * equality proves the merge-on-read path (delete vectors + appends +
    * sequencing-scoped reads) row-identical to copy-on-write. */
  def morUpsertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    def prepared = pagesWithPartitions(spark, sfDir)
      .withColumn("p_date", lit("all"))
    val root = cachedTable("graft-morups", sfDir, 2L, ver = 1) { stage =>
      runPages(spark, prepared.filter(col("doc_id") % 3 =!= 0), stage, "base")
      mergeUpsertMor(spark, stage,
        prepared.filter(col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L),
        "mup")
      ()
    }
    val (df, _, _) = SnapshotTable.read(spark, root)
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_keys"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Row-level CDC end to end (oracle-gated q92): base ingest → MOR upsert
    * → MOR delete, then `SnapshotTable.changelogBetween(1, 3)` must emit
    * exactly the NET per-key I/U/D set — inserts that were later deleted
    * net out, carried-over rows never appear, updates are detected across
    * the delete-vector + append layering. The oracle recomputes the net
    * change set arithmetically from the pages CTE. */
  def changelogQuery(spark: SparkSession, sfDir: String): DataFrame = {
    def prepared = pagesWithPartitions(spark, sfDir)
      .withColumn("p_date", lit("all"))
    val root = cachedTable("graft-cdc", sfDir, 3L, ver = 1) { stage =>
      runPages(spark, prepared.filter(col("doc_id") % 3 =!= 0), stage, "base")
      mergeUpsertMor(spark, stage,
        prepared.filter(col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L), "up")
      deleteWhere(spark, stage, col("doc_id") % 5 === 3, "del")
      ()
    }
    SnapshotTable.changelogBetween(spark, root, 1L, 3L)
      .groupBy(col("op"), col("lang"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("op"), col("lang"))
  }

  /** Merge-on-read delete end to end (oracle-gated q87): base table
    * through the real ingest, every 10th-mod-3 doc deleted WITHOUT
    * rewriting a data file (delete vectors layered in a delta commit),
    * read back CURRENT and aggregate. The oracle recomputes the surviving
    * set arithmetically — hash equality proves the MOR read path exact. */
  def morDeleteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val root = cachedTable("graft-mor", sfDir, 2L, ver = 1) { stage =>
      runPages(spark, pagesWithPartitions(spark, sfDir), stage, "base")
      deleteWhere(spark, stage, col("doc_id") % 10 === 3, "del")
      ()
    }
    val (df, _, _) = SnapshotTable.read(spark, root)
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("doc_id")).as("n_keys"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Build-once root of the DSv2-read fixture table (shared by q76 and
    * `GraftSourceSpec`). */
  def dsv2TableRoot(spark: SparkSession, sfDir: String): String =
    cachedTable("graft-dsv2", sfDir, 1L, ver = 1) { stage =>
      runPages(spark, pagesWithPartitions(spark, sfDir), stage, "dsv2build")
      ()
    }

  /** DSv2-read inventory (oracle-gated q76): builds the (p_cell, p_date)-
    * partitioned snapshot table through the REAL resumable-ingest
    * machinery, then reads it back through `spark.read.format("graft")`
    * with plain Column filters — the manifest prune comes from DSv2
    * filter pushdown (`GraftScanBuilder`), not a caller-side `Pruning`
    * struct. The ilat predicate prunes the southern p_cell buckets at the
    * manifest (gated in `GraftSourceSpec`), and `p_date` — a directory
    * key, not a file column — is both aggregated and exactly re-attached
    * by the scan. */
  def dsv2Inventory(spark: SparkSession, sfDir: String): DataFrame = {
    val root = dsv2TableRoot(spark, sfDir)
    spark.read.format("graft").load(root)
      .filter(col("ilat") >= 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("p_date")).as("n_dates"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Pruned inventory over the committed table: partitions overlapping the
    * given lat band, read via the manifest (partition pruning happens before
    * the parquet scan). */
  def inventory(spark: SparkSession, root: String, minIlat: Int, maxIlat: Int): DataFrame = {
    val (df, _, _) = SnapshotTable.read(spark, root,
      Pruning(minIlat = Some(minIlat), maxIlat = Some(maxIlat)))
    df.filter(col("ilat").between(minIlat, maxIlat))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pages"), countDistinct(col("url")).as("n_urls"))
      .orderBy(col("lang"))
  }
}
