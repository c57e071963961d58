package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.Pages

/** Structured Streaming surface (SURVEY.md §2.H): file-source ingest of
  * page parquet with event-time watermarks, windowed cell inventory,
  * stateful url dedup, and a foreachBatch sink into the snapshot table
  * layer. Batch-parity by construction: the streaming transforms reuse the
  * same column expressions as the batch operators, so a replay of the same
  * files produces the same aggregates (tested with the in-memory sink).
  */
object StreamingJobs {

  /** Page schema as written by Pages.fromDocuments (streams must declare
    * schemas — no inference at runtime). Derived from the Page case class
    * so the row shape has exactly one source of truth. */
  val pageSchema: StructType =
    org.apache.spark.sql.Encoders.product[graft.sources.Page].schema

  /** Raw parquet file-source stream (no watermark — for operators that
    * place their own, e.g. the stream-stream join's per-side watermarks;
    * a watermark set here could not be redefined downstream). */
  def pagesStreamRaw(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)

  /** H1 — streaming ingest: parquet file source + 1h event-time watermark. */
  def pagesStream(spark: SparkSession, dir: String): DataFrame =
    pagesStreamRaw(spark, dir).withWatermark("warc_ts", "1 hour")

  /** H2 — windowed inventory: tumbling 6h counts per level-2 cell. */
  def windowedInventory(pages: DataFrame): DataFrame =
    pages
      .withColumn("cell2", Pages.cellCol(col("ilat"), col("ilon"), 2))
      .groupBy(window(col("warc_ts"), "6 hours"), col("cell2"))
      .agg(count(lit(1)).as("n_pages"), approx_count_distinct(col("url")).as("n_urls_approx"))
      .select(col("window.start").as("w_start"), col("cell2"), col("n_pages"),
        col("n_urls_approx"))

  /** H3 — stateful dedup: one row per url within the watermark horizon. */
  def dedupedPages(pages: DataFrame): DataFrame =
    pages.dropDuplicates("url")

  /** H2-geo — streaming PIP inventory: the stream side is keyed by the
    * same codegen'd cell arithmetic as the batch join and hash-joined
    * against the BROADCAST footprint covers, then windowed per footprint.
    * Stream-static broadcast joins need no state store for the static
    * side — the exact batch D1 shape lifted onto a stream. */
  def streamingPipInventory(pages: DataFrame): DataFrame =
    graft.operators.GeoQueries.pipJoinOn(pages.sparkSession, pages)
      .groupBy(window(col("warc_ts"), "6 hours"), col("fp_id"))
      .agg(count(lit(1)).as("n_pages"))
      .select(col("window.start").as("w_start"), col("fp_id"), col("n_pages"))

  /** H-session — streaming SESSION windows: gap-based sessions per source
    * via the built-in session_window (adjacent windows merge in the state
    * store while the watermark keeps state bounded) — the streaming twin
    * of the batch sessionize operator (q54). */
  def sessionInventory(pages: DataFrame, gap: String = "30 minutes"): DataFrame =
    pages
      .groupBy(col("source"), session_window(col("warc_ts"), gap))
      .agg(count(lit(1)).as("n_pages"),
        min(col("ts_sec")).as("t0"), max(col("ts_sec")).as("t1"))
      .select(col("source"), col("session_window.start").as("s_start"),
        col("n_pages"), col("t0"), col("t1"))

  /** H-ss-join — stream-stream interval join: crawls joined to re-crawl
    * observations on url, the re-crawl required within (0, 2h] after the
    * crawl. Both sides carry watermarks so the join state is bounded —
    * the event-time range condition is what lets Spark evict: a crawl row
    * can be dropped once the re-crawl watermark passes its upper bound.
    * Takes RAW streams (`pagesStreamRaw`) — each side's watermark is set
    * here, on its own event-time column. */
  def recrawlJoin(crawl: DataFrame, recrawl: DataFrame): DataFrame = {
    val l = crawl.select(col("doc_id"), col("url"), col("warc_ts").as("l_ts"))
      .withWatermark("l_ts", "1 hour")
    val r = recrawl.select(col("url").as("r_url"), col("warc_ts").as("r_ts"))
      .withWatermark("r_ts", "1 hour")
    l.join(r, col("url") === col("r_url") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("interval 2 hours"))
      .select(col("doc_id"), col("url"), col("l_ts"), col("r_ts"))
  }

  /** H4 — sink: micro-batches appended as parquet via foreachBatch (the
    * same pattern would call IngestJob/SnapshotTable.commit per batch). */
  def sinkToParquet(pages: DataFrame, outDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    pages.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())

  /** H4-full — sink into the snapshot table layer: each micro-batch lands
    * as its own immutable partition set and commits a new snapshot via the
    * atomic-rename protocol, so batch and streaming writers share one
    * table format and readers always see a consistent snapshot. */
  def sinkToSnapshotTable(pages: DataFrame, root: String): DataStreamWriter[org.apache.spark.sql.Row] =
    pages.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchToTable(batch, batchId, root)
      }
      .trigger(Trigger.AvailableNow())

  /** One micro-batch → one immutable partition + one delta snapshot
    * commit (shared by the foreachBatch helper above and the
    * `writeStream.format("graft")` sink). The batch is cached (one source
    * evaluation) and an empty batch writes no dir and commits nothing.
    * Idempotent under engine retries: a re-run batchId replaces its
    * previous entry (same path) instead of duplicating. The delta commit
    * writes one new manifest per batch, other writers' manifests
    * re-referenced untouched. */
  def commitBatchToTable(batch: DataFrame, batchId: Long, root: String): Unit = {
    import graft.sources.SnapshotTable
    val cached = batch.persist()
    if (!cached.isEmpty) {
      val entry = SnapshotTable.writeEntry(cached, s"$root/data/batch=$batchId",
        batchId, "stream")
      SnapshotTable.commitDeltaWithRetry(root)(
        Seq(entry), _.path == entry.path, removePCells = Some(Set(batchId)),
        schemaVer = Some(1), schemaDdl = Some(cached.schema.toDDL),
        resolveResult = false) // per-batch commit must stay O(delta)
      ()
    }
    cached.unpersist(false)
    ()
  }

  /** Drive a streaming query over already-materialized input to completion
    * (test/bench harness: processes everything available, then stops). */
  def runToCompletion(q: StreamingQuery): Unit = {
    try q.awaitTermination(120000)
    finally if (q.isActive) q.stop()
  }

  final case class DupFlag(tbucket: Long, doc_id: Long, dup: Boolean)

  /** H-custom-state — streaming dedup-rate monitor (the q119 batch
    * operator lifted onto a stream): keyed state per CONTENT HASH holds
    * "seen before"; every arriving page is classified dup/first at
    * arrival, rows within a micro-batch resolve ties by (ts, doc_id)
    * exactly like the batch window. flatMapGroupsWithState in Append mode
    * so a downstream sink (or per-bucket aggregation in the consumer)
    * composes. Cross-batch semantics are FIRST-SEEN-WINS (arrival order)
    * — the crawl-processing contract; replaying the corpus as one batch
    * reproduces q119's global (ts, doc_id) order bit-exactly
    * (StreamingSpec parity test). */
  def dedupRateFlags(pages: DataFrame): org.apache.spark.sql.Dataset[DupFlag] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(md5(col("text")).as("h").as[String],
        col("doc_id").as[Long], col("ts_sec").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long, Long)], state: GroupState[Boolean]) =>
          val sorted = rows.toArray.sortBy(r => (r._3, r._2))
          var seen = state.getOption.getOrElse(false)
          val out = sorted.map { case (_, id, ts) =>
            val dup = seen; seen = true
            DupFlag((ts - Pages.Epoch) / 21600, id, dup)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Geofence input: one (source, ts_sec, doc_id, fp_id) row per page and
    * containing fence — the stream-static broadcast box join, LEFT so a
    * page outside every fence still arrives, with fp_id -1. */
  private def fenceTagged(pages: DataFrame): org.apache.spark.sql.Dataset[(String, Long, Long, Int)] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val fp = graft.sources.Footprints.boxesDf(spark)
    pages.join(broadcast(fp), graft.sources.Footprints.contains, "left")
      .select(col("source").as[String], col("ts_sec").as[Long],
        col("doc_id").as[Long], coalesce(col("fp_id"), lit(-1)).as[Int])
  }

  /** One source's tagged rows grouped back to per-page fence sets
    * (ts, doc_id, fences), in (ts, doc_id) order. */
  private def fenceEvents(rows: Iterator[(String, Long, Long, Int)]): Seq[(Long, Long, Set[Int])] =
    rows.toArray.groupBy(r => (r._2, r._3)).toSeq
      .map { case ((ts, id), xs) => (ts, id, xs.map(_._4).filter(_ >= 0).toSet) }
      .sortBy(e => (e._1, e._2))

  final case class GeoAlert(source: String, ts_sec: Long, doc_id: Long,
      fp_id: Int, kind: String)
  final case class AlertState(lastTs: Long, lastId: Long, fps: Seq[Int])

  /** H-custom-state — streaming GEOFENCE alerting: each page's footprint
    * membership comes from the stream-static broadcast box join (the
    * q01 PIP shape on a stream — pages outside every fence carry a null
    * fp), and per-SOURCE keyed state holds the set of footprints the
    * source currently occupies; set differences at each event emit
    * enter/exit alerts in (ts, doc_id) arrival order. The fleet-monitor
    * primitive ("crawler X entered region Y") a geospatial pipeline runs
    * on the live feed. State is ≤ nFootprints ints per source — bounded;
    * alerts stream in Append mode so any sink composes. */
  def geofenceAlerts(pages: DataFrame): org.apache.spark.sql.Dataset[GeoAlert] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    fenceTagged(pages).groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[(String, Long, Long, Int)],
            state: GroupState[AlertState]) =>
          // one entry per (page × matched fence); group back to per-page
          // fence sets, replay in (ts, doc_id) order. Late rows — (ts,
          // doc_id) at or before the last processed event in the SAME
          // (ts, doc_id) replay order — are DROPPED (ADVICE r5):
          // micro-batches carry no cross-batch ordering guarantee, and
          // replaying a stale batch against newer state would flap
          // enter/exit pairs off positions the source has already left.
          // The guard keys on the full (ts, doc_id) tiebreak, NOT ts
          // alone, so same-timestamp events within one batch still
          // replay exactly like the brute oracle (r6 review).
          val events = fenceEvents(rows)
          val st = state.getOption.getOrElse(AlertState(Long.MinValue, Long.MinValue, Nil))
          var cur = st.fps.toSet
          var lastTs = st.lastTs
          var lastId = st.lastId
          val out = Seq.newBuilder[GeoAlert]
          for ((ts, id, fps) <- events
               if ts > lastTs || (ts == lastTs && id > lastId)) {
            (fps -- cur).toSeq.sorted.foreach(f => out += GeoAlert(source, ts, id, f, "enter"))
            (cur -- fps).toSeq.sorted.foreach(f => out += GeoAlert(source, ts, id, f, "exit"))
            cur = fps
            lastTs = ts
            lastId = id
          }
          state.update(AlertState(lastTs, lastId, cur.toSeq.sorted))
          out.result().iterator
      }
  }

  final case class DwellState(lastTs: Long, fps: Seq[Int], dwell: Map[Int, Long])
  final case class DwellUpdate(source: String, fp_id: Int, dwell_sec: Long)

  /** H-custom-state — geofence DWELL time: cumulative seconds each source
    * spends inside each footprint, under the presence-persists-until-the-
    * next-observation convention (the interval between consecutive
    * events accrues to every fence the PREVIOUS event occupied). Emits
    * the per-(source, fence) cumulative totals after each batch.
    * Late rows (ts ≤ the last seen) are ignored for the clock, like
    * [[sourceCadence]] — micro-batches carry no cross-batch ordering
    * guarantee; a single-batch replay reproduces the exact ordered
    * semantics (ST-gated against a brute replay). */
  def geofenceDwell(pages: DataFrame): org.apache.spark.sql.Dataset[DwellUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    fenceTagged(pages).groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[(String, Long, Long, Int)],
            state: GroupState[DwellState]) =>
          val events = fenceEvents(rows)
          val st = state.getOption.getOrElse(DwellState(Long.MinValue, Nil, Map.empty))
          var dwell = st.dwell
          var lastTs = st.lastTs
          var lastFps = st.fps.toSet
          for ((ts, _, fps) <- events) {
            if (ts > lastTs) {
              if (lastTs != Long.MinValue)
                lastFps.foreach(f => dwell += f -> (dwell.getOrElse(f, 0L) + (ts - lastTs)))
              lastTs = ts
              lastFps = fps
            }
          }
          state.update(DwellState(lastTs, lastFps.toSeq.sorted, dwell))
          dwell.toSeq.sortBy(_._1).map { case (f, d) => DwellUpdate(source, f, d) }.iterator
      }
  }

  final case class SourceState(nPages: Long, lastTs: Long, maxGap: Long)
  final case class SourceUpdate(source: String, n_pages: Long, last_ts: Long, max_gap: Long)

  /** H-custom-state — per-source recrawl cadence via mapGroupsWithState:
    * tracks page count, last crawl ts and the max inter-crawl gap per
    * source across micro-batches (the GIPS revisit-cadence analog with
    * explicit keyed state, not a windowed aggregate). */
  def sourceCadence(pages: DataFrame): org.apache.spark.sql.Dataset[SourceUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("source").as[String], col("ts_sec").as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (source: String, rows: Iterator[(String, Long)], state: GroupState[SourceState]) =>
          val ts = rows.map(_._2).toArray.sorted
          val prev = state.getOption.getOrElse(SourceState(0L, Long.MinValue, 0L))
          var last = prev.lastTs
          var maxGap = prev.maxGap
          // late rows (ts <= last crawl seen) are counted but neither
          // regress last_ts nor fabricate a gap — micro-batches carry no
          // cross-batch ordering guarantee under the watermark
          ts.foreach { t =>
            if (t > last) {
              if (last != Long.MinValue && t - last > maxGap) maxGap = t - last
              last = t
            }
          }
          val next = SourceState(prev.nPages + ts.length, last, maxGap)
          state.update(next)
          SourceUpdate(source, next.nPages, next.lastTs, next.maxGap)
      }
  }
}
