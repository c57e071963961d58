package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftSource, SnapshotTable}

/** Streaming incremental read of the snapshot table (the Iceberg
  * streaming-read analog):
  *
  * {{{
  * spark.readStream.format("graft-stream").option("path", root).load()
  * }}}
  *
  * Offsets are snapshot sequence numbers; each micro-batch is the
  * FILE-LEVEL delta between the last processed snapshot and the current
  * one (appended + rewritten partition files — `changesBetween`
  * semantics: a COW rewrite surfaces its whole file, consumers dedup on
  * their key for row-level changes). The first batch is the full current
  * snapshot unless `fromSeq` skips the backfill. Exactly-once per
  * snapshot via the engine's checkpointed offsets; snapshots a stream
  * still needs must not be `expire`d (the standard Iceberg
  * retain-for-consumers constraint — getBatch fails loudly if one is
  * gone).
  *
  * This ONE file lives under `org.apache.spark.sql` to reach
  * `SQLContext.internalCreateDataFrame(..., isStreaming = true)` — the
  * V1 streaming-source contract requires the returned frame to be
  * flagged streaming, and that constructor is `private[sql]`. Same
  * placement pattern as the Kafka connector (`o.a.s.sql.kafka010`) and
  * Delta's DeltaSource; everything else stays in `graft.*`.
  */
class GraftStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-stream"

  /** Sink side: `writeStream.format("graft-stream").option("path", root)`
    * — each micro-batch lands as one immutable partition + one delta
    * snapshot commit (same machinery as
    * `StreamingJobs.commitBatchToTable`; idempotent per batchId). */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val r = root(parameters)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // V1 sink contract: `data`'s plan is the incremental execution and
        // must not be re-analyzed by downstream actions — rebase it onto
        // the computed RDD first (the standard V1-sink wrap)
        val fresh = sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
          .internalCreateDataFrame(data.queryExecution.toRdd, data.schema,
            isStreaming = false)
        graft.streaming.StreamingJobs.commitBatchToTable(fresh, batchId, r)
      }
      override def name(): String = s"graft-stream-sink(`$r`)"
      override def schema(): org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
      override def toString: String = name()
    }
  }

  private def root(parameters: Map[String, String]): String =
    GraftStreamCommon.root(parameters, shortName())

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(GraftSource.tableSchema(root(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val r = root(parameters)
    new GraftStreamSource(sqlContext, r,
      schema.getOrElse(GraftSource.tableSchema(r)),
      GraftStreamCommon.fromSeq(parameters, shortName()))
  }
}

private[graft] case class GraftSourceOffset(seq: Long) extends Offset {
  override def json: String = seq.toString
}

/** Streaming ROW-LEVEL CDC (the Delta Change-Data-Feed analog):
  *
  * {{{
  * spark.readStream.format("graft-cdc").option("path", root).load()
  * }}}
  *
  * Offsets are snapshot seqs like `graft-stream`, but each micro-batch is
  * `SnapshotTable.changelogBetween(lo, hi)` — the NET per-key (op,
  * doc_id, lang, n_chars) changes with op ∈ I/U/D. Unlike the file-level
  * stream, a COW rewrite or compaction commit produces an EMPTY batch
  * (carried-over rows net out) and deletes surface as explicit D rows
  * instead of silently vanishing. The first batch is the full state as
  * 'I' rows (the CDF initial-snapshot convention); `fromSeq` skips the
  * backfill and streams changes committed after that snapshot. */
class GraftCdcProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftCdcProvider.cdcSchemaFor(
      GraftStreamCommon.root(parameters, shortName())))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val r = GraftStreamCommon.root(parameters, shortName())
    new GraftCdcSource(sqlContext, r, GraftCdcProvider.cdcSchemaFor(r),
      GraftStreamCommon.fromSeq(parameters, shortName()))
  }
}

private[graft] object GraftCdcProvider {
  /** CDC schema is DERIVED from the table: op + doc_id + whichever payload
    * columns the table actually has, with the table's own types — a table
    * without n_chars (or with an int n_chars) must not be reinterpreted
    * under a hardcoded 4-field long layout. */
  def cdcSchemaFor(root: String): StructType = {
    val t = GraftSource.tableSchema(root)
    Seq("lang", "n_chars").filter(t.fieldNames.contains)
      .foldLeft(new StructType()
        .add("op", org.apache.spark.sql.types.StringType)
        .add("doc_id", org.apache.spark.sql.types.LongType)) { (s, p) => s.add(t(p)) }
  }
}

/** Helpers shared by the two stream providers — the offset/option
  * semantics MUST stay identical between the file-level and row-level
  * sources. */
private[graft] object GraftStreamCommon {
  def root(parameters: Map[String, String], fmt: String): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(s"$fmt requires .option(\"path\", <table root>)"))

  def fromSeq(parameters: Map[String, String], fmt: String): Long =
    parameters.get("fromSeq").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$fmt option fromSeq must be a snapshot seq number, got '$v'")
      }
    }.getOrElse(0L)
}

/** Offset plumbing shared by both sources (seqs in, seqs out). */
private[graft] trait SeqOffsetSource { self: Source =>
  protected def tableRoot: String
  protected def startSeq: Long
  protected def seqOf(o: Offset): Long = o.json.trim.toLong
  override def getOffset: Option[Offset] =
    SnapshotTable.currentSeq(tableRoot).filter(_ > startSeq).map(GraftSourceOffset)
}

private[graft] class GraftCdcSource(sqlContext: SQLContext, root: String,
    override val schema: StructType, fromSeq: Long)
    extends Source with SeqOffsetSource {
  override protected def tableRoot: String = root
  override protected def startSeq: Long = fromSeq

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val spark = sqlContext.sparkSession
    val lo = start.map(seqOf).getOrElse(fromSeq)
    val hi = seqOf(end)
    val payload = schema.fieldNames.toSeq.drop(2)
    val df0 =
      if (lo == 0L) {
        // initial snapshot: every live row as 'I' (the CDF convention)
        val to = SnapshotTable.snapshotAt(root, hi).getOrElse(
          throw new IllegalStateException(s"no snapshot $hi under $root"))
        if (to.parts.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else SnapshotTable.applyDeletes(spark, to.parts, SnapshotTable.readSchema(spark, to))
          .select(Seq(lit("I").as("op"), col("doc_id")) ++ payload.map(col): _*)
      } else
        // cache=false is deliberate: the candidate set is delta-bounded,
        // so the double scan (one per endpoint semi-join) is cheap, while
        // a per-batch cache in a long-running stream has no release point
        SnapshotTable.changelogBetween(spark, root, lo, hi, payload, cache = false)
    // pin the positional layout to the declared schema (types included):
    // internalCreateDataFrame reinterprets rows POSITIONALLY, so any
    // drift between the produced frame and `schema` must surface as an
    // analysis error here, never as silent field corruption downstream
    val df = df0.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    // V1 streaming contract: the batch frame must carry isStreaming=true
    sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      .internalCreateDataFrame(df.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] class GraftStreamSource(sqlContext: SQLContext, root: String,
    override val schema: StructType, fromSeq: Long)
    extends Source with SeqOffsetSource {
  // concrete offset may be ours or the engine's checkpoint-restored
  // SerializedOffset — both carry the seq as their json (seqOf, shared)
  override protected def tableRoot: String = root
  override protected def startSeq: Long = fromSeq

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(seqOf).getOrElse(fromSeq)
    val hi = seqOf(end)
    val basePaths: Set[String] =
      if (lo == 0L) Set.empty
      else SnapshotTable.snapshotAt(root, lo).getOrElse(
        throw new IllegalStateException(
          s"snapshot $lo under $root was expired while a stream still needed it"))
        .parts.map(_.path).toSet
    val to = SnapshotTable.snapshotAt(root, hi).getOrElse(
      throw new IllegalStateException(s"no snapshot $hi under $root"))
    val delta = to.parts.filterNot(p => basePaths(p.path))
    val cols = schema.fieldNames.toSeq
    lazy val readSchema = SnapshotTable.readSchema(sqlContext.sparkSession, to)
    val df =
      if (delta.isEmpty)
        sqlContext.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else delta.groupBy(_.pDate).toSeq.sortBy(_._1).map { case (d, es) =>
        // honor the batch snapshot's delete vectors on delivered rows.
        // NOTE: delete-ONLY commits advance the offset with an empty
        // batch (file-level CDC) — replicas additionally consume
        // SnapshotTable.deleteDeltaBetween for the removed ids.
        SnapshotTable.applyDeletes(sqlContext.sparkSession, es, readSchema)
          .withColumn("p_date", lit(d))
          .select(cols.map(col): _*)
      }.reduce(_.unionByName(_))
    // V1 streaming contract: the batch frame must carry isStreaming=true
    sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      .internalCreateDataFrame(df.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
