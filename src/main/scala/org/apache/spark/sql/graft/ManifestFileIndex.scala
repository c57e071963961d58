package org.apache.spark.sql.graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** File index of a snapshot read: the partition directories a manifest
  * kept, listed on the driver with `java.nio` (the table layer is local
  * files throughout). Spark's `spark.read.parquet(dirs)` would instead
  * run a footer-inference job per read and, above 32 paths, a parallel
  * listing job with one task per directory; the manifest already names
  * the directories and records the schema, so neither is needed.
  *
  * Listing follows Spark's hidden-file rule (names starting with `_` or
  * `.` are skipped: `_SUCCESS`, `.crc` checksums, temp files) and
  * descends into sub-directories. `rootPaths` are the entry directories,
  * each carrying partition values the manifest knows (none under an
  * empty `partitionSchema`). [[listFiles]] drops the directories the
  * partition filters reject: Spark does not re-check a partition-only
  * filter above the scan.
  *
  * Lives in the `org.apache.spark.sql` namespace for
  * `HadoopFsRelation` construction and `StructType.asNullable`
  * (private[spark]). */
class ManifestFileIndex(dirs: Seq[(String, InternalRow)],
    override val partitionSchema: StructType) extends FileIndex {

  private val listed: Seq[(InternalRow, Seq[FileStatus])] =
    dirs.map { case (d, values) => values -> ManifestFileIndex.leaves(d) }

  override val rootPaths: Seq[HPath] =
    dirs.map(_._1).distinct.map(d => new HPath(Paths.get(d).toUri))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = selects(partitionFilters)
    listed.collect { case (v, fs) if keep(v) => PartitionDirectory(v, fs.toArray) }
  }

  /** The filters that reference only partition columns, bound to the
    * partition-value row. */
  private def selects(filters: Seq[Expression]): InternalRow => Boolean =
    Predicate.createInterpreted(filters
      .filter(_.references.forall(a => partitionSchema.fieldNames.contains(a.name)))
      .foldLeft[Expression](Literal.TrueLiteral)(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval

  override def inputFiles: Array[String] =
    listed.flatMap(_._2.map(_.getPath.toString)).distinct.toArray

  /** Entry directories are immutable once a manifest references them. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = listed.map(_._2.map(_.getLen).sum).sum
}

object ManifestFileIndex {

  /** Block size reported for listed files: the local file system's
    * default (`fs.local.block.size`). */
  private val BlockSize = 32L * 1024 * 1024

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("_") || n.startsWith(".")
  }

  /** Data files under the entry path `d` (`d` itself when it is a file);
    * a missing path fails loudly. */
  private def leaves(d: String): Seq[FileStatus] = {
    def walk(p: Path): Seq[FileStatus] =
      if (!Files.isDirectory(p))
        Seq(new FileStatus(Files.size(p), false, 1, BlockSize,
          Files.getLastModifiedTime(p).toMillis, new HPath(p.toUri)))
      else {
        val s = Files.list(p)
        try s.iterator().asScala.filterNot(hidden).toSeq.sorted finally s.close()
      }.flatMap(walk)
    if (!Files.exists(Paths.get(d)))
      throw new java.io.FileNotFoundException(s"snapshot entry path $d does not exist")
    walk(Paths.get(d))
  }

  /** Bytes of the data files under the entry path `d`. */
  def sizeInBytes(d: String): Long = leaves(d).map(_.getLen).sum

  /** Parquet scan of `dirs` under `schema` with no partition columns. */
  def scan(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame =
    scan(spark, dirs.map(_ -> Row.empty), new StructType(), schema)

  /** Parquet scan of `dirs` under `schema` (made nullable, as every file
    * source reads), each directory carrying its partition values under
    * `partitionSchema` as columns after the data columns. A directory may
    * be listed under several values. No Spark job runs until the frame is
    * acted on. */
  def scan(spark: SparkSession, dirs: Seq[(String, Row)], partitionSchema: StructType,
      schema: StructType): DataFrame = {
    val toRow = CatalystTypeConverters.createToCatalystConverter(partitionSchema)
    val index = new ManifestFileIndex(
      dirs.map { case (d, v) => d -> toRow(v).asInstanceOf[InternalRow] }, partitionSchema)
    val rel = HadoopFsRelation(index, partitionSchema, schema.asNullable, None,
      new ParquetFileFormat, Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].baseRelationToDataFrame(rel)
  }
}
