package org.apache.spark.sql.graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
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
  * descends into sub-directories. `rootPaths` are the entry directories;
  * there is no partition schema — a manifest entry's directory keys are
  * columns of the table contract, not of the scan.
  *
  * Lives in the `org.apache.spark.sql` namespace for
  * `HadoopFsRelation` construction and `StructType.asNullable`
  * (private[spark]). */
class ManifestFileIndex(dirs: Seq[String]) extends FileIndex {

  private val files: Seq[FileStatus] = dirs.flatMap { d =>
    val p = Paths.get(d)
    if (!Files.exists(p))
      throw new java.io.FileNotFoundException(s"snapshot entry path $d does not exist")
    ManifestFileIndex.leaves(p)
  }

  override val rootPaths: Seq[HPath] = dirs.map(d => new HPath(Paths.get(d).toUri))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  /** Entry directories are immutable once a manifest references them. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

object ManifestFileIndex {

  /** Block size reported for listed files: the local file system's
    * default (`fs.local.block.size`). */
  private val BlockSize = 32L * 1024 * 1024

  private def hidden(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("_") || n.startsWith(".")
  }

  /** Data files under `p` (`p` itself when it is a file). */
  private def leaves(p: Path): Seq[FileStatus] =
    if (!Files.isDirectory(p))
      Seq(new FileStatus(Files.size(p), false, 1, BlockSize,
        Files.getLastModifiedTime(p).toMillis, new HPath(p.toUri)))
    else {
      val s = Files.list(p)
      val children = try s.iterator().asScala.filterNot(hidden).toSeq.sorted finally s.close()
      children.flatMap(leaves)
    }

  /** Parquet scan of `dirs` under `schema` (made nullable, as every file
    * source reads): no Spark job runs until the frame is acted on. */
  def scan(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame = {
    val rel = HadoopFsRelation(new ManifestFileIndex(dirs), new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].baseRelationToDataFrame(rel)
  }
}
