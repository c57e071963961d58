package graft.util

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.jobs.IngestJob
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.Pruning
import graft.testutil.SparkTestBase

/** `file:` is bound to [[LocalFs]] for every JVM, table writes fork no
  * `chmod`, and the permissions they leave are the stock ones.
  *
  * Process starts are counted with a JFR `jdk.ProcessStart` recording.
  * The other process starts on a table path, and why none is per file:
  *  - `getPermission`/`getOwner`/`getGroup` of a local `FileStatus` (a
  *    `stat` fork through `DeprecatedRawLocalFileStatus`), `setOwner` and
  *    `FileUtil.chmod`: `src/main` calls none of them
  *    (`ManifestFileIndex` builds its `FileStatus`es from `java.nio`).
  *  - Hadoop `Shell`'s `setsid`/`getconf PAGESIZE` probes run once per
  *    JVM.
  *  - Spark deletes a released session's artifact directory
  *    (`/tmp/artifacts-*`) with `rm -rf`: a few per run, none per file. */
class LocalFsSpec extends SparkTestBase {

  private def tmpRoot(p: String): String = Files.createTempDirectory(p).toString

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(f) }
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def chmods(cmds: Seq[String]): Seq[String] = cmds.filter(_.startsWith("chmod"))

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def tree(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def localFs: LocalFileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  test("file: is graft.util.LocalFs in the session, a fresh Configuration and getLocal") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(new HPath("file:///").getFileSystem(conf).getClass === classOf[LocalFs])
    assert(FileSystem.get(URI.create("file:///"), new Configuration()).getClass ===
      classOf[LocalFs])
    assert(FileSystem.getLocal(new Configuration()).getClass === classOf[LocalFs])
    assert(localFs.getRaw.getClass === classOf[LocalFs.Raw])
  }

  test("writers, compaction and reads fork no chmod; .crc files are still written") {
    val root = tmpRoot("localfs-forks")
    val in = IngestJob.pagesWithPartitions(spark, sf0001)
    val cmds = processStarts {
      IngestJob.runPages(spark, in, root, "base")
      IngestJob.mergeInto(spark, root,
        in.filter(col("doc_id") % 2 === 0).withColumn("n_chars", col("n_chars") + 1000L), "m")
      IngestJob.mergeUpsertMor(spark, root,
        in.filter(col("doc_id") % 5 === 0).withColumn("n_chars", col("n_chars") + 7L), "u")
      val (pruned, kept, total) =
        SnapshotTable.read(spark, root, Pruning(minIlat = Some(0), maxIlat = Some(299)))
      assert(kept < total)
      pruned.count()
      assert(SnapshotTable.compact(spark, root)(_ => true).isDefined)
      assert(SnapshotTable.read(spark, root)._1.count() === in.count())
    }
    assert(chmods(cmds).isEmpty, s"${chmods(cmds).size} chmod forks, e.g. ${chmods(cmds).take(3)}")
    assert(tree(Paths.get(root)).exists(_.getFileName.toString.endsWith(".parquet.crc")))
    SnapshotTable.recursiveDelete(Paths.get(root))
  }

  test("a runPages write leaves the default file and directory permissions under the umask") {
    val root = Paths.get(tmpRoot("localfs-perms"))
    IngestJob.runPages(spark, IngestJob.pagesWithPartitions(spark, sf0001), root.toString, "base")
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    if (umask.toShort == oct("022")) assert((fileMode, dirMode) === ((oct("644"), oct("755"))))
    val entries = SnapshotTable.currentSnapshot(root.toString).get.parts.map(e => Paths.get(e.path))
    assert(entries.nonEmpty)
    val written = entries.flatMap(tree)
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")))
    files.foreach(f => assert(mode(f) === fileMode, f))
    dirs.foreach(d => assert(mode(d) === dirMode, d))
    SnapshotTable.recursiveDelete(root)
  }

  test("explicit 0640/0750 permissions read back unchanged, with no fork") {
    val root = Paths.get(tmpRoot("localfs-explicit"))
    val fs = localFs
    val file = new HPath(root.resolve("f.bin").toUri)
    val dir = new HPath(root.resolve("d").toUri)
    val cmds = processStarts {
      val out = fs.create(file, new FsPermission(oct("640").toShort), false,
        4096, 1.toShort, fs.getDefaultBlockSize(file), null)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      assert(fs.mkdirs(dir, new FsPermission(oct("750").toShort)))
    }
    assert(chmods(cmds).isEmpty, cmds)
    assert(mode(root.resolve("f.bin")) === oct("640"))
    assert(mode(root.resolve(".f.bin.crc")) === oct("640"))
    assert(mode(root.resolve("d")) === oct("750"))
    SnapshotTable.recursiveDelete(root)
  }

  test("special bits, with no fork: sticky set, a directory's set-gid kept as chmod keeps it") {
    val root = Paths.get(tmpRoot("localfs-special"))
    val fs = localFs
    val sticky = root.resolve("sticky")
    val setgid = root.resolve("setgid")
    Files.createDirectory(sticky)
    Files.createDirectory(setgid)
    Files.setAttribute(setgid, "unix:mode", oct("2775"))
    assert(mode(setgid) === oct("2775"))
    val cmds = processStarts {
      fs.setPermission(new HPath(sticky.toUri), new FsPermission(oct("1777").toShort))
      fs.setPermission(new HPath(setgid.toUri), new FsPermission(oct("750").toShort))
      // positive control: the recording sees a chmod started here
      new ProcessBuilder("chmod", "1777", sticky.toString).start().waitFor()
    }
    assert(chmods(cmds).size === 1, cmds)
    assert(mode(sticky) === oct("1777"))
    assert(mode(setgid) === oct("2750"))
    SnapshotTable.recursiveDelete(root)
  }
}
