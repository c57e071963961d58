package graft.util

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every JVM with the program on its classpath
  * (`fs.file.impl` in `src/main/resources/core-site.xml`): Hadoop's
  * checksummed `LocalFileSystem`, so `.crc` files are written and verified
  * as before, over a raw local file system that sets permissions
  * in-process. Without a native `libhadoop` the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, once for
  * every file, `.crc` and directory a write creates. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** The mode `chmod <4-digit octal>` sets, with one chmod(2): all 12 bits
      * through `unix:mode`, except that a directory keeps its
      * set-uid/set-gid bits, as GNU `chmod` keeps them. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val keep =
        if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00 // 06000
        else 0
      Files.setAttribute(f, "unix:mode", keep | perm.toShort)
    }
  }
}
