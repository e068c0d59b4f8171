package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over a raw one that sets
  * permissions without forking. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs a `chmod` process for every
  * file and directory a write creates (its `create` and `mkdirs` call it
  * with the masked default mode): 154 forks per `Pipeline.run`, about
  * 2.85 ms each in a 3 GB JVM on a 4-vCPU VM, against 0.023 ms for one
  * `Files.setPosixFilePermissions`.
  *
  * Installed per write by [[ForkFreeLocalFileSystem.writerOptions]], so a
  * session's other `file:` access keeps Hadoop's own class.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** Sets the nine rwx bits with one `java.nio` call. A mode with the
    * sticky bit, which `java.nio` cannot set, goes to Hadoop's `chmod`.
    */
  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }

  /** DataFrameWriter options that route the write's `file:` paths
    * through this class. Spark copies writer options into the write
    * job's Hadoop configuration, which the driver-side committer and the
    * tasks both read. Hadoop caches file systems by scheme, not by
    * configuration, so the cache is bypassed for these writes; other
    * schemes are untouched.
    */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
