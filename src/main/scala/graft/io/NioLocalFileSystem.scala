package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** `file:` for Spark's writers without a `chmod` child process per file.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", …)`, and a write sets the permission of
  * every part file, every `.crc` and every directory it creates: 31
  * forks of ~3 ms each in one `process` pass of 8 output files. This is
  * the stock checksummed `LocalFileSystem` (`.crc` files kept) over a raw
  * file system that sets the mode through `java.nio` instead. Hadoop has
  * already applied `fs.permissions.umask-mode` to the permission it
  * passes in, so the same modes land on disk. A mode NIO cannot express
  * (the sticky bit), or a file system with no POSIX view, takes Hadoop's
  * own path.
  *
  * Selected by [[conf]]: every session [[graft.util.Sessions]] builds
  * carries it as `spark.hadoop.*`, and the sink writers pass
  * [[writerOptions]] so a session graft did not build writes without
  * forks as well. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Hadoop conf selecting this file system for `file:`. The cache must be
    * off: `FileSystem.CACHE` keys on scheme and user only, so once a stock
    * `file:` instance is cached, `fs.file.impl` is never read again. */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Writer options for a write through `spark`: [[conf]], unless the
    * session's Hadoop conf already names a `file:` implementation (graft's
    * own sessions, or a caller's choice, which is left in place). */
  def writerOptions(spark: SparkSession): Map[String, String] =
    if (Option(spark.sessionState.newHadoopConf().getTrimmed("fs.file.impl")).exists(_.nonEmpty))
      Map.empty
    else conf

  private lazy val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission.values() runs OWNER_READ … OTHERS_EXECUTE, i.e.
  // mode bits 8 down to 0
  private val bits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => (1 << (8 - i), p) }

  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, p) => if ((mode & bit) != 0) s.add(p) }
    s
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // 0x1ff = 0777; anything above it is the sticky bit
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, permissions(mode))
    }
  }
}
