package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of the table layer's own I/O. Without native
  * Hadoop, the stock `RawLocalFileSystem.setPermission` forks a `chmod`
  * for every file, `.crc` and dir it creates; here it is one
  * `java.nio` call. On Spark's jar dir `file:` resolves to Hive's
  * `ProxyLocalFileSystem`, whose one change is a `rename` that refuses
  * an existing target file; this class keeps that rule and makes it
  * atomic, so a file published onto a file path is put-if-absent.
  * Selected per use, never as the session's `file:` FileSystem:
  * [[writeOptions]] for a write's tasks, [[shared]] for the driver. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {

  /** A file onto a file path is a hard link, which fails atomically
    * when the target exists, then a delete of the source. Anything else,
    * or a filesystem without hard links, takes Hive's check-then-rename. */
  override def rename(src: Path, dst: Path): Boolean = {
    val raw = getRaw.asInstanceOf[RawLocalFileSystem]
    def nio(p: Path) = raw.pathToFile(p).toPath
    def checkThenRename =
      !Files.isRegularFile(nio(dst)) && super.rename(src, dst)
    if (!Files.isRegularFile(nio(src)) || Files.isDirectory(nio(dst)))
      return checkThenRename
    try Files.createLink(nio(dst), nio(src)) catch {
      case _: FileAlreadyExistsException => return false
      case _: IOException | _: UnsupportedOperationException =>
        return checkThenRename
    }
    // published; the rest is cleanup, and a file without its crc reads
    // unverified
    try Files.delete(nio(src)) catch { case _: IOException => }
    try Files.move(nio(getChecksumFile(src)), nio(getChecksumFile(dst)),
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: IOException => }
    true
  }
}

object NioLocalFileSystem {

  private class Raw extends RawLocalFileSystem {
    // sticky and setuid bits, and non-POSIX filesystems, keep the stock path
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xffff
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.foreach { pp =>
          if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException =>
          super.setPermission(p, permission) }
      }
    }
  }

  /** Writer options that make every `file:` lookup of one write's job
    * and tasks resolve to this class. Hadoop's FileSystem cache keys by
    * scheme and user, not by conf, so without `disable.cache` a cached
    * stock instance would be served. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private var sharedFs: FileSystem = _

  /** One instance for all driver-side table I/O, outside Hadoop's
    * cache, initialised from a copy of the first caller's conf. */
  def shared(conf: Configuration): FileSystem = synchronized {
    if (sharedFs == null) {
      val fs = new NioLocalFileSystem
      fs.initialize(URI.create("file:///"), new Configuration(conf))
      sharedFs = fs
    }
    sharedFs
  }
}
