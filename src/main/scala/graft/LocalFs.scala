package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free local writes. Without the native libhadoop, Hadoop's
  * `RawLocalFileSystem.setPermission` starts a `chmod` process for
  * every directory, part file and `.crc` file it creates, and
  * `getFileLinkStatus` a `readlink` process for every path a
  * FileContext rename checks: 97 per ingest round (30 chapter
  * directories, 30 part files, their `.crc` files and the `_temporary`
  * tree) and 61 + 192 per `s_session` checkpoint. [[Raw]] sets the same
  * nine rwx bits and tells symlinks apart through java.nio instead; a
  * mode with bits beyond 0777 (sticky, setuid), a file store without a
  * POSIX view or a symlink takes the stock call. [[Checked]] and [[Fs]] wrap it
  * exactly as the stock `LocalFileSystem` and FileContext `LocalFs`
  * wrap theirs, so the `.crc` files and the bytes on disk are unchanged.
  *
  * [[conf]] sends `file:` paths to these classes for ONE operation:
  * writers take it as options (a file write copies its options into
  * the job's Hadoop conf), a stream takes it on the session conf it
  * clones at `start()`. It is per operation, not set once per session,
  * because graft's writers also run on sessions graft did not build.
  * Only the `file` scheme is touched; DFS paths are unchanged. */
object LocalFs {
  /** `RawLocalFileSystem` whose `setPermission` and
    * `getFileLinkStatus` start no process. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!setPosix(pathToFile(p).toPath, perm)) super.setPermission(p, perm)

    // the stock call execs `readlink` to tell a symlink from a file and
    // returns getFileStatus for anything else; only a symlink takes it
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
      else getFileStatus(p)
  }

  /** `fs.file.impl`: the checksummed FileSystem. Spark's Hive jars
    * register Hive's `ProxyLocalFileSystem` for `file` through the
    * service loader, so it is the stock class wherever they are on the
    * classpath; its one change, kept, is the FileSystem contract's
    * rename that never replaces an existing file. */
  class Checked extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean =
      !isFile(dst) && super.rename(src, dst)
  }

  /** `fs.AbstractFileSystem.file.impl`: the FileContext twin that the
    * streaming checkpoint manager and the HDFS-backed state store use. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Hadoop's `RawLocalFs`, over [[Raw]]. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = getServerDefaults
    // as RawLocalFs: the local OS validates names, not Hadoop
    override def isValidName(src: String): Boolean = true
  }

  /** The three keys that route `file:` to these classes. The JVM-wide
    * FileSystem cache ignores the conf it is asked with, so without
    * `disable.cache` an already-cached stock instance comes back. */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checked].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Set `perm`'s rwx bits on `f`; false (nothing set) when the mode has
    * bits beyond 0777 or the file store has no POSIX view. */
  private[graft] def setPosix(f: NioPath, perm: FsPermission): Boolean = {
    val mode = perm.toShort.toInt
    val view = if ((mode & ~0x1ff) != 0) null
      else Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
    view != null && {
      // PosixFilePermission's ordinals run OWNER_READ (bit 8) .. OTHERS_EXECUTE (bit 0)
      val bits = new java.util.HashSet[PosixFilePermission]
      PosixFilePermission.values.foreach { b =>
        if ((mode >> (8 - b.ordinal) & 1) == 1) bits.add(b) }
      view.setPermissions(bits)
      true
    }
  }
}
