package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The engine's file system for `file:` paths: Hadoop's checksummed
  * local file system over [[LocalFs.Raw]], which answers without
  * starting a process. Without Hadoop's native library the stock
  * `RawLocalFileSystem` runs `chmod` for every `setPermission`,
  * `readlink` for every `getFileLinkStatus` and `ls -ld` the first time
  * a status's permission, owner or group is read. A micro-batch of a
  * stateful stream into the lake makes a hundred or more such calls
  * (state-store deltas, offset and commit logs, the lake's commit),
  * each a fork and exec.
  *
  * [[graft.GraftSession.builder]] installs it for both Hadoop APIs:
  * this class as `fs.file.impl` (`FileSystem`), [[LocalFs.Context]] as
  * `fs.AbstractFileSystem.file.impl` (`FileContext`, which streaming
  * checkpoints use). Bytes, `.crc` checksums, rename and overwrite stay
  * Hadoop's own code; other schemes are untouched. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  // mode bits: octal 0777, 01000 and 07000 (Scala has no octal literals)
  private val Rwx = 0x1ff
  private val Sticky = 0x200
  private val Special = 0xe00

  /** `RawLocalFileSystem` with the four calls that start a process
    * answered from `java.nio.file`, with the values the commands give. */
  private[graft] class Raw extends RawLocalFileSystem {
    private var blockSize = 0L

    override def initialize(uri: URI, conf: Configuration): Unit = {
      super.initialize(uri, conf)
      blockSize = getDefaultBlockSize(new Path(uri))
    }

    /** The stock status, with permission, owner and group read in the
      * same `stat` rather than on first use. The stock call takes them
      * from `ls -ld` of the canonical path, so a link reports its
      * target's; of the mode it keeps the rwx and sticky bits
      * (`FsPermission.valueOf`), and `ls` prints a uid or gid without a
      * name as its number, as `getName` does. */
    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val missing = new FileNotFoundException(s"File $f does not exist")
      if (!file.exists()) throw missing
      val a = try Files.readAttributes(file.toPath,
          "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group")
        catch { case _: NoSuchFileException => throw missing }
      def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      def name(k: String) = a.get(k).asInstanceOf[Principal].getName
      new FileStatus(a.get("size").asInstanceOf[Long],
        a.get("isDirectory").asInstanceOf[Boolean], 1, blockSize,
        time("lastModifiedTime"), time("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & (Sticky | Rwx)).toShort),
        name("owner"), name("group"),
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    /** A file lists as its own status; the stock call builds that one
      * with the lazily loaded permission. */
    override def listStatus(f: Path): Array[FileStatus] = {
      val file = pathToFile(f)
      if (file.exists() && !file.isDirectory) Array(getFileStatus(f))
      else super.listStatus(f)
    }

    /** The stock call tests `f.toString` with `readlink`, so a
      * qualified `file:` path never reads as a link; the same string is
      * tested here. A real link goes to the stock call. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
      else getFileStatus(f)

    /** The stock call runs `chmod` with a four-digit octal mode, which
      * keeps a directory's setuid and setgid bits; setting the POSIX
      * permissions clears them. So a mode with the sticky bit, or a
      * target with a setuid, setgid or sticky bit, goes to the stock
      * call. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      val mode = permission.toShort.toInt
      if (mode > Rwx ||
          (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & Special) != 0)
        super.setPermission(p, permission)
      // values() runs from OWNER_READ (0400) to OTHERS_EXECUTE (01)
      else Files.setPosixFilePermissions(path, PosixFilePermission.values()
        .filter(q => (mode & (0x100 >> q.ordinal)) != 0).toSet.asJava)
    }
  }

  /** `FileContext`'s `file:` file system: Hadoop's
    * `org.apache.hadoop.fs.local.LocalFs` over [[Raw]]. The URI is
    * ignored, as the stock class ignores it. */
  class Context(uri: URI, conf: Configuration)
    extends ChecksumFs(new Delegate(conf))

  /** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]. */
  private[sources] class Delegate(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
