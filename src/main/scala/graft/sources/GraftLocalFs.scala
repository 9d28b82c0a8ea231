package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` file system: Hadoop's `RawLocalFileSystem` with two
  * calls that start a child process replaced by their `java.nio`
  * equivalents.  Without Hadoop's native library the stock class runs
  * a `chmod` process for every file and directory it creates
  * (`setPermission`) and a `readlink` process for every
  * `getFileLinkStatus` (and `getLinkTarget`), which `FileContext` calls
  * several times per rename; a streaming micro-batch, whose offset,
  * commit and state-store files are each created and renamed, paid
  * thousands of these.  Everything else, the `FileStatus` returned
  * included, is the stock code.
  *
  * Two faces carry it, so the `.crc` sidecars are still written and
  * checked on both of Hadoop's APIs: [[GraftLocalFileSystem]]
  * (`FileSystem`) and [[GraftLocalFs]] (`FileContext`, which also
  * checks them where the stock `LocalFs` skips the check).
  * [[GraftLocalFs.Settings]] installs both; only the `file:` scheme is
  * affected. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`.  Bits `java.nio` cannot set (sticky)
    * and file systems without POSIX attributes keep the stock call. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared owner rwx, group rwx, others rwx
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock (non-`stat`) link status, with the `readlink` process
    * replaced.  Like the stock code it reads the link at
    * `new File(f.toString)`, so a scheme-qualified path is never
    * reported as a symlink, and a dangling link gets a status of its
    * own. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      case e: FileNotFoundException =>
        if (target.isEmpty) throw e
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }

  /** What `FileUtil.readLink` returns: the link's target, trimmed, or
    * "" when `f` is not a symlink or cannot be read. */
  private def readLink(f: File): String =
    try {
      val p = Paths.get(f.toString)
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: Exception => "" }
}

/** The `FileSystem` face: a `LocalFileSystem` (checksummed, so
  * `FileSystem.getLocal` still casts) over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** [[GraftRawLocalFileSystem]] as an `AbstractFileSystem`, as Hadoop's
  * `RawLocalFs` wraps the stock class. */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` face: a `ChecksumFs` over [[GraftRawLocalFs]], as
  * Hadoop's `LocalFs` is over `RawLocalFs`.  `FileContext` builds it
  * through this `(URI, Configuration)` constructor. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf)) {
  /** `FilterFs.open(Path)` hands the one-argument open, the one
    * `FileContext.open` uses, straight to the raw file system, so the
    * stock `LocalFs` never checks a `.crc` it wrote (a flipped byte in a
    * streaming offset log was read back as is).  Route it through the
    * checking open, as `FileSystem.open` does. */
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}

object GraftLocalFs {
  /** The Hadoop settings that route `file:` to graft's local file
    * system on both APIs.  `FileSystem` instances are cached per
    * scheme for the whole JVM, so the first caller to open `file:`
    * decides its class: every place graft builds a Hadoop
    * configuration sets these ([[graft.GraftSession.configure]],
    * [[Fs.conf]]). */
  val Settings: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}
