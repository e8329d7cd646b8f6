package graft.tables

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its subprocesses.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` runs a `chmod` process
  * for every file and `.crc` it creates and every directory it makes,
  * and a `readlink` process for every link-status lookup, several of
  * which each `FileContext.rename` makes (the streaming offset, commit
  * and state logs). This subclass does the same three operations with
  * `java.nio`, in process; everything else is Hadoop's own code.
  * `SparkSessions.builder` installs it for `file:` paths through
  * [[NioLocalFileSystem]] (FileSystem API) and [[NioLocalFs]]
  * (FileContext API), both checksummed as Hadoop's defaults are. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits `chmod` would set (Hadoop has already applied the
    * umask). Left to the `chmod` process: the sticky bit, which nio
    * cannot express; a target that has a setuid, setgid or sticky bit,
    * since a four-digit `chmod` keeps a directory's setuid and setgid
    * bits where nio would clear them; and a file store without POSIX
    * attributes. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val file = pathToFile(p).toPath
    val done = (bits & ~0x1ff) == 0 && (try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (mode & 0xe00) == 0 && {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists owner rwx, group rwx, others rwx: mode bits 8 down to 0.
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (0x100 >> i)) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(file, perms)
        true
      }
    } catch { case _: UnsupportedOperationException => false })
    if (!done) super.setPermission(p, permission)
  }

  // Hadoop's getFileLinkStatus and getLinkTarget, as they run on the
  // default (deprecated file status) path, with readLink in process.

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** `deprecatedGetFileLinkStatusInternal`. Like Hadoop it reads the link
    * at `f.toString`, so a `file:`-qualified path never reads as a link. */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner, fs.getGroup,
        new Path(target), f)
    } catch {
      // A dangling link: the file it names does not exist.
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }

  /** `FileUtil.readLink` without the `readlink` process: the target a
    * symlink holds, or "" when `file` is no symlink or cannot be read. */
  private def readLink(file: File): String =
    try Files.readSymbolicLink(file.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]; the
  * `fs.file.impl` class. It must be a `LocalFileSystem`, because
  * `FileSystem.getLocal` casts to that type. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`) over
  * [[NioRawLocalFileSystem]]; the `fs.AbstractFileSystem.file.impl`
  * class. Like `LocalFs` it ignores `uri` and serves `file:///`. Unlike
  * `LocalFs`, `open(path)` verifies the `.crc`: `FilterFs.open(Path)`
  * reads the raw filesystem directly, and Spark's offset, commit and
  * state logs are read through that one-argument form. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    // RawLocalFs's overrides.
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
