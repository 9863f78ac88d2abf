package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.FileTime
import java.security.Principal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` filesystem with its file metadata served by
  * `java.nio` instead of subprocesses.
  *
  * Without libhadoop, stock `RawLocalFileSystem` runs `chmod` after every
  * create and mkdir, `readlink` for every link status (which
  * `FileContext.rename` takes of both its source and its target), and
  * `ls -ld` when a status's permission is read. A streaming trigger
  * writes offsets, commits and state-store deltas this way, so each
  * trigger of each query paid tens of process starts.
  * Here the same calls run in-process: chmod through the `unix:mode`
  * attribute (all 12 bits, like `chmod %04o`), and a status from one
  * `unix` attribute read, which carries the full mode and resolves
  * owner and group names like `ls -ld` (plus a `readlink` and a stat of
  * the target for a symlink).
  *
  * Everything else is inherited: create, rename, delete, umask handling
  * and the `.crc` sidecars of the checksummed wrappers. The statuses
  * keep stock's fields, a link status describing the link's target in
  * all but its type included (`NioLocalFsSpec` compares them against
  * the stock classes). One difference is deliberate: stock
  * reads a link through `new File(path.toString)`, which misses the link
  * when the path is qualified (`file:/...`); this reads it through
  * `pathToFile`, as every other call does.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    status(stat(f, file), null, qualify(file))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** A directory's entries already go through [[getFileStatus]]; stock
    * lists a single file as a status whose permission runs `ls -ld`
    * when read, as `LocatedFileStatus` (`listFiles`) does at once. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isFile) Array(getFileStatus(f)) else super.listStatus(f)

  /** The link status with the target as the link holds it, unqualified. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val own = stat(f, file, LinkOption.NOFOLLOW_LINKS)
    if (!isLink(own)) status(own, null, qualify(file))
    else {
      val target = new Path(Files.readSymbolicLink(file.toPath).toString)
      // everything but the type describes the link's target, as in stock
      try status(stat(f, file), target, f)
      catch {
        case _: FileNotFoundException => // dangling
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  private def qualify(file: File): Path =
    new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)

  private def status(a: Attrs, symlink: Path, path: Path): FileStatus =
    new FileStatus(
      a.get("size").asInstanceOf[Long],
      symlink == null && a.get("isDirectory").asInstanceOf[Boolean],
      1, getDefaultBlockSize(path),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      // the rwx bits and the sticky bit; FsPermission holds no setuid/setgid
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      a.get("owner").asInstanceOf[Principal].getName,
      a.get("group").asInstanceOf[Principal].getName,
      symlink, path)
}

private object NioRawLocalFileSystem {
  type Attrs = java.util.Map[String, AnyRef]

  private val Names =
    "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink"

  def isLink(a: Attrs): Boolean = a.get("isSymbolicLink").asInstanceOf[Boolean]

  /** One stat of `file`; a path that cannot be read is missing, as for
    * stock's `File.exists` check. */
  def stat(f: Path, file: File, options: LinkOption*): Attrs =
    try Files.readAttributes(file.toPath, Names, options: _*)
    catch {
      case e: FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist").initCause(e)
    }
}

/** `fs.file.impl`: the checksummed `FileSystem` API over
  * [[NioRawLocalFileSystem]], as `LocalFileSystem` is over the stock one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` API
  * (Spark's checkpoint and state-store file managers) over
  * [[NioRawLocalFileSystem]], as stock `LocalFs` is over `RawLocalFs`.
  * The URI is ignored as stock does: the local filesystem is `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Stock `RawLocalFs` with the fork-free filesystem inside: its default
  * port, its server defaults and its `isValidName`. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
