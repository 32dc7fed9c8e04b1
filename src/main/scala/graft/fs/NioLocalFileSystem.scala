package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that changes permission bits and reads links through
  * `java.nio.file` instead of child processes.
  *
  * Without Hadoop's native library the stock class runs `chmod` for every
  * file and directory it creates with a permission (every parquet part file,
  * `.crc` and commit-protocol directory) and `readlink` for every link-status
  * lookup, which `FileContext` makes on each rename of a streaming
  * checkpoint log entry. Both come from one system call here.
  *
  * Behaviour is the stock one:
  *  - the mode set is `FsPermission.toShort`, after the same umask the
  *    callers apply; a mode with bits beyond `rwxrwxrwx` (the sticky bit) or
  *    a file store without POSIX attributes takes the stock call;
  *  - the link is read at `new File(path.toString)`, as the stock call does,
  *    so a scheme-qualified path never reads as a link (the stock `readlink`
  *    fails on it too) and the status of a link is built from the same
  *    fields.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  private def linkStatus(f: Path): FileStatus = {
    val target =
      try {
        val link = new File(f.toString).toPath
        if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
      } catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // A dangling link: its target is gone, the link itself is not.
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  /** The nio permission set of the low nine mode bits; `values` is ordered
    * owner read … others execute, i.e. from bit 8 down to bit 0.
    */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}

/** The checksummed `file` scheme of the `FileSystem` API
  * (`fs.file.impl`) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `file` scheme of the `FileContext` API, as Hadoop's package-private
  * `RawLocalFs`, over [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file` scheme of the `FileContext` API
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`. `FileContext`
  * keeps its atomic rename, so the streaming checkpoint logs stay on
  * `FileContextBasedCheckpointFileManager`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
