package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermissions, UserPrincipal}
import java.nio.file.{FileSystems, Files, NoSuchFileException}

/** The local filesystem without forked processes. Without libhadoop the
  * stock `RawLocalFileSystem` shells out for three things: `chmod` after
  * every file create and mkdir, `ls -ld` for a status's permission, owner
  * and group, and `readlink` for a link status. A copy-on-write commit
  * makes ~120 such calls, at 3–11 ms each. This class makes them in-process
  * through `java.nio` and returns what the stock class returns:
  *  - `setPermission` sets the same mode bits (the sticky bit has no
  *    `java.nio` form, so a sticky mode still goes to `chmod`);
  *  - statuses carry permission, owner and group read from the POSIX
  *    attributes of the file a link resolves to (the stock class runs
  *    `ls -ld` on the canonical path);
  *  - `getFileLinkStatus` of a qualified path is its plain status: the
  *    stock class runs `readlink` on the literal `file:/…` string, which
  *    never names a link. Only an unqualified path resolves links, and
  *    that rare case keeps the stock code.
  * Where the platform has no `unix` attribute view, every call stays stock.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView || permission.getStickyBit) super.setPermission(p, permission)
    else {
      // without the sticky bit, an FsPermission prints as `rwxr-x---`
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    }

  override def getFileStatus(f: Path): FileStatus = loaded(super.getFileStatus(f))

  // a directory's entries already come through getFileStatus; a file's
  // own listing does not
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(loaded)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (f.toUri.getScheme == null) super.getFileLinkStatus(f) else getFileStatus(f)

  /** `st` with permission, owner and group filled in. The stock statuses
    * are a subclass that loads them lazily through `ls -ld`; the plain
    * statuses built here pass through unchanged.
    */
  private def loaded(st: FileStatus): FileStatus =
    if (!unixView || st.getClass == classOf[FileStatus]) st
    else {
      val attrs =
        try Files.readAttributes(pathToFile(st.getPath).toPath, "unix:mode,owner,group")
        catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
      val mode = attrs.get("mode").asInstanceOf[Integer].intValue
      new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, new FsPermission((mode & PermissionBits).toShort),
        attrs.get("owner").asInstanceOf[UserPrincipal].getName,
        attrs.get("group").asInstanceOf[GroupPrincipal].getName, st.getPath)
    }
}

object ForkFreeRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // 01777: sticky bit plus rwxrwxrwx. `ls -ld` shows the set-id bits only
  // as execute bits, so the stock parse drops them too.
  private val PermissionBits = 0x3ff
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over the fork-free
  * raw class: the same `.crc` sidecars as the stock `LocalFileSystem`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext side (`fs.AbstractFileSystem.file.impl`): Hadoop's
  * `LocalFs` — a `ChecksumFs` over a `DelegateToFileSystem` with the
  * local server defaults — over the fork-free raw class.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
