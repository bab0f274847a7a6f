package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFileAttributeView,
  PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FileUtil, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes.
  *
  * Without `libhadoop` (pip and tarball Spark installs ship none),
  * `RawLocalFileSystem` forks `chmod` for every file or directory it
  * creates, `ls -ld` whenever a permission, owner or group is read, and
  * `readlink` for every link status. Structured Streaming writes offset
  * and commit logs, state-store deltas and sink metadata on every
  * micro-batch, so those forks set the latency of a low-rate stream. This
  * subclass answers the same calls from `java.nio.file` POSIX attributes.
  * Everything else (streams, rename, delete, the umask Hadoop applies
  * before calling `setPermission`) is the superclass's.
  *
  * Where NIO cannot express the call it falls back to the superclass: a
  * permission with the sticky bit, and a filesystem without a POSIX
  * attribute view (`UnsupportedOperationException`).
  *
  * `core-site.xml` registers the two wrappers below for the `file` scheme,
  * so every session on the engine's classpath uses this class.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else orStock(super.setPermission(p, permission)) {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- PosixBits.indices if (mode & (0x100 >> i)) != 0)
        perms.add(PosixBits(i))
      notFound(p)(Files.setPosixFilePermissions(pathToFile(p).toPath, perms))
    }

  override def setOwner(p: Path, username: String, groupname: String): Unit =
    orStock(super.setOwner(p, username, groupname)) {
      if (username == null && groupname == null)
        throw new IOException("username == null && groupname == null")
      val path = pathToFile(p).toPath
      val view = Files.getFileAttributeView(path, classOf[PosixFileAttributeView])
      if (view == null) throw new UnsupportedOperationException("no POSIX view")
      val lookup = path.getFileSystem.getUserPrincipalLookupService
      notFound(p) {
        if (username != null) view.setOwner(lookup.lookupPrincipalByName(username))
        if (groupname != null) view.setGroup(lookup.lookupPrincipalByGroupName(groupname))
      }
    }

  override def getFileStatus(f: Path): FileStatus =
    orStock(super.getFileStatus(f))(stat(f, dereference = true))

  override def getFileLinkStatus(f: Path): FileStatus =
    orStock(super.getFileLinkStatus(f)) {
      val st = stat(f, dereference = false)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

  // the superclass builds the status of a plain file itself (which loads
  // its permission through `ls -ld`); a directory's entries already go
  // through getFileStatus
  override def listStatus(f: Path): Array[FileStatus] = {
    val st = getFileStatus(f)
    if (!st.isDirectory) Array(st)
    else FileUtil.list(pathToFile(f)).flatMap { name =>
      // entries deleted since the listing are skipped, as in the superclass
      try Some(getFileStatus(new Path(f, new Path(null, null, name))))
      catch { case _: FileNotFoundException => None }
    }
  }

  /** The status the superclass reports, from one `stat` call (a link
    * status of a symlink also reads the link and its target). As there, a status describes what the path
    * resolves to, permission and owner included. A link status of a symlink
    * keeps the path as given, reports a non-directory and carries the link
    * target; a dangling link has an empty status. Symlinks are recognised
    * whatever form the path takes; the superclass misses them in a
    * `file:`-qualified path, which it hands to `readlink` unchanged.
    */
  private def stat(f: Path, dereference: Boolean): FileStatus = {
    val file = pathToFile(f)
    val path = file.toPath
    def read(options: LinkOption*) = Files.readAttributes(path, PosixAttrs, options: _*)
    def status(a: java.util.Map[String, AnyRef], symlink: Path, p: Path) =
      new FileStatus(a.get("size").asInstanceOf[Long],
        symlink == null && a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(f),
        time(a.get("lastModifiedTime")), time(a.get("lastAccessTime")),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), // 01777
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName, symlink, p)
    val self = notFound(f)(if (dereference) read() else read(LinkOption.NOFOLLOW_LINKS))
    if (!self.get("isSymbolicLink").asInstanceOf[Boolean])
      status(self, null, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    else {
      val target = new Path(Files.readSymbolicLink(path).toString)
      try status(read(), target, f)
      catch { case _: NoSuchFileException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object NioRawLocalFileSystem {
  // owner, group, other × read, write, execute: bit 0400 down to 0001
  private val PosixBits = PosixFilePermission.values.toIndexedSeq

  // the `unix` view is the one NIO view whose mode carries the sticky bit
  private val PosixAttrs =
    "unix:mode,owner,group,size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime"

  private def time(t: AnyRef): Long = t.asInstanceOf[FileTime].toMillis

  private def missing(f: Path) = new FileNotFoundException(s"File $f does not exist")

  private def notFound[A](f: Path)(body: => A): A =
    try body catch { case _: NoSuchFileException => throw missing(f) }

  private def orStock[A](stock: => A)(nio: => A): A =
    try nio catch { case _: UnsupportedOperationException => stock }
}

/** `fs.file.impl`: the checksummed local filesystem (`.crc` side files) of
  * the FileSystem API over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API's checksummed
  * local filesystem over [[NioRawLocalFileSystem]]. Spark's checkpoint
  * manager (offset and commit logs, state store) writes through this API.
  * The overrides are those of Hadoop's `RawLocalFs`, whose constructor is
  * package-private.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
      @deprecated("overrides a deprecated method", "")
      override def getServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
