package graft.store

import java.io.FileNotFoundException
import java.nio.file.attribute.{PosixFilePermission, PosixFileAttributeView, PosixFileAttributes}
import java.nio.file.{Files, LinkOption, NoSuchFileException}

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` FileSystem without subprocess forks (r15 optimization,
  * guide §1.2 per-task work).
  *
  * This sandbox (like most non-cluster environments) has no libhadoop
  * native library, so Hadoop's stock local filesystem falls back to
  * SHELLING OUT for permission work: `RawLocalFileSystem.setPermission`
  * runs `chmod` via [[org.apache.hadoop.util.Shell]] on every
  * directory/file the write path creates, and the deprecated lazy
  * `FileStatus` runs `ls -ld` per status whose permission is read.
  * Measured on this box: **210 forks per trivial one-file parquet
  * write** (committer staging dirs, part file, crc, job commit,
  * _SUCCESS — each create/mkdir forks) and 16.5 forks per small scan —
  * ~200-400 ms of pure subprocess overhead per store commit, the
  * dominant constant of every summary-lifecycle operation.
  *
  * The fix is semantics-preserving: the same [[LocalFileSystem]]
  * (checksummed) stack, with the raw layer's permission operations
  * re-expressed through java.nio, which reads/writes the same POSIX
  * bits with plain syscalls. Registered by the session builders via
  * `spark.hadoop.fs.file.impl` (Bench, Verify, GraftSession.local), so
  * driver benches, the correctness gate and the test suite all run on
  * the identical filesystem. On a real cluster (HDFS/S3 paths, or a
  * libhadoop-equipped install) the stock implementations never hit the
  * Shell fallback and this class is simply not registered.
  */
class NioLocalFileSystem(raw: NioRawLocalFileSystem) extends LocalFileSystem(raw) {
  def this() = this(new NioRawLocalFileSystem)
}

class NioRawLocalFileSystem extends RawLocalFileSystem {

  private def toPosix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val m = permission.toShort.toInt
    if ((m & 0x100) != 0) out.add(OWNER_READ)
    if ((m & 0x080) != 0) out.add(OWNER_WRITE)
    if ((m & 0x040) != 0) out.add(OWNER_EXECUTE)
    if ((m & 0x020) != 0) out.add(GROUP_READ)
    if ((m & 0x010) != 0) out.add(GROUP_WRITE)
    if ((m & 0x008) != 0) out.add(GROUP_EXECUTE)
    if ((m & 0x004) != 0) out.add(OTHERS_READ)
    if ((m & 0x002) != 0) out.add(OTHERS_WRITE)
    if ((m & 0x001) != 0) out.add(OTHERS_EXECUTE)
    out
  }

  private def fromPosix(perms: java.util.Set[PosixFilePermission]): FsPermission = {
    import PosixFilePermission._
    var m = 0
    if (perms.contains(OWNER_READ)) m |= 0x100
    if (perms.contains(OWNER_WRITE)) m |= 0x080
    if (perms.contains(OWNER_EXECUTE)) m |= 0x040
    if (perms.contains(GROUP_READ)) m |= 0x020
    if (perms.contains(GROUP_WRITE)) m |= 0x010
    if (perms.contains(GROUP_EXECUTE)) m |= 0x008
    if (perms.contains(OTHERS_READ)) m |= 0x004
    if (perms.contains(OTHERS_WRITE)) m |= 0x002
    if (perms.contains(OTHERS_EXECUTE)) m |= 0x001
    new FsPermission(m.toShort)
  }

  /** `chmod` fork → one syscall. Sticky/setuid bits (unrepresentable in
    * NIO's posix view, never used by Spark's committers) are dropped. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    try Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission))
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(
        s"File $p does not exist")
    }
  }

  /** Eager, fork-free status: one NIO readAttributes call instead of
    * the deprecated lazy status whose getPermission forks `ls -ld`. */
  private def nioStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(
          s"File $f does not exist")
      }
    new FileStatus(
      attrs.size(),
      attrs.isDirectory,
      1,
      getDefaultBlockSize(f),
      attrs.lastModifiedTime.toMillis,
      attrs.lastAccessTime.toMillis,
      fromPosix(attrs.permissions()),
      attrs.owner().getName,
      attrs.group().getName,
      null,
      makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus = nioStatus(f)

  /** Fork-free link status: the stock one runs `readlink` per call
    * (`FileUtil.readLink`), and `FileContext.rename(…, OVERWRITE)` — the
    * stats sidecar swap — asks for it on the source, the target and both
    * `.crc` files. Same shape as the stock status: a symlink reports its
    * target's length, times and permission (zeros when dangling), the
    * unqualified path it was asked for, and its target qualified against
    * this filesystem. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    val isLink =
      try Files.readAttributes(file, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
        .isSymbolicLink
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
      }
    if (!isLink) return nioStatus(f)
    val target = new Path(Files.readSymbolicLink(file).toString)
    val st =
      try {
        val t = nioStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    st.setSymlink(org.apache.hadoop.fs.FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, target))
    st
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (!file.exists()) throw new FileNotFoundException(s"File $f does not exist")
    if (file.isFile) return Array(nioStatus(f))
    val names = file.list()
    if (names == null) throw new java.io.IOException(s"Could not list directory $f")
    names.flatMap { n =>
      // a child deleted between list() and stat is skipped, matching
      // RawLocalFileSystem's tolerance of concurrent deletes
      try Some(nioStatus(new Path(f, n)))
      catch { case _: FileNotFoundException => None }
    }
  }
}

/** FileContext-side twin ([[org.apache.hadoop.fs.local.RawLocalFs]]
  * shape): Structured Streaming's checkpoint manager prefers
  * FileContext, which resolves `file://` through the SEPARATE
  * AbstractFileSystem hierarchy — registered via
  * `fs.AbstractFileSystem.file.impl` so checkpoint metadata commits
  * stop forking too. */
class NioRawLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false)

/** Checksummed FileContext local fs over the fork-free raw layer —
  * the [[org.apache.hadoop.fs.local.LocalFs]] twin. */
class NioLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFileSystem {
  /** The `spark.hadoop.`-prefixed conf pairs session builders register. */
  val ConfKey = "spark.hadoop.fs.file.impl"
  val ConfValue: String = classOf[NioLocalFileSystem].getName
  val AbstractConfKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"
  val AbstractConfValue: String = classOf[NioLocalFs].getName

  /** Guard used by specs: true when `fs` for `file://` is this class. */
  def installed(conf: org.apache.hadoop.conf.Configuration): Boolean =
    FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem]
}
