package graft.core

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem with its metadata calls made in-process.
  *
  * Without libhadoop (`NativeCodeLoader.isNativeCodeLoaded == false`, as
  * with the jars of a stock Spark download), `RawLocalFileSystem` starts a
  * process for each metadata call: `chmod` after every `mkdirs`/`create`
  * (the data file and its `.crc`), `readlink` on every link-status probe
  * (each `FileContext.rename` of Spark's streaming checkpoint log makes
  * two) and `ls -ld` on every permission/owner read. Measured with JFR
  * `jdk.ProcessStart` on 4 cores: 82 process starts per `curation_stream`
  * micro-batch, at 2.5–6.5 ms per call. This subclass makes the same
  * stat, chmod and readlink calls through `java.nio.file`, in the JVM.
  * Data streams, rename, delete, listing and checksums stay Hadoop's own
  * code.
  *
  * Equivalence with the stock class (pinned by `LocalFsSpec`): statuses
  * carry the same path, length, kind, times, permission, owner and group.
  * Like stock, a symlink's status, with or without the link flag, reports
  * its target's length, times, permission and owner (stock runs `ls -ld`
  * on the canonical path), and a missing path throws
  * `FileNotFoundException`. Two deliberate differences: the sticky bit,
  * which the POSIX attribute view does not carry, is not reported (no
  * caller here reads it; setting it still goes to stock `chmod`); and
  * `getFileLinkStatus` sees a symlink named by a qualified `file:` path,
  * which stock misses because it reads the link through
  * `new File(path.toString)`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioLocalFs._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission))
    catch { case _: NoSuchFileException => throw missing(p) }

  override def getFileStatus(f: Path): FileStatus = status(f, followLink = true)

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = status(f, followLink = false)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** The link target as written in the link, unqualified (stock contract). */
  override def getLinkTarget(f: Path): Path = status(f, followLink = false).getSymlink

  private def attributes(f: Path, file: File, options: LinkOption*): PosixFileAttributes =
    try Files.readAttributes(file.toPath, classOf[PosixFileAttributes], options: _*)
    catch { case _: FileSystemException => throw missing(f) } // File.exists is false there too

  private def status(f: Path, followLink: Boolean): FileStatus = {
    val file = pathToFile(f)
    val own = attributes(f, file, LinkOption.NOFOLLOW_LINKS)
    def local(a: PosixFileAttributes, path: Path, symlink: Path) =
      new FileStatus(a.size, a.isDirectory && symlink == null, 1, blockSize,
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        toFs(a.permissions), a.owner.getName, a.group.getName, symlink, path)
    val qualified = new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)
    if (!own.isSymbolicLink) local(own, qualified, null)
    else if (followLink) local(attributes(f, file), qualified, null)
    else {
      val link = new Path(Files.readSymbolicLink(file.toPath).toString)
      try local(attributes(f, file), f, link)
      catch { case _: FileNotFoundException => // dangling: stock's placeholder status
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", link, f)
      }
    }
  }
}

/** The checksummed `file:` filesystem (`fs.file.impl`) over the NIO raw one:
  * `.crc` files are written and verified exactly as by `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin (`fs.AbstractFileSystem.file.impl`), which Spark's
  * streaming checkpoint log uses: Hadoop's `LocalFs` with the NIO raw
  * filesystem underneath. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]; the overrides are `RawLocalFs`'s own. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {
  /** The session's `file:` binding, for both `FileSystem` and `FileContext`,
    * whenever the default filesystem has the POSIX attribute view these
    * classes read. Hadoop caches one `FileSystem` per scheme JVM-wide, so
    * code that creates one must use the session's Hadoop conf, or the
    * cache may hold the stock class. */
  def sessionConf: Seq[(String, String)] =
    if (java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("posix"))
      Seq("spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
        "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
    else Seq.empty

  // PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE, i.e. mode
  // bits 8 down to 0
  private def bit(p: PosixFilePermission): Int = 1 << (8 - p.ordinal)

  private[core] def toFs(ps: java.util.Set[PosixFilePermission]): FsPermission =
    new FsPermission(PosixFilePermission.values.foldLeft(0) { (m, p) =>
      if (ps.contains(p)) m | bit(p) else m
    }.toShort)

  private[core] def toPosix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(q => if ((p.toShort & bit(q)) != 0) s.add(q))
    s
  }

  private[core] def missing(f: Path) = new FileNotFoundException(s"File $f does not exist")
}
