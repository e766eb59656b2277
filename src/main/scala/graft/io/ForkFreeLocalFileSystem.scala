package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the process forks.
  *
  * Without libhadoop (`NativeIO.isAvailable()` false, as on any JVM
  * that ships only the Hadoop client jars) `RawLocalFileSystem` runs a
  * shell command through `org.apache.hadoop.util.Shell` for two
  * everyday operations:
  *   - `chmod` on every file create and directory create, to apply the
  *     permission;
  *   - `readlink` on every `getFileLinkStatus`, which `FileContext`
  *     and `FileSystem` renames call on source and destination.
  * Each fork costs ~3 ms. A streaming query's offset and commit logs,
  * its state-store `.delta` files and their checksum sidecars are all
  * written by create-then-rename, so a two-batch windowed word count
  * forked ~174 times, 79 of them serially on the stream execution
  * thread; the bucket store's parquet spill forks once per file.
  *
  * This subclass does both through `java.nio.file` in-process:
  * permission bits with `Files.setPosixFilePermissions` (a mode with
  * the sticky bit, which java.nio cannot express, falls back to the
  * parent), and link status with `Files.isSymbolicLink` /
  * `readSymbolicLink`, so `FileUtil.readLink` is never called. Every
  * other operation is the parent's.
  *
  * [[ForkFreeLocalFileSystem]] (the `FileSystem` API) and
  * [[ForkFreeLocalFs]] (the `FileContext` API) wrap it with checksums
  * exactly as Hadoop's `LocalFileSystem` and `LocalFs` wrap theirs.
  * `core-site.xml` on this library's classpath registers both for the
  * `file` scheme, so every `Configuration` — Spark's and the store's
  * own — resolves `file:` to them. A conf-level setting could not do
  * this: `FileSystem.CACHE` is keyed without the conf, so a per-session
  * `spark.hadoop.*` value would hold or not depending on which caller
  * touched `file:` first.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission))
    catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  /** As the parent: a symlink's status carries its qualified target. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  /** As the parent: the target as the link stores it, unqualified. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** A regular file or directory answers its `getFileStatus`. A symlink
    * answers the status of what it points to, with `isSymlink` set —
    * or, dangling, an empty status — as the parent builds it from
    * `readlink`'s output.
    */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val a = Files.readAttributes(file, classOf[PosixFileAttributes])
        new FileStatus(a.size, false, 1, getDefaultBlockSize(f), a.lastModifiedTime.toMillis,
          a.lastAccessTime.toMillis, fromPosix(a.permissions), a.owner.getName,
          a.group.getName, target, f)
      } catch {
        case _: NoSuchFileException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object ForkFreeRawLocalFileSystem {
  // PosixFilePermission's declaration order is the mode's bit order,
  // high to low: OWNER_READ is 0400, OTHERS_EXECUTE is 0001.
  private def bit(p: PosixFilePermission): Int = 1 << (8 - p.ordinal)

  private def toPosix(permission: FsPermission): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(p => (permission.toShort & bit(p)) != 0).toSet.asJava

  private def fromPosix(perms: java.util.Set[PosixFilePermission]): FsPermission =
    new FsPermission(perms.asScala.iterator.map(bit).sum.toShort)
}

/** The `FileSystem` API for scheme `file` (`fs.file.impl`). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` under [[ForkFreeLocalFs]], as Hadoop's
  * `RawLocalFs` is over `RawLocalFileSystem`.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("AbstractFileSystem deprecates it for getServerDefaults(Path)", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the local OS validates names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` API for scheme `file`
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
