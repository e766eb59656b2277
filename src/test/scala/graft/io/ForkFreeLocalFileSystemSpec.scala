package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free local filesystem behaves as Hadoop's own
  * `RawLocalFileSystem` on the operations it replaces (permission bits,
  * link status), and `core-site.xml` installs it for scheme `file`.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def withFs[A](body: FileSystem => A): A = {
    val fs = FileSystem.newInstance(root, conf)
    try body(fs) finally fs.close()
  }

  /** Hadoop's stock raw filesystem: forks `chmod`/`readlink`. */
  private def withStockFs[A](body: RawLocalFileSystem => A): A = {
    val fs = new RawLocalFileSystem
    fs.initialize(root, conf)
    try body(fs) finally fs.close()
  }

  private def tmpDir() = Files.createTempDirectory("forkfree")
  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hp(p: java.nio.file.Path) = new Path(p.toUri)

  test("core-site.xml installs the fork-free classes for scheme file") {
    assert(FileSystem.get(root, new Configuration()).isInstanceOf[ForkFreeLocalFileSystem])
    assert(AbstractFileSystem.get(root, new Configuration()).isInstanceOf[ForkFreeLocalFs])
    assert(FileSystem.getLocal(new Configuration()).getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
  }

  for (m <- Seq("600", "644", "700", "755")) {
    val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
    test(s"permission $m: create, mkdirs and setPermission set exactly its bits") {
      val dir = tmpDir()
      withFs { fs =>
        val f = dir.resolve("created")
        fs.create(hp(f), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        assert(mode(f) === perm.toString)

        val d = dir.resolve("made")
        assert(fs.mkdirs(hp(d), perm))
        assert(mode(d) === perm.toString)

        val s = Files.createFile(dir.resolve("set"))
        Files.setPosixFilePermissions(s, PosixFilePermissions.fromString("---------"))
        fs.setPermission(hp(s), perm)
        assert(mode(s) === perm.toString)
      }
    }
  }

  test("a mode with the sticky bit is applied in full, sticky bit included") {
    val d = tmpDir().resolve("sticky")
    Files.createDirectory(d)
    withFs(_.setPermission(hp(d), new FsPermission(Integer.parseInt("1777", 8).toShort)))
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x1ff) === 0x1ff)
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x200) === 0x200)
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    val missing = tmpDir().resolve("missing")
    withFs(fs => intercept[FileNotFoundException](
      fs.setPermission(hp(missing), new FsPermission(Integer.parseInt("644", 8).toShort))))
  }

  test("getFileLinkStatus answers as Hadoop's readlink-based status: symlink, file, missing") {
    val dir = tmpDir()
    val target = Files.write(dir.resolve("target"), "abc".getBytes(StandardCharsets.UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    withFs { fs =>
      withStockFs { stock =>
        val st = fs.getFileLinkStatus(hp(link))
        assert(st.isSymlink)
        assert(st.getSymlink === new Path("file:" + target))
        assert(fs.getLinkTarget(hp(link)) === new Path(target.toString))
        assert(st.getLen === 3L)

        val d = fs.getFileLinkStatus(hp(dangling))
        assert(d.isSymlink && d.getSymlink === new Path("file:" + dir.resolve("gone")))

        // compared on plain paths: the stock status runs `readlink` on
        // the path's string form, which for a `file:` URI names no file,
        // so it reports every link so named as not a link
        for (p <- Seq(link, dangling, target).map(p => new Path(p.toString))) {
          val (mine, theirs) = (fs.getFileLinkStatus(p), stock.getFileLinkStatus(p))
          assert(mine.isSymlink === theirs.isSymlink, p)
          assert(mine.isFile === theirs.isFile, p)
          assert(mine.getLen === theirs.getLen, p)
          assert(mine.getPermission === theirs.getPermission, p)
          assert(mine.getOwner === theirs.getOwner, p)
          if (theirs.isSymlink) assert(mine.getSymlink === theirs.getSymlink, p)
          else assert(mine.getPath === theirs.getPath, p)
        }

        val file = fs.getFileLinkStatus(hp(target))
        assert(!file.isSymlink && file.isFile && file.getLen === 3L)
        intercept[FileNotFoundException](fs.getFileLinkStatus(hp(dir.resolve("missing"))))
      }
    }
  }

  test("FileContext.rename overwrites only with OVERWRITE, moving the checksum sidecar") {
    val dir = tmpDir()
    val fc = FileContext.getFileContext(root, conf)
    def write(name: String, text: String): Path = {
      val p = hp(dir.resolve(name))
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
      p
    }
    val src = write("src", "new")
    val dst = write("dst", "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(new String(Files.readAllBytes(dir.resolve("dst")), StandardCharsets.UTF_8) === "old")

    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), StandardCharsets.UTF_8) === "new") finally in.close()
  }
}
