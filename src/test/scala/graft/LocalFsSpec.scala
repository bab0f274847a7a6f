package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** `graft.fs` against Hadoop's stock local filesystem: the same statuses,
  * permissions and rename semantics, and `core-site.xml` routing every
  * `file` URI through it.
  */
class LocalFsSpec extends AnyFunSuite {

  // uncached instances, so each side gets exactly the class asked for
  private def conf(stock: Boolean): Configuration = {
    val c = new Configuration()
    if (stock) {
      c.set("fs.file.impl", classOf[LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
  private val root = new URI("file:///")
  private def stockFs = FileSystem.get(root, conf(stock = true))
  private def nioFs = FileSystem.get(root, conf(stock = false))
  private def stockFc = FileContext.getLocalFSFileContext(conf(stock = true))
  private def nioFc = FileContext.getLocalFSFileContext(conf(stock = false))

  private def tmpDir(): Path =
    new Path(Files.createTempDirectory("graft-localfs").toString)

  private def view(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)

  private def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("file, directory and symlink statuses match Hadoop's stock local filesystem") {
    val stock = stockFs
    val nio = nioFs
    assert(stock.getClass == classOf[LocalFileSystem])
    assert(nio.getClass == classOf[NioLocalFileSystem])
    val dir = tmpDir()
    // each side creates its own file and directory: same bytes, same
    // umask-applied permission, same checksum side file
    for ((fs, tag) <- Seq(stock -> "stock", nio -> "nio")) {
      write(fs, new Path(dir, s"$tag.txt"), "line 1\nline 2\n")
      assert(fs.mkdirs(new Path(dir, s"$tag.d/sub")))
    }
    val created = Seq("txt", "d", "d/sub").map { s =>
      val a = stock.getFileStatus(new Path(dir, s"stock.$s"))
      val b = nio.getFileStatus(new Path(dir, s"nio.$s"))
      (a.getPermission, a.getOwner, a.getGroup, a.getLen, a.isDirectory) ->
        (b.getPermission, b.getOwner, b.getGroup, b.getLen, b.isDirectory)
    }
    created.foreach { case (a, b) => assert(a == b) }
    assert(Files.exists(Paths.get(dir.toString, ".nio.txt.crc")))
    assert(Files.readAllBytes(Paths.get(dir.toString, "nio.txt")).sameElements(
      Files.readAllBytes(Paths.get(dir.toString, "stock.txt"))))

    val link = new Path(dir, "link.txt")
    val dirLink = new Path(dir, "link.d")
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get("stock.txt"))
    Files.createSymbolicLink(Paths.get(dirLink.toString), Paths.get(dir.toString, "nio.d"))
    Files.createSymbolicLink(Paths.get(dangling.toString), Paths.get("gone"))
    val paths = Seq("stock.txt", "nio.d", "nio.d/sub", "link.txt", "link.d")
      .map(new Path(dir, _))
    for (p <- paths) {
      assert(view(nio.getFileStatus(p)) == view(stock.getFileStatus(p)), p)
      assert(view(nio.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
      assert(view(nioFc.getFileStatus(p)) == view(stockFc.getFileStatus(p)), p)
    }
    assert(nio.getFileLinkStatus(link).getSymlink.toUri.getPath == s"$dir/stock.txt")
    assert(view(nio.getFileLinkStatus(dangling)) == view(stock.getFileLinkStatus(dangling)))
    for (p <- Seq(dir, new Path(dir, "nio.txt"), dirLink)) {
      val a = stock.listStatus(p).map(view).sortBy(_._1.toString).toSeq
      assert(nio.listStatus(p).map(view).sortBy(_._1.toString).toSeq == a, p)
    }
  }

  test("setPermission round-trips, and agrees with what Hadoop reads back") {
    val nio = nioFs
    val dir = tmpDir()
    val file = new Path(dir, "f")
    write(nio, file, "x")
    for (mode <- Seq(0x1c0, 0x1a4, 0x1ed, 0x180, 0x124, 0x1ff)) { // 700 644 755 600 444 777
      val perm = new FsPermission(mode.toShort)
      for (p <- Seq(file, dir)) {
        nio.setPermission(p, perm)
        assert(nio.getFileStatus(p).getPermission == perm, p)
        assert(stockFs.getFileStatus(p).getPermission == perm, p)
      }
    }
  }

  test("the sticky bit falls back to Hadoop's chmod and reads back") {
    val nio = nioFs
    val dir = new Path(tmpDir(), "shared")
    assert(nio.mkdirs(dir))
    val sticky = new FsPermission(0x3ff.toShort) // 1777
    nio.setPermission(dir, sticky)
    assert(nio.getFileStatus(dir).getPermission == sticky)
    assert(nio.getFileStatus(dir).getPermission.getStickyBit)
    assert(stockFs.getFileStatus(dir).getPermission == sticky)
    // a plain mode set through NIO clears it again
    val plain = new FsPermission(0x1ed.toShort) // 755
    nio.setPermission(dir, plain)
    assert(nio.getFileStatus(dir).getPermission == plain)
    assert(stockFs.getFileStatus(dir).getPermission == plain)
  }

  test("a missing path raises FileNotFoundException") {
    val missing = new Path(tmpDir(), "absent/deeper")
    val nio = nioFs
    intercept[FileNotFoundException](nio.getFileStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.listStatus(missing))
    intercept[FileNotFoundException](nioFc.getFileStatus(missing))
    assert(!nio.exists(missing))
  }

  test("FileContext rename replaces the target with OVERWRITE and refuses with NONE") {
    val fc = nioFc
    val dir = tmpDir()
    def put(name: String, text: String): Path = {
      val p = new Path(dir, name)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
      p
    }
    def read(p: Path) = new String(Files.readAllBytes(Paths.get(p.toString)), UTF_8)
    val src = put("1.tmp", "new")
    val dst = put("1", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new")
    assert(!fc.util.exists(src))
    assert(!Files.exists(Paths.get(dir.toString, ".1.tmp.crc")))
    assert(Files.exists(Paths.get(dir.toString, ".1.crc")))
    val again = put("2.tmp", "newer")
    intercept[FileAlreadyExistsException](fc.rename(again, dst, Options.Rename.NONE))
    assert(read(dst) == "new")
    assert(read(again) == "newer")
  }

  test("core-site.xml routes the file scheme of both Hadoop APIs through graft.fs") {
    val c = new Configuration()
    assert(FileSystem.get(root, c).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(c).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
