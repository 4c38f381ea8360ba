package graft

import java.net.URI
import java.nio.file.{Files => JFiles, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.etl.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}

/** The in-JVM `file:` file system ([[graft.etl.GraftRawLocalFileSystem]]):
  * the modes Hadoop asks for land as the stock `chmod` would set them,
  * link status still sees symlinks, and FileContext's no-overwrite
  * rename (what stream checkpoints rely on) still refuses to overwrite.
  */
class LocalFsSpec extends GraftSuite {

  private def conf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = FileSystem.get(new URI("file:///"), conf)
  private def fc: FileContext = FileContext.getLocalFSFileContext(conf)

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = JFiles.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")
  private def hp(p: JPath): Path = new Path(p.toString)
  private def tmp(): JPath = JFiles.createTempDirectory("graft-localfs-")

  test("the factory session resolves file: to the graft classes on both Hadoop APIs") {
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[GraftLocalFileSystem])
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("FileSystem API: created files and dirs get 0644/0755; explicit modes land") {
    val d = tmp()
    val dir = d.resolve("a/b")
    assert(fs.mkdirs(hp(dir)))
    assert(mode(dir) === oct("755") && mode(d.resolve("a")) === oct("755"))
    val f = dir.resolve("f")
    val out = fs.create(hp(f))
    out.write(1)
    out.close()
    assert(mode(f) === oct("644"))
    assert(mode(dir.resolve(".f.crc")) === oct("644"))
    fs.setPermission(hp(f), new FsPermission(oct("600").toShort))
    assert(mode(f) === oct("600"))
    fs.setPermission(hp(dir), new FsPermission(oct("700").toShort))
    assert(mode(dir) === oct("700"))
    assert(fs.getFileStatus(hp(dir)).getPermission.toShort === oct("700"))
  }

  test("FileContext API: created files and dirs get 0644/0755; explicit modes land") {
    val d = tmp()
    val dir = d.resolve("c/d")
    fc.mkdir(hp(dir), FsPermission.getDirDefault, true)
    assert(mode(dir) === oct("755") && mode(d.resolve("c")) === oct("755"))
    val f = dir.resolve("g")
    val out = fc.create(hp(f), EnumSet.of(CreateFlag.CREATE))
    out.write(1)
    out.close()
    assert(mode(f) === oct("644"))
    fc.setPermission(hp(f), new FsPermission(oct("600").toShort))
    assert(mode(f) === oct("600"))
    fc.setPermission(hp(dir), new FsPermission(oct("700").toShort))
    assert(mode(dir) === oct("700"))
  }

  test("a sticky-bit mode still applies (stock chmod path)") {
    val d = tmp().resolve("shared")
    JFiles.createDirectory(d)
    fs.setPermission(hp(d), new FsPermission(oct("1777").toShort))
    assert(mode(d) === oct("1777"))
    assert(fs.getFileStatus(hp(d)).getPermission.getStickyBit)
  }

  test("getFileLinkStatus sees a real symlink and its target; on a plain file it is getFileStatus") {
    val d = tmp()
    val target = JFiles.write(d.resolve("target"), Array[Byte](1, 2, 3))
    val link = JFiles.createSymbolicLink(d.resolve("link"), target)
    val raw = fs.asInstanceOf[LocalFileSystem].getRaw
    for (st <- Seq(raw.getFileLinkStatus(hp(link)), fs.getFileLinkStatus(hp(link)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.toString)
    }
    val viaFc = fc.getFileLinkStatus(hp(link))
    assert(viaFc.isSymlink && viaFc.getSymlink.toUri.getPath === target.toString)
    def fields(st: org.apache.hadoop.fs.FileStatus) = (st.getPath, st.getLen, st.isDirectory,
      st.isSymlink, st.getPermission, st.getModificationTime, st.getOwner, st.getGroup)
    assert(fields(raw.getFileLinkStatus(hp(target))) === fields(raw.getFileStatus(hp(target))))
    assert(!fc.getFileLinkStatus(hp(target)).isSymlink)
    intercept[java.io.FileNotFoundException](raw.getFileLinkStatus(hp(d.resolve("absent"))))
  }

  test("FileContext rename without OVERWRITE onto an existing file still throws") {
    val d = tmp()
    val src = JFiles.write(d.resolve("src"), Array[Byte](1))
    val dst = JFiles.write(d.resolve("dst"), Array[Byte](2))
    intercept[FileAlreadyExistsException](fc.rename(hp(src), hp(dst), Options.Rename.NONE))
    assert(JFiles.readAllBytes(dst).toSeq === Seq[Byte](2))
    fc.rename(hp(src), hp(d.resolve("moved")), Options.Rename.NONE)
    assert(!JFiles.exists(src) && JFiles.exists(d.resolve("moved")))
  }
}
