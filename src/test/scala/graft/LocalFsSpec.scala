package graft

import graft.io.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** graft's local file system answers `setPermission` and
  * `getFileLinkStatus` in the JVM; each answer must equal stock
  * `RawLocalFileSystem`'s, and every graft session must resolve the
  * `file` scheme to it on both Hadoop APIs. */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val ours = init(new GraftRawLocalFileSystem)

  test("setPermission leaves the same permissions as stock chmod") {
    val dir = ops.StreamingGate.tempDir("graft-fs-perm")
    for (mode <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed, 0x1ff); kind <- Seq("file", "dir")) {
      val (a, b) = (dir.resolve(s"a_${kind}_$mode"), dir.resolve(s"b_${kind}_$mode"))
      if (kind == "file") { Files.createFile(a); Files.createFile(b) }
      else { Files.createDirectory(a); Files.createDirectory(b) }
      val perm = new FsPermission(mode.toShort)
      stock.setPermission(new Path(a.toUri), perm)
      ours.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a),
        f"mode 0$mode%o on a $kind")
    }
  }

  test("getFileLinkStatus matches stock for files, dirs, links and missing paths") {
    val dir = ops.StreamingGate.tempDir("graft-fs-link")
    val file = Files.write(dir.resolve("f.txt"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    def view(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else null, st.getLen, st.getModificationTime,
        st.getPermission, st.getOwner, st.getGroup)
    def answer(fs: RawLocalFileSystem, p: Path) =
      Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toUri), new Path(p.toString))) {
      val want = answer(stock, path)
      assert(answer(ours, path) == want, s"$path")
      if (p == missing) assert(want == Left(classOf[FileNotFoundException]))
    }
    // an unqualified path names the link itself, so stock sees the target
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }

  test("a graft session resolves file:// to the graft classes on both Hadoop APIs") {
    // FileSystem caches one instance per scheme and user and ignores the
    // conf of every later get, so pin what the session's conf resolves to
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }
}
