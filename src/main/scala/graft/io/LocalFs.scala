package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.util.control.NonFatal

/** The local file system every graft session uses for the `file` scheme
  * ([[graft.Sessions.builder]] installs it on both Hadoop APIs). Without
  * the native-hadoop library, stock `RawLocalFileSystem` starts an OS
  * process for two calls on the streaming commit path: `chmod` on every
  * file create, `.crc` create and `mkdirs` (`setPermission`), and
  * `readlink` on every rename (`getFileLinkStatus`, reached from both
  * `FileSystem.rename(src, dst, Rename*)` and FileContext's
  * `AbstractFileSystem.rename`). A q49 gate stream started ~300 of them
  * per run. This raw layer answers both calls in the JVM with the same
  * result; everything else is the stock class. SCALE.md "No process per
  * file" has the recording and the timings. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits `chmod %04o` sets, through `chmod(2)` (like chmod,
    * it follows a link). A sticky bit, or a directory that carries a
    * set-id bit (which `chmod` keeps on directories), goes to the stock
    * path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def setIdDir = Files.isDirectory(file) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
    if (permission.getStickyBit || setIdDir) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(file, perms)
    }
  }

  /** What the stock (non-`stat`) lookup returns. It reads the link target
    * of `new File(f.toString)` (empty on failure) and, for an empty target,
    * returns `getFileStatus(f)`; a qualified `file:/…` path never names a
    * link there, so that is the answer on the commit path. The target is
    * read here with `Files.readSymbolicLink` instead of a `readlink`
    * process; a real link goes to the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString
      catch { case NonFatal(_) => "" }
    if (target.isEmpty) getFileStatus(f) else super.getFileLinkStatus(f)
  }
}

/** `fs.file.impl`: the checksummed `FileSystem` over the graft raw layer
  * (parquet sinks, `_spark_metadata`, `FileSystem.get(file:///)`). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[GraftRawLocalFileSystem]]: Hadoop's
  * `fs.local.RawLocalFs`, whose constructor is package-private, with the
  * same four overrides over a different delegate. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext file
  * system, which Spark's streaming checkpoint manager and state store
  * write through. Hadoop builds it by reflection from (URI, Configuration). */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
