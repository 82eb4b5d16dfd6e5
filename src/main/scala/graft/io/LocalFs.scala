package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's raw local file system without a process start per call.
  * Without native libhadoop, the stock class runs `readlink` for every
  * `getFileLinkStatus` and `chmod` for every `setPermission`, and a
  * checkpoint commit (temp file, rename, `.crc`) makes ~20 such calls per
  * state partition. These two methods do the same through `java.nio`;
  * everything else, including the checksum layer above, is Hadoop's.
  */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** `chmod` with the same mode bits. Hadoop's forked `chmod` handles
    * what `PosixFilePermission` cannot: the sticky bit, a directory's
    * setuid/setgid bits (a numeric `chmod` keeps them, `java.nio` would
    * clear them), and a store without POSIX modes.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val special =
      try {
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, S_ISUID|S_ISGID
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => true
      }
    if (special || permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
  }

  /** Hadoop's own path here (it fixes `useDeprecatedFileStatus` to true),
    * line for line, with the link target read through `java.nio` on the
    * same `new File(f.toString)` the forked `readlink` was given: for a
    * `file:`-qualified path that is a relative name that does not exist,
    * so the target is empty, as before.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
                            fs.getModificationTime, fs.getAccessTime, fs.getPermission,
                            fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        case e: FileNotFoundException =>
          // a dangling link: File.exists is false, the link is there
          if (target.nonEmpty)
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
                           new Path(target), f)
          else throw e
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** `FileUtil.readLink` without the process: the raw target of a
    * symlink, "" for anything else or on error.
    */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** The FileSystem-API local file system (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over [[RawLocalFileSystem]].
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** The FileContext-API local file system (`fs.AbstractFileSystem.file.impl`,
  * which Spark's checkpoint file manager uses): Hadoop's `LocalFs`, i.e.
  * `ChecksumFs` over a delegate to [[RawLocalFileSystem]].
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (package-private there) over [[RawLocalFileSystem]]. */
private class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  private val AbstractFsKey = "fs.AbstractFileSystem.file.impl"

  /** The Hadoop settings that select these classes for `file:` paths;
    * every engine-built session carries them (`graft.Posture`).
    */
  val settings: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    AbstractFsKey -> classOf[LocalFs].getName)

  /** Cover a session the engine did not build (idempotent): its
    * checkpoint file manager (FileContext API) uses [[LocalFs]] unless the
    * session carries its own value. The FileSystem API is left as it is:
    * Hadoop caches it JVM-wide, keyed without the conf.
    */
  def use(spark: SparkSession): Unit =
    if (spark.conf.getOption(AbstractFsKey).isEmpty &&
          spark.sparkContext.hadoopConfiguration.get(AbstractFsKey) ==
            classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      spark.conf.set(AbstractFsKey, classOf[LocalFs].getName)
}
