package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's raw local filesystem: Hadoop's `RawLocalFileSystem`
  * without its process launches.
  *
  * Without `libhadoop` (the Spark distribution ships none), the stock
  * class sets every permission by starting a `chmod` process — once per
  * file and directory it creates — and reads every link status by
  * starting a `readlink` process, which a FileContext rename with
  * overwrite does twice. At about 11 ms a launch, that is the fixed cost
  * of every streaming micro-batch (offset log, commit log, a delta and a
  * checksum file per state store) and of every small shard commit. Here
  * these calls go through `java.nio.file` instead, with the same result:
  *  - [[setPermission]] sets the bits `chmod` would get (a sticky bit,
  *    which NIO cannot set, still goes through the stock call);
  *  - [[getFileLinkStatus]] reports a symlink with its target, any other
  *    existing path with its plain status, and throws
  *    `FileNotFoundException` for a missing path, as the rename path
  *    expects;
  *  - [[getLinkTarget]], which FileContext asks of every symlink, reads
  *    the link itself.
  *
  * [[LocalFs.install]] puts it under the `file` scheme of a session.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  override def getLinkTarget(f: Path): Path = {
    val file = pathToFile(f).toPath
    if (Files.isSymbolicLink(file)) new Path(Files.readSymbolicLink(file).toString)
    else getFileStatus(f).getSymlink // FileNotFoundException, or "not a symbolic link"
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = getLinkTarget(f)
      // a dangling link has no target status, only its own; the target's
      // owner and mode come from NIO, where the stock status runs `ls`
      val status =
        if (!Files.exists(file)) new FileStatus(0L, false, 0, 0L, 0L, 0L,
          FsPermission.getDefault, "", "", target, f)
        else {
          val t = getFileStatus(f)
          val a = Files.readAttributes(file, classOf[PosixFileAttributes])
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
            t.getModificationTime, t.getAccessTime,
            FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions)),
            a.owner.getName, a.group.getName, target, f)
        }
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, target))
      status
    }
  }
}

object LocalFs {

  /** [[LocalFs]] with checksum files, as `LocalFileSystem` wraps the
    * stock raw class: every `.crc` Hadoop writes beside a file stays.
    */
  final class Checksummed extends LocalFileSystem(new LocalFs)

  /** The FileContext side of [[LocalFs]] (what Spark's checkpoint and
    * state-store files go through), mirroring Hadoop's
    * `fs.local.RawLocalFs`.
    */
  private final class RawFc(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** [[RawFc]] with checksum files, mirroring Hadoop's `fs.local.LocalFs`
    * (which also ignores the URI it is created with).
    */
  final class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(conf))

  private val fsKey = "fs.file.impl"
  private val fcKey = "fs.AbstractFileSystem.file.impl"
  private val root = URI.create("file:///")

  /** Serve the `file` scheme of `spark`'s context with [[LocalFs]]:
    * idempotent, and cheap once done.
    *
    * The two keys go on the context's Hadoop conf, which every query
    * copies at its start, so each new streaming query's checkpoint and
    * state files take it. Hadoop caches one `FileSystem` per scheme: a
    * stock instance still cached is closed (which drops it from the
    * cache) and the engine's is cached in its place — unless paths are
    * registered to be deleted on its close, in which case it stays and
    * only FileContext users (checkpoints, state stores) switch.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(fsKey) != classOf[Checksummed].getName) {
      conf.set(fsKey, classOf[Checksummed].getName)
      conf.set(fcKey, classOf[Fc].getName)
    }
    val cached = FileSystem.get(root, conf)
    if (!cached.isInstanceOf[Checksummed] && !deletesOnClose(cached)) {
      cached.close()
      FileSystem.get(root, conf)
    }
  }

  /** Whether closing `fs` would delete paths; when that cannot be read,
    * it is assumed to.
    */
  private def deletesOnClose(fs: FileSystem): Boolean = scala.util.Try {
    val f = classOf[FileSystem].getDeclaredField("deleteOnExit")
    f.setAccessible(true)
    !f.get(fs).asInstanceOf[java.util.Set[_]].isEmpty
  }.getOrElse(true)

  /** `permission`'s rwx bits as NIO permissions (bit 8 is owner read,
    * bit 0 others execute, in `PosixFilePermission`'s declared order).
    */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort & 0x1ff
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}
