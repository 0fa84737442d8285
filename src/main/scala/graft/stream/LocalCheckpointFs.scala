package graft.stream

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSDataInputStream, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` for every file
  * create and mkdir, and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls twice per file. Spark's streaming
  * checkpoint (offset and commit logs, state-store deltas and snapshots)
  * writes through `FileContext`, so a micro-batch of an 8-partition
  * aggregation forked about a hundred processes. This filesystem
  * answers both calls from `java.nio` and otherwise is Hadoop's, so the
  * files, `.crc` sidecars and permission bits on disk are the same. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  /** The 9 permission bits via `chmod(2)`. A sticky bit, or a target
    * carrying setuid/setgid bits (which `chmod(1)` keeps on directories
    * under a 4-digit mode and `chmod(2)` clears), takes Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0)
      super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      ForkFreeLocalFileSystem.Bits.foreach { case (b, perm) =>
        if ((mode & b) != 0) bits.add(perm) }
      Files.setPosixFilePermissions(file, bits)
    }
  }

  /** Hadoop returns `getFileStatus(f)` when `readlink` prints nothing,
    * i.e. for anything that is not a symlink; real symlinks take
    * Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeLocalFileSystem {
  /** mode bit -> permission, owner read (0400) down to others execute. */
  private val Bits: Seq[(Int, PosixFilePermission)] =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) =>
      (0x100 >> i) -> p }
}

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[ForkFreeLocalFileSystem]]. */
class RawLocalCheckpointFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  @deprecated("mirrors RawLocalFs", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` (checksummed, so `.crc` sidecars
  * are written and verified) over [[RawLocalCheckpointFs]]. Hadoop builds
  * it by reflection from `fs.AbstractFileSystem.file.impl`. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalCheckpointFs(conf)) {

  /** Spark's checkpoint file manager reads through this call, which
    * `FilterFs` sends to the raw stream, past `ChecksumFs`'s check. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalCheckpointFs {
  val Key = "fs.AbstractFileSystem.file.impl"

  /** Map `file:` FileContexts built from `conf` to [[LocalCheckpointFs]],
    * only while `conf` still holds Hadoop's default, so an explicit
    * `spark.hadoop.fs.AbstractFileSystem.file.impl` wins. */
  def install(conf: Configuration): Unit =
    if (conf.get(Key) == classOf[LocalFs].getName)
      conf.set(Key, classOf[LocalCheckpointFs].getName)
}
