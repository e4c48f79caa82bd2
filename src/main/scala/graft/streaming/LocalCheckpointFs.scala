package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The `file:` `AbstractFileSystem` the streaming queries checkpoint
  * through: Hadoop's own [[LocalFs]] (a `ChecksumFs` over a
  * `DelegateToFileSystem` of a `RawLocalFileSystem`), with the raw layer
  * swapped for [[LocalCheckpointFs.ForkFreeRawLocalFileSystem]].
  *
  * Without libhadoop, stock Hadoop spawns `chmod` on every create and
  * mkdir and `readlink` on every link-status probe (each rename checks the
  * source and destination), 8–10 processes per checkpoint file. Spark
  * writes a delta and a checksum file per state partition, per stateful
  * operator, per batch, plus the offset and commit logs, so those spawns
  * were a fixed cost of every micro-batch. File contents, `.crc`
  * companions, modes and the rename-with-overwrite checks are unchanged.
  */
final class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.RawFs(uri, conf))

object LocalCheckpointFs {
  val ConfKey = "fs.AbstractFileSystem.file.impl"

  /** Route `file:` checkpoint I/O of queries started on `spark` from now
    * on through [[LocalCheckpointFs]]. A session that already names an
    * implementation other than Hadoop's default keeps it.
    */
  def install(spark: SparkSession): Unit = {
    val current = spark.conf.getOption(ConfKey)
      .getOrElse(spark.sparkContext.hadoopConfiguration.get(ConfKey))
    if (current == null || current == classOf[LocalFs].getName)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFs].getName)
  }

  /** Hadoop's `RawLocalFs` over the fork-free raw file system. */
  private[streaming] final class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with its two process-spawning calls done in the
    * JVM. `setPermission` sets the same nine mode bits `chmod` would (the
    * sticky bit, which NIO cannot set, still goes through Hadoop).
    * `getFileLinkStatus` returns `getFileStatus`: Hadoop hands `readlink`
    * the qualified `file:/…` string, which never names a link, so its
    * answer is always the plain file status.
    */
  private[graft] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
        val perms = PosixFilePermission.values.filter(b => (mode & (1 << (8 - b.ordinal))) != 0)
        Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
      }

    override def getFileLinkStatus(f: Path): FileStatus = getFileStatus(f)
  }
}
