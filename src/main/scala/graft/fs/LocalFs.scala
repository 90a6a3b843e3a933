package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without a forked process per file.
  *
  * Without native libhadoop, the stock `RawLocalFileSystem` runs `chmod`
  * for every `setPermission` (each create and mkdir) and `readlink` for
  * every `getFileLinkStatus` (each `FileContext.rename` checks its
  * destination). Spark's streaming checkpoint goes through `FileContext`,
  * so every state-store delta, offset/commit log entry, `.crc` sidecar
  * and Spark checksum file cost one or two process forks, and task
  * threads parked waiting on them; the sink's parquet writes go through
  * `FileSystem` and forked a `chmod` per part file, sidecar and committer
  * dir. This class makes the same two calls in-process; everything else,
  * including the files written and their names, is the stock code path.
  * [[LocalFs]] serves it to `FileContext`, [[LocalFileSystem]] to
  * `FileSystem`.
  */
class InProcessLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` for plain rwx modes; a mode with the
    * sticky bit (or any bit above 0777) takes the stock path. A missing
    * path throws `NoSuchFileException` where the stock `chmod` throws an
    * `ExitCodeException`; both are `IOException`s. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
  }

  // PosixFilePermission.values() runs owner r,w,x then group then others,
  // i.e. mode bits 8 down to 0
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values().zipWithIndex
      .collect { case (pp, i) if (mode & (1 << (8 - i))) != 0 => pp }
      .toSet.asJava

  /** The stock method runs `readlink` on `new File(p.toString)` and, when
    * it prints nothing, returns `getFileStatus(p)`. Only a real symlink
    * at that same path takes the stock route. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(new File(p.toString).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** Hadoop's `FileSystem`-API `LocalFileSystem` over
  * [[InProcessLocalFileSystem]]: the same `ChecksumFileSystem` wrapper, so
  * `.crc` sidecars are written as before. The twin of [[LocalFs]] for
  * code that goes through `FileSystem.get` (the parquet writer and its
  * output committer) rather than `FileContext`. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new InProcessLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[InProcessLocalFileSystem]]
  * (the stock class's constructors are package-private). */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `org.apache.hadoop.fs.local.LocalFs` over [[RawLocalFs]]: the same
  * `ChecksumFs` wrapper, so `.crc` sidecars are written as before. Like the
  * stock class it ignores `uri` and binds to `file:///`. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object LocalFs {

  val ImplKey = "fs.AbstractFileSystem.file.impl"
  val FsImplKey = "fs.file.impl"

  /** Makes [[LocalFs]] the `file:` `AbstractFileSystem` of `spark`'s
    * streaming checkpoints, unless an impl is already set: in the session
    * conf, or in the Hadoop conf by anything other than Hadoop's defaults.
    * Idempotent; HDFS, S3 and other schemes are untouched. */
  def install(spark: SparkSession): Unit =
    if (!userSet(spark, ImplKey)) spark.conf.set(ImplKey, classOf[LocalFs].getName)

  /** Writer options that make one write job go through
    * [[LocalFileSystem]]: `fs.file.impl` plus `fs.file.impl.disable.cache`,
    * because Hadoop's `FileSystem` cache is keyed by scheme, authority and
    * user, not by conf, and would hand the job the JVM-wide stock instance.
    * As writer options they reach only that job's Hadoop conf (driver and
    * tasks), and Hadoop reads them only to resolve `file:` paths, so a
    * write to HDFS, S3 or another scheme is unchanged. Empty when
    * `fs.file.impl` is already set, by the same rule as [[install]]. */
  def writerOptions(spark: SparkSession): Map[String, String] =
    if (userSet(spark, FsImplKey)) Map.empty
    else Map(FsImplKey -> classOf[LocalFileSystem].getName,
      s"$FsImplKey.disable.cache" -> "true")

  /** Spark's file-listing threshold: an `InMemoryFileIndex` over more
    * paths than this lists them in a Spark job, one task per path. */
  val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Lists every micro-batch of a file stream over `dir` on the driver
    * when `dir` is on the local filesystem: sets [[ListingThresholdKey]] to
    * `Int.MaxValue` in `spark`'s session conf, unless it is already set
    * there. `FileStreamSource.getBatch` hands a batch's files, which its
    * `latestOffset` listed moments before, to an `InMemoryFileIndex`; above
    * the stock threshold of 32 files that index stats them again in a job
    * whose every task deserializes the ~1,100-key Hadoop conf (~12 ms),
    * while a local stat costs microseconds. On HDFS or an object store one
    * job can beat N serial remote stats, so other schemes keep Spark's
    * parallel listing. The setting is session-wide: later batch reads in
    * the same session list on the driver too. */
  def installDriverListing(spark: SparkSession, dir: String): Unit =
    if (isLocal(dir, defaultFs(spark)) && !userSet(spark, ListingThresholdKey))
      spark.conf.set(ListingThresholdKey, Int.MaxValue.toString)

  /** `dir`'s filesystem is the local one: its scheme, or `defaultFs`'s
    * when it has none, is `file`. Parses only; no filesystem is touched. */
  def isLocal(dir: String, defaultFs: URI): Boolean =
    Option(new Path(dir).toUri.getScheme).getOrElse(defaultFs.getScheme) == "file"

  // the session conf's fs.defaultFS reaches every job's Hadoop conf
  private def defaultFs(spark: SparkSession): URI =
    spark.conf.getOption(FileSystem.FS_DEFAULT_NAME_KEY).map(URI.create)
      .getOrElse(FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration))

  /** Set in the session conf, or to a value in the Hadoop conf by anything
    * but Hadoop's defaults (an unset key keeps its recorded source). */
  private def userSet(spark: SparkSession, key: String): Boolean = {
    val hc = spark.sparkContext.hadoopConfiguration
    spark.conf.getAll.contains(key) || (hc.get(key) != null &&
      Option(hc.getPropertySources(key)).exists(_.exists(_ != "core-default.xml")))
  }
}
