package graft.fs

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Local scratch directories: the one recursive delete and the scratch
  * helpers of the engine's mains, registry entries and file-layout code. */
object Dirs {

  /** Deletes `p` and, when it is a directory, everything under it, depth
    * first. A path that is already gone is no error. */
  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().forEachRemaining(rmTree) finally s.close()
    }
    Files.deleteIfExists(p); ()
  }

  /** Runs `body` on a fresh directory named `prefix…` and deletes the
    * directory afterwards, also when `body` throws (generated transcripts
    * and checkpoints would otherwise stay on a RAM disk).
    *
    * The directory is RAM-backed (`/dev/shm`) when available, else under
    * `java.io.tmpdir`. On a real cluster the state checkpoints and shuffle
    * land on local NVMe + HDFS. fsync on a local ext4 /tmp is not a
    * bottleneck for the CEP trigger (a traced run moved trigger p50 by ~6%
    * between ext4 and /dev/shm); per-file process forks in Hadoop's local
    * filesystem were, see [[LocalFs]]. */
  def withScratch[A](prefix: String)(body: String => A): A = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm)) shm else Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = Files.createTempDirectory(base, prefix)
    try body(dir.toString) finally rmTree(dir)
  }

  /** A fresh directory `graft_<tag>_…` for a query's own files (stream
    * input, sink output, checkpoint). It lies under the first entry of the
    * session's `spark.local.dir` conf key, else under `java.io.tmpdir`, so
    * a main whose local dir sits inside [[withScratch]] (Verify) deletes it
    * with the rest. The conf key is read, not Spark's resolved local dirs:
    * a `SPARK_LOCAL_DIRS` environment variable would win there. */
  def scratchFor(spark: SparkSession, tag: String): String = {
    val base = Paths.get(spark.conf.getOption("spark.local.dir")
      .map(_.split(",")(0).trim).getOrElse(System.getProperty("java.io.tmpdir")))
    Files.createDirectories(base)
    Files.createTempDirectory(base, s"graft_${tag}_").toString
  }
}
