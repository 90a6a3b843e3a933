package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  /** One directory per test JVM, deleted when the JVM exits: every
    * [[SparkSpec.tmpDir]] and the shared session's `spark.local.dir`
    * (so `Dirs.scratchFor` dirs) lie under it. The delete runs in Hadoop's
    * shutdown-hook manager below Spark's own hooks, after the context has
    * stopped and removed its block-manager dirs. */
  lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_tests_")
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => graft.fs.Dirs.rmTree(root), 0)
    root
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmpRoot.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(SparkTestBase.tmpRoot, prefix).toString
}
