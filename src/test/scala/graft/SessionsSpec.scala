package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session presets' settings maps. Pure: no SparkContext starts here
  * (the suite's one shared session lives in SparkTestBase). */
class SessionsSpec extends AnyFunSuite {

  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ScanSplit = Set("spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes")

  test("the streaming preset is perfbench's job, key by key") {
    // literal values of perfbench/scala/perfbench/Harness.scala `session`
    // (all but its warehouse dir, a per-run path). A preset change fails
    // here; a Harness change must be mirrored here.
    val c = Sessions.streamingConf(4, "/scratch/local")
    val harness = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.files.openCostInBytes" -> "1m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> "/scratch/local",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
      "spark.sql.streaming.stateStore.providerClass" -> Hdfs)
    harness.foreach { case (k, v) => assert(c.get(k).contains(v), k) }
    // beyond perfbench's keys only the engine's extensions
    assert(c.keySet -- harness.keySet == Set("spark.sql.extensions"))
    // 32 partitions whatever the core count
    assert(Sessions.streamingConf(1, "/x")("spark.sql.shuffle.partitions") == "32")
  }

  test("the batch preset: partitions = cores, no scan-split keys") {
    val c = Sessions.batchConf(6, "/scratch/local")
    assert(c("spark.master") == "local[6]")
    assert(c("spark.sql.shuffle.partitions") == "6")
    assert((c.keySet & ScanSplit).isEmpty)
    assert(c("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assert(c("spark.sql.streaming.stateStore.providerClass") == Hdfs)
    // every key but partitions and master is the streaming preset's
    val s = Sessions.streamingConf(6, "/scratch/local")
    val shared = c.keySet - "spark.sql.shuffle.partitions" - "spark.master"
    shared.foreach(k => assert(s.get(k) == c.get(k), k))
  }

  test("the executor-JVM preset sets its master and seven executor settings") {
    val thread = Sessions.streamingConf(4, "/x")
    val jvms = Sessions.streamingConf(4, "/x", executorJvms = true)
    assert(jvms("spark.master") == "local-cluster[4,1,4096]")
    val added = jvms -- thread.keySet
    assert(added == Map(
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      "spark.executor.memory" -> "4096m",
      "spark.scheduler.minRegisteredResourcesRatio" -> "1.0",
      "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "60s",
      "spark.shuffle.reduceLocality.enabled" -> "false",
      "spark.executor.extraJavaOptions" -> "-XX:ActiveProcessorCount=4",
      "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13"))
    // the job itself is unchanged
    (thread.keySet - "spark.master").foreach(k => assert(jvms(k) == thread(k), k))
  }
}
