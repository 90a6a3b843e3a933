package graft

import org.apache.spark.sql.SparkSession

/** The engine's session presets: every main builds its SparkSession here.
  *
  *  - [[batch]]: shuffle partitions = cores. Bench's batch leg, BenchExtra
  *    and Verify.
  *  - [[streaming]]: the production streaming job, with 32 shuffle/state
  *    partitions and a 16m/1m scan split whatever the core count. Bench's
  *    scaling legs and LatencyBench; `perfbench.Harness.session` builds
  *    the same job.
  *
  * Each preset is one pure settings map ([[batchConf]], [[streamingConf]]);
  * [[build]] applies it. */
object Sessions {

  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Per-executor heap in MB in executor-JVM mode (2.5 GB single-core
    * executors collapse under sf0.1 trigger sizes). */
  private val ExecutorMemMb = 4096

  /** Settings both presets share. */
  private def common(localDir: String): Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> localDir,
    "spark.sql.adaptive.enabled" -> "true",
    // the deployment-grade registration path: the custom Catalyst pieces
    // (ConversationFoldStrategy, parse_temp) arrive via spark.sql.extensions
    // exactly as on a production spark-submit, so t51 is gate-verified
    // through the extension-injected strategy (ConversationFold.run
    // self-registers only when the extension is absent)
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    // state-store snapshot maintenance contends with task threads on the
    // same providers; for a finite run deltas are few — defer it
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
    // HDFS-backed (in-memory + snapshot) state store: right provider for
    // state that fits executor memory; RocksDB (t41b, TwsSpec) is for when
    // per-executor state exceeds heap — at bench size its per-instance
    // open/commit cost dominates instead.
    "spark.sql.streaming.stateStore.providerClass" -> HdfsProvider)

  def batchConf(cores: Int, localDir: String): Map[String, String] =
    common(localDir) ++ Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString)

  /** The streaming job's settings are FIXED across core counts: shuffle/
    * state partitioning is a property of the job, not the cluster — a
    * production job keeps it while executors are added, and letting it
    * track the core count would hand a low level a different (cheaper)
    * plan and overstate its throughput.
    *
    * `executorJvms` = the faithful "N executors" form: local-cluster mode
    * launches `cores` SEPARATE single-core executor JVMs (own heap/GC/
    * memory manager, netty shuffle between processes) — the same process
    * topology a standalone/YARN cluster gives one multi-core box, vs
    * local[n]'s n task threads inside one JVM. */
  def streamingConf(cores: Int, localDir: String,
      executorJvms: Boolean = false): Map[String, String] =
    common(localDir) ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      // Scan sizing: the time-sliced input files are ~15 MB each, so the
      // default 128 MB maxPartitionBytes packs a 16-file trigger's scan
      // into ~3 map tasks — the scan+shuffle-write phase of every bulk
      // trigger then runs at parallelism 3 regardless of core count,
      // idling 5 of 8 cores at the high level and reading as false
      // scaling loss. 16 MB ≈ one task per input file. (A production job
      // sizes this to its file layout the same way; leaving it default
      // underschedules ANY level above ~3 cores.)
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.files.openCostInBytes" -> "1m") ++
    (if (!executorJvms) Map("spark.master" -> s"local[$cores]")
     else Map(
      "spark.master" -> s"local-cluster[$cores,1,$ExecutorMemMb]",
      // executors need this JVM's classpath (graft classes live in sbt's
      // classes dir, not a jar)
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      "spark.executor.memory" -> s"${ExecutorMemMb}m",
      // Do not let the first micro-batch race executor registration: if
      // batch 0 schedules while only 1-2 executors are up, every state
      // partition loads THERE and state-store locality pins all later
      // stateful tasks to those executors — measured on this box as 2 of
      // 8 executors doing 5x the tasks while 6 idle (c8 ~59k turns/s vs
      // c2 ~290k). A real spark-submit job does the same thing with
      // these two settings.
      "spark.scheduler.minRegisteredResourcesRatio" -> "1.0",
      "spark.scheduler.maxRegisteredResourcesWaitingTime" -> "60s",
      // The first trigger's scan is a handful of map tasks (few files x
      // maxPartitionBytes), so its shuffle output is concentrated on 1-2
      // executors; reduce-side shuffle locality then prefers exactly
      // those executors for the 32 state partitions, and state-store
      // locality pins them there for the rest of the stream. Disabling
      // shuffle reduce locality lets batch 0 spread the state evenly;
      // the state-store coordinator's own locality (the one that
      // matters) still applies from batch 1 on. Standard practice for
      // stateful streaming jobs on real clusters.
      "spark.shuffle.reduceLocality.enabled" -> "false",
      // Each executor JVM sees the HOST's 32 CPUs and sizes its G1/JIT
      // thread pools for all of them (~23 GC threads per executor); 8
      // such JVMs GC-storming one box made every task cost ~20x the
      // core-seconds of the 2-executor leg. A real cluster's cgroup CPU
      // limit gives the JVM the executor's core count — replicate that.
      "spark.executor.extraJavaOptions" -> "-XX:ActiveProcessorCount=4",
      // the executor launcher resolves the Scala dir from this env var
      // (the spark-submit shell scripts export it; a bare JVM must pass
      // it through the executor command environment instead)
      "spark.executorEnv.SPARK_SCALA_VERSION" -> "2.13"))

  def batch(cores: Int, localDir: String): SparkSession =
    build(s"graft-batch-c$cores", batchConf(cores, localDir))

  def streaming(cores: Int, localDir: String,
      executorJvms: Boolean = false): SparkSession =
    build(s"graft-streaming-c$cores", streamingConf(cores, localDir, executorJvms))

  /** A fresh session with exactly `conf` (no earlier active or default
    * session is reused). */
  private def build(appName: String, conf: Map[String, String]): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = conf.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
