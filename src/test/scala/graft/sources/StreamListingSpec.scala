package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession

import graft.{SparkSpec, TranscriptQueries}
import graft.flow.{FlowSink, FlowSource}
import graft.fs.LocalFs
import graft.gen.TranscriptGen
import graft.model.LabeledTurn
import graft.state.{AutomatonRunner, Handlers}

/** A micro-batch of a local file stream is listed on the driver: a bulk
  * AvailableNow trigger of more than 32 files runs no parallel-listing job
  * (Spark's "Listing leaf files and directories" job, one task per file)
  * and commits the batch automaton's rows; a threshold the session set
  * stays as it was; a directory on another filesystem leaves the session
  * conf alone. Each drain runs in its own `newSession()`, so the shared
  * test session's conf does not leak into what is asserted. */
class StreamListingSpec extends SparkSpec {

  private val cfg = TranscriptGen.Config(nConvs = 60L, seed = 11L)
  private val Key = LocalFs.ListingThresholdKey

  /** Ten-minute time slices (well over 32 files) plus the two sentinels. */
  private lazy val input: String = {
    val dir = tmpDir("graft_listing_in")
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(spark, cfg), dir, sliceMinutes = 10)
    TranscriptQueries.appendSentinel(spark, dir)
    dir
  }

  private lazy val oracle: Set[LabeledTurn] = {
    import spark.implicits._
    AutomatonRunner.runBatch(TranscriptGen.dataset(spark, cfg), Handlers.ChangeDetector)
      .collect().toSet
  }

  private def parquetFiles(dir: String): Int = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally st.close()
  }

  /** One AvailableNow drain with no file cap (one bulk trigger), its
    * committed rows and the parallel-listing jobs Spark ran meanwhile. The
    * counter is bumped on the thread that starts the job, before it runs. */
  private def drain(s: SparkSession): (Set[LabeledTurn], Long) = {
    import s.implicits._
    HiveCatalogMetrics.reset()
    val sink = FlowSink.runAvailableNow(
      AutomatonRunner.runStreaming(FlowSource.stream(s, input), Handlers.ChangeDetector,
        watermarkDelay = "90 minutes"),
      tmpDir("graft_listing_out"), tmpDir("graft_listing_ck"))
    val jobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    (sink.readCommitted(s).as[LabeledTurn].collect().toSet, jobs)
  }

  test("a bulk micro-batch of more than 32 local files runs no listing job") {
    assert(parquetFiles(input) > 32)
    val s = spark.newSession()
    val (got, jobs) = drain(s)
    assert(jobs == 0, "parallel-listing jobs")
    assert(s.conf.get(Key) == Int.MaxValue.toString)
    assert(got.nonEmpty)
    assert(got == oracle)
  }

  test("a threshold the session set beforehand is left as it was") {
    val s = spark.newSession()
    s.conf.set(Key, "32")
    val (got, jobs) = drain(s)
    assert(s.conf.get(Key) == "32")
    // the stock threshold lists this input in a job: the zero above is
    // the installed setting's doing, not the fixture's
    assert(jobs >= 1, "parallel-listing jobs")
    assert(got == oracle)
  }

  test("only a directory on the local filesystem lists on the driver (no I/O)") {
    val local = URI.create("file:///")
    val hdfs = URI.create("hdfs://nn:8020")
    assert(LocalFs.isLocal("/data/t", local))
    assert(LocalFs.isLocal("file:/data/t", hdfs))
    assert(LocalFs.isLocal("file:///data/t", hdfs))
    assert(!LocalFs.isLocal("/data/t", hdfs))
    assert(!LocalFs.isLocal("hdfs://nn:8020/data/t", local))
    assert(!LocalFs.isLocal("s3a://bucket/data/t", local))

    val s = spark.newSession()
    LocalFs.installDriverListing(s, "hdfs://nn:8020/data/t")
    LocalFs.installDriverListing(s, "s3a://bucket/data/t")
    assert(!s.conf.getAll.contains(Key))
    s.conf.set("fs.defaultFS", "hdfs://nn:8020")
    LocalFs.installDriverListing(s, "/data/t")
    assert(!s.conf.getAll.contains(Key))
    LocalFs.installDriverListing(s, "file:/data/t")
    assert(s.conf.get(Key) == Int.MaxValue.toString)
  }
}
