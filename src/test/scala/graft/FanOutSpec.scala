package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.flow.{FlowSink, FlowSource}
import graft.gen.TranscriptGen
import graft.model.{LabeledTurn, Turn}
import graft.sink.ExactlyOnceParquetSink
import graft.sources.TranscriptTable
import graft.state.{AutomatonRunner, Handlers}

/** Fan-out (the reference's multi-child `send_to`, `worker.py:87-91`):
  * one stream, multiple exactly-once sinks, each receiving the full copy. */
class FanOutSpec extends SparkSpec {

  test("fan-out delivers the identical stream to every sink exactly once") {
    import spark.implicits._
    val cfg = TranscriptGen.Config(nConvs = 10L, seed = 3L)
    val in = tmpDir("fan_in"); val ck = tmpDir("fan_ck")
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(spark, cfg), in,
      sliceMinutes = 240)
    val sinks = Map(
      "a" -> new ExactlyOnceParquetSink(tmpDir("fan_a")),
      "b" -> new ExactlyOnceParquetSink(tmpDir("fan_b")))
    val q = FlowSink.fanOut(FlowSource.stream(spark, in, None), ck, sinks)
    q.awaitTermination()
    val a = sinks("a").readCommitted(spark).as[Turn].collect().toSet
    val b = sinks("b").readCommitted(spark).as[Turn].collect().toSet
    val want = (0L until cfg.nConvs).flatMap(TranscriptGen.turnsFor(_, cfg)).toSet
    assert(a == want && b == want)
  }

  test("a stateful fan-out checkpoint resumes through runAvailableNow") {
    import spark.implicits._
    val cfg = TranscriptGen.Config(nConvs = 25L, seed = 7L)
    val all = tmpDir("fan_all")
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(spark, cfg), all, sliceMinutes = 120)
    TranscriptQueries.appendSentinel(spark, all)
    val files = {
      val st = Files.list(Paths.get(all))
      try st.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally st.close()
    }
    val (slices, rest) = files.partition(_.getFileName.toString.startsWith("slice"))
    val in = tmpDir("fan_resume_in"); val ck = tmpDir("fan_resume_ck")
    // keep the staged mtimes: the file source orders new files by them
    def stage(fs: Seq[java.nio.file.Path]): Unit = fs.foreach(f =>
      Files.copy(f, Paths.get(in, f.getFileName.toString), StandardCopyOption.COPY_ATTRIBUTES))
    def labeled() = AutomatonRunner.runStreaming(
      FlowSource.stream(spark, in, maxFilesPerTrigger = Some(1)), Handlers.ChangeDetector,
      watermarkDelay = "90 minutes")

    stage(slices.take(slices.size / 2))
    val first = new ExactlyOnceParquetSink(tmpDir("fan_resume_a"))
    FlowSink.fanOut(labeled(), ck, Map("a" -> first)).awaitTermination()
    stage(slices.drop(slices.size / 2) ++ rest)
    val second = FlowSink.runAvailableNow(labeled(), tmpDir("fan_resume_b"), ck)

    val got = Seq(first, second).flatMap(_.readCommitted(spark).as[LabeledTurn].collect())
    assert(got.length == got.toSet.size, "no row is committed twice")
    assert(got.toSet == AutomatonRunner.runBatch(TranscriptGen.dataset(spark, cfg),
      Handlers.ChangeDetector).collect().toSet)
  }
}
