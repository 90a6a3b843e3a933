package graft.flow

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.{Bridge, TestArtifacts}
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, TranscriptQueries}
import graft.gen.TranscriptGen
import graft.model.{LabeledTurn, Turn}
import graft.sources.TranscriptTable
import graft.state.{AutomatonRunner, Handlers}

/** The streaming queries of a session without session-scoped artifacts
  * share generated code: a second AvailableNow drain compiles no class.
  * A session with an artifact keeps Spark's per-query isolation, an
  * artifact added later withdraws the setting, and a value the session set
  * is never changed. Each case runs in its own `newSession()` on the
  * HDFS-backed state store, so the shared test session's conf does not
  * leak into what is asserted. */
class SharedCodegenSpec extends SparkSpec {

  private val Key = SharedCodegen.IsolationKey
  private val cfg = TranscriptGen.Config(nConvs = 25L, seed = 7L)

  private lazy val input: String = {
    val dir = tmpDir("graft_codegen_in")
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(spark, cfg), dir, sliceMinutes = 60)
    TranscriptQueries.appendSentinel(spark, dir)
    dir
  }

  private lazy val oracle: Seq[LabeledTurn] = {
    import spark.implicits._
    AutomatonRunner.runBatch(TranscriptGen.dataset(spark, cfg), Handlers.ChangeDetector)
      .collect().toSeq.sortBy(t => (t.conv_id, t.turn_idx))
  }

  private def session(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    s
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def automaton(s: SparkSession, in: Dataset[Turn]): Dataset[LabeledTurn] = {
    import s.implicits._
    AutomatonRunner.runStreaming(in, Handlers.ChangeDetector, watermarkDelay = "90 minutes")
  }

  /** Whether each micro-batch's session (the query's clone of `s`) runs
    * its tasks isolated, over one AvailableNow drain of `input`. */
  private def batchSessionsIsolated(s: SparkSession): Seq[Boolean] = {
    val seen = new ConcurrentLinkedQueue[Boolean]
    FlowSource.stream(s, input).writeStream
      .option("checkpointLocation", tmpDir("graft_codegen_ck"))
      .foreachBatch { (df: Dataset[Turn], _: Long) =>
        seen.add(Bridge.artifactState(df.sparkSession) != null); ()
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assert(!seen.isEmpty, "micro-batches")
    seen.asScala.toSeq
  }

  test("a second drain of a session without artifacts compiles no generated class") {
    val s = session()
    import s.implicits._
    val in = FlowSource.stream(s, input)
    assert(s.conf.get(Key) == "false")
    val first = FlowSink.runAvailableNow(automaton(s, in),
      tmpDir("graft_codegen_out"), tmpDir("graft_codegen_ck"))
    val before = compiles
    val second = FlowSink.runAvailableNow(automaton(s, FlowSource.stream(s, input)),
      tmpDir("graft_codegen_out"), tmpDir("graft_codegen_ck"))
    assert(compiles - before == 0, "classes compiled by the second drain")
    Seq(first, second).foreach { sink =>
      val got = sink.readCommitted(s).as[LabeledTurn].collect().toSeq
      assert(got.sortBy(t => (t.conv_id, t.turn_idx)) == oracle)
    }
  }

  test("every stream entry point sets it") {
    def raw(s: SparkSession): Dataset[Turn] = {
      import s.implicits._
      s.readStream.schema(Turn.schema).parquet(input).as[Turn]
    }
    val entries: Seq[(String, SparkSession => Unit)] = Seq(
      "TranscriptTable.readStream" -> (s => FlowSource.stream(s, input)),
      "AutomatonRunner.runStreaming" -> (s => automaton(s, raw(s))),
      "AutomatonRunner.runStreamingTws" -> { s =>
        import s.implicits._
        AutomatonRunner.runStreamingTws(raw(s), Handlers.ChangeDetector)
      },
      "FlowSink.runAvailableNow" -> (s =>
        FlowSink.runAvailableNow(raw(s), tmpDir("graft_codegen_out"), tmpDir("graft_codegen_ck"))),
      "FlowSink.fanOut" -> (s =>
        FlowSink.fanOut(raw(s), tmpDir("graft_codegen_ck"), Map.empty).awaitTermination()))
    entries.foreach { case (name, run) =>
      val s = session()
      run(s)
      assert(s.conf.getOption(Key).contains("false"), name)
    }
  }

  test("a session with an artifact keeps it unset, and its stream runs isolated") {
    val artifacts: Seq[(String, SparkSession => Unit)] = Seq(
      "a class" -> (s => TestArtifacts.addClass(s, "Probe")),
      "a file" -> (s => TestArtifacts.addFile(s, "x.txt", "x")))
    artifacts.foreach { case (kind, add) =>
      val s = session()
      add(s)
      val isolated = batchSessionsIsolated(s)
      assert(!s.conf.getAll.contains(Key), kind)
      assert(isolated.forall(identity), kind)
    }
  }

  test("an artifact added after the setting withdraws it: the next stream runs isolated") {
    val s = session()
    assert(!batchSessionsIsolated(s).exists(identity))
    assert(s.conf.get(Key) == "false")
    TestArtifacts.addClass(s, "Late")
    assert(batchSessionsIsolated(s).forall(identity))
    assert(!s.conf.getAll.contains(Key))
  }

  test("a value the session set is never changed; the caller session stays isolated") {
    Seq("true", "false").foreach { v =>
      val s = session()
      s.conf.set(Key, v)
      FlowSource.stream(s, input)
      assert(s.conf.get(Key) == v)
      TestArtifacts.addClass(s, s"Set$v")
      FlowSource.stream(s, input)
      assert(s.conf.get(Key) == v)
    }
    val s = session()
    FlowSource.stream(s, input)
    assert(s.conf.get(Key) == "false")
    assert(Bridge.artifactState(s) != null, "the caller session's own isolation")
  }
}
