package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec,
  DeserializeToObjectExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.operators.stateful.{EventTimeWatermarkExec,
  StatefulOperator}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.LongAccumulator

import graft.{SparkSpec, TranscriptQueries}
import graft.flow.{FlowSink, FlowSource}
import graft.gen.TranscriptGen
import graft.model.{LabeledTurn, Turn}
import graft.sources.TranscriptTable
import graft.state.AutomatonRunner.{ConvStateRow, SentinelConvId}

/** The keyed state stage groups by the `conv_id` column: the map side is
  * scan -> watermark -> exchange over rows in both streaming runtimes, the
  * drain sentinels reach the state function but never state or `onTurn`,
  * and a checkpoint written by the earlier typed plan (typed sentinel
  * filter + `groupByKey`) resumes on the column-keyed one. */
class KeyedStageSpec extends SparkSpec {
  import KeyedStageSpec._

  private val cfg = TranscriptGen.Config(nConvs = 25L, seed = 7L)

  private def list(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally st.close()
  }

  /** Time slices plus the two drain sentinels. */
  private def staged(s: SparkSession, prefix: String): String = {
    val dir = tmpDir(prefix)
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(s, cfg), dir, sliceMinutes = 120)
    TranscriptQueries.appendSentinel(s, dir)
    dir
  }

  /** The keys held in the automaton's state: through
    * `StateMigration.readKeyedState` for flatMapGroupsWithState, through
    * the `conv` ValueState for transformWithState. */
  private def stateKeys(s: SparkSession, ck: String, tws: Boolean): Set[String] =
    if (!tws) StateMigration.readKeyedState(s, ck).collect().map(_._1).toSet
    else {
      val raw = s.read.format("statestore").option("stateVarName", "conv").load(ck)
      val field = raw.schema("key").dataType.asInstanceOf[StructType].fieldNames.head
      raw.select(col("key").getField(field)).collect().map(_.getString(0)).toSet
    }

  test("a checkpoint of the typed groupByKey plan resumes on the column-keyed plan") {
    val providers = Seq(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    providers.foreach { provider =>
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      import s.implicits._
      def run(plan: Dataset[Turn] => Dataset[LabeledTurn], in: String, out: String,
              ck: String): Set[LabeledTurn] = {
        val got = FlowSink.runAvailableNow(
          plan(FlowSource.stream(s, in, maxFilesPerTrigger = Some(1))), out, ck)
          .readCommitted(s).as[LabeledTurn].collect()
        assert(got.length == got.toSet.size, s"no duplicate commits ($provider)")
        got.toSet
      }
      val typed = (ds: Dataset[Turn]) => runTyped(ds, Handlers.ChangeDetector, "90 minutes")
      val keyed = (ds: Dataset[Turn]) =>
        AutomatonRunner.runStreaming(ds, Handlers.ChangeDetector, "90 minutes")

      val all = staged(s, "graft_keyed_staged")
      val whole = run(keyed, all, tmpDir("graft_keyed_out"), tmpDir("graft_keyed_ck"))
      assert(whole.nonEmpty)
      assert(whole == AutomatonRunner.runBatch(TranscriptGen.dataset(s, cfg),
        Handlers.ChangeDetector).collect().toSet)

      val (slices, rest) = list(Paths.get(all)).partition(_.getFileName.toString.startsWith("slice"))
      val (phase1, phase2) = (slices.take(slices.size / 2), slices.drop(slices.size / 2) ++ rest)
      val in = tmpDir("graft_keyed_in"); val out = tmpDir("graft_keyed_out")
      val ck = tmpDir("graft_keyed_ck")
      // keep the staged mtimes: the file source orders new files by them,
      // and a sentinel listed before a slice would late-drop the slice
      def stage(files: Seq[Path]): Unit =
        files.foreach(f => Files.copy(f, Paths.get(in, f.getFileName.toString),
          StandardCopyOption.COPY_ATTRIBUTES))
      stage(phase1)
      run(typed, in, out, ck)
      // conversations that straddle the cut carry state into phase 2
      val carried = StateMigration.readKeyedState(s, ck).collect()
      assert(carried.nonEmpty && !carried.exists(_._1 == SentinelConvId), provider)
      stage(phase2)
      assert(run(keyed, in, out, ck) == whole, provider)
      assert(stateKeys(s, ck, tws = false).isEmpty, s"the drain evicted every key ($provider)")
    }
  }

  /** Runs `plan` over data batches only and returns the last micro-batch's
    * executed plan. */
  private def microBatchPlan(plan: Dataset[Turn] => Dataset[_]): SparkPlan = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val in = staged(s, "graft_keyed_plan")
    val q = plan(FlowSource.stream(s, in, maxFilesPerTrigger = Some(2)))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", tmpDir("graft_keyed_plan_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
  }

  private def assertMapSide(plan: SparkPlan): Unit = {
    val op = plan.collectFirst { case o: StatefulOperator => o }
      .getOrElse(fail(s"no stateful operator in\n$plan"))
    val exchange = op.collectFirst { case x: ShuffleExchangeLike => x }
      .getOrElse(fail(s"no exchange below the stateful operator in\n$plan"))
    val below = exchange.child.collect { case p => p }
    val objectWork = below.collect {
      case p @ (_: DeserializeToObjectExec | _: AppendColumnsExec |
                _: AppendColumnsWithObjectExec | _: FilterExec) => p.nodeName
    }
    assert(objectWork.isEmpty, s"scan -> exchange holds $objectWork in\n$plan")
    assert(below.exists(_.isInstanceOf[EventTimeWatermarkExec]), plan)
    assert(below.exists(_.children.isEmpty), plan)
    // one conv_id per shuffled row, and it is the hash key
    assert(exchange.output.map(_.name) == Encoders.product[Turn].schema.fieldNames.toSeq, plan)
    exchange.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == "conv_id", plan)
      case other => fail(s"exchange partitioning $other in\n$plan")
    }
  }

  test("both runtimes: scan -> watermark -> exchange with no object work on the map side") {
    import spark.implicits._
    assertMapSide(microBatchPlan(AutomatonRunner.runStreaming(_, Handlers.ChangeDetector,
      "90 minutes")))
    assertMapSide(microBatchPlan(AutomatonRunner.runStreamingTws(_, Handlers.ChangeDetector,
      "90 minutes")))
  }

  test("both runtimes: sentinels drive the drain but reach neither state nor onTurn") {
    import spark.implicits._
    val realTurns = TranscriptGen.dataset(spark, cfg).count()
    val want = AutomatonRunner.runBatch(TranscriptGen.dataset(spark, cfg), Handlers.Summarizer)
      .collect().toSet
    Seq(false, true).foreach { tws =>
      val calls = spark.sparkContext.longAccumulator(s"onTurn calls (tws=$tws)")
      val a = new Counting(Handlers.Summarizer, calls)
      val in = staged(spark, "graft_keyed_eos")
      val ck = tmpDir("graft_keyed_eos_ck")
      val stream = FlowSource.stream(spark, in, maxFilesPerTrigger = Some(1))
      val result =
        if (tws) AutomatonRunner.runStreamingTws(stream, a, "90 minutes")
        else AutomatonRunner.runStreaming(stream, a, "90 minutes")
      val got = FlowSink.runAvailableNow(result, tmpDir("graft_keyed_eos_out"), ck)
        .readCommitted(spark).as[Handlers.ConvSummary].collect()
      // every conversation completed (onComplete needs the watermark the
      // sentinels drive), once
      assert(got.toSet == want && got.length == want.size, s"tws=$tws")
      assert(calls.value == realTurns, s"tws=$tws")
      assert(stateKeys(spark, ck, tws).isEmpty, s"tws=$tws")
    }
  }
}

object KeyedStageSpec {

  /** The earlier plan shape, kept here as a checkpoint writer: typed
    * sentinel filter after the watermark, then `groupByKey(_.conv_id)`
    * (state key attribute `value`), over the same shared core. */
  def runTyped[S, O: Encoder](turns: Dataset[Turn], a: TurnAutomaton[S, O],
      watermarkDelay: String, idleGapMs: Long = 30 * 60 * 1000L): Dataset[O] = {
    import turns.sparkSession.implicits._
    implicit val stateEnc: Encoder[ConvStateRow] = Encoders.product[ConvStateRow]
    turns
      .withWatermark("ts", watermarkDelay)
      .filter(_.conv_id != SentinelConvId)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, newTurns: Iterator[Turn], gs: GroupState[ConvStateRow]) =>
          val st0 = if (gs.exists) gs.get else AutomatonRunner.EmptyStateRow
          val (s0, buffered) = AutomatonRunner.decodeState(a, st0)
          if (gs.hasTimedOut) {
            val out = AutomatonRunner.flushKey(a, st0, s0, buffered)
            gs.remove()
            out.iterator
          } else {
            val (st1, out) = AutomatonRunner.stepKey(a, st0, s0, buffered, newTurns,
              gs.getCurrentWatermarkMs())
            gs.update(st1)
            if (st1.maxSeenTs != Long.MinValue)
              gs.setTimeoutTimestamp(
                math.max(st1.maxSeenTs + idleGapMs, gs.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Counts every `onTurn` call into `calls`. */
  final class Counting[S, O](inner: TurnAutomaton[S, O], calls: LongAccumulator)
      extends TurnAutomaton[S, O] {
    def initial: S = inner.initial
    def onTurn(s: S, t: Turn): (S, Seq[O]) = { calls.add(1); inner.onTurn(s, t) }
    override def onComplete(s: S): Seq[O] = inner.onComplete(s)
  }
}
