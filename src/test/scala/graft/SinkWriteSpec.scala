package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{CoalesceExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.util.QueryExecutionListener

import graft.flow.{FlowSink, FlowSource}
import graft.gen.TranscriptGen
import graft.model.LabeledTurn
import graft.sources.TranscriptTable
import graft.state.{AutomatonRunner, Handlers}

/** The sink writes each epoch with at most one task per core. Runs the
  * CEP flow with 32 state partitions against the shared session's
  * `defaultParallelism` (4): every committed epoch dir holds at most that
  * many part files, the read-back equals the batch automaton with no
  * duplicates, and each epoch's write job coalesces the state partitions
  * without an exchange. */
class SinkWriteSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("each epoch is written by at most defaultParallelism tasks, shuffle-free") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    import s.implicits._
    val cores = s.sparkContext.defaultParallelism
    assert(cores < 32, "fewer cores than state partitions, so the coalesce narrows")

    val in = tmpDir("sinkwrite_in"); val out = tmpDir("sinkwrite_out")
    // the sink's epoch write jobs (the stream runs in a clone of `s`, which
    // carries its listeners)
    val writePlans = new ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains(s"InsertIntoHadoopFsRelationCommand file:$out/epoch="))
          writePlans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    val cfg = TranscriptGen.Config(nConvs = 25L, seed = 11L)
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(s, cfg), in, sliceMinutes = 120)
    TranscriptQueries.appendSentinel(s, in)
    val result = AutomatonRunner.runStreaming(
      FlowSource.stream(s, in, maxFilesPerTrigger = Some(2)),
      Handlers.ChangeDetector, watermarkDelay = "90 minutes")
    val sink = FlowSink.runAvailableNow(result, out, tmpDir("sinkwrite_ck"))
    val got = sink.readCommitted(s).as[LabeledTurn].collect()
    val want = AutomatonRunner.runBatch(TranscriptGen.dataset(s, cfg),
      Handlers.ChangeDetector).collect().toSet
    assert(got.nonEmpty && got.toSet == want)
    assert(got.length == want.size, "no duplicates")

    val epochs = sink.committedEpochs()
    assert(epochs.length >= 3, "several epochs, so several write jobs")
    epochs.foreach { e =>
      val st = Files.list(Paths.get(out, s"epoch=$e"))
      val parts = try st.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
        finally st.close()
      assert(parts >= 1 && parts <= cores, s"epoch=$e holds $parts part files")
    }

    // listener events arrive asynchronously: wait for one per epoch
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (writePlans.size < epochs.size && System.nanoTime() < deadline) Thread.sleep(50)
    val plans = writePlans.asScala.toSeq
    assert(plans.size == epochs.length, plans.headOption.getOrElse(""))
    plans.foreach { plan =>
      assert(collect(plan) { case c: CoalesceExec => c.numPartitions } == Seq(cores), plan)
      // exchanges above the stateful operator (all of them when the write
      // reads the micro-batch's already-planned RDD)
      val exchanges = collect(plan) {
        case x: ShuffleExchangeLike if find(x)(_.isInstanceOf[StatefulOperator]).isDefined ||
          find(plan)(_.isInstanceOf[StatefulOperator]).isEmpty => x
      }
      assert(exchanges.isEmpty, plan)
      assert(plan.toString.contains(s"fs.file.impl=${classOf[graft.fs.LocalFileSystem].getName}"),
        plan)
    }
  }
}
