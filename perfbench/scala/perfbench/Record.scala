package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.Turn
import graft.state.TurnAutomaton

/** Raw JSON text, embedded verbatim by [[Json.obj]]. */
final case class Raw(json: String)

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Append-only JSON-lines log of everything the run observed. It is kept in
  * memory and written once at the end, so recording costs no file IO while
  * a stream runs. The Python side turns it into metrics. */
final class EventLog {
  private val lines = mutable.ArrayBuffer.empty[String]
  def write(kv: (String, Any)*): Unit = {
    val line = Json.obj(kv: _*)
    lines.synchronized { lines += line }
  }
  def flushTo(path: Path): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8))
    try lines.synchronized(lines.foreach { l => w.write(l); w.write('\n') })
    finally w.close()
  }
}

/** Every progress event of every query, so no trigger is lost to
  * `recentProgress`'s 100-entry cap. */
final class ProgressRecorder(log: EventLog) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    log.write("kind" -> "progress", "query" -> e.progress.id.toString,
      "p" -> Raw(e.progress.json))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(msg => log.write("kind" -> "query_failed",
      "query" -> e.id.toString, "message" -> msg))
}

/** Traced runs only: one record per Spark job and per stage, with the task
  * aggregates the per-layer metrics need. Jobs carry the streaming query id
  * and batch id Spark puts in their local properties. Job and stage ids
  * restart with every SparkContext, so records carry the context's number
  * `ctx`. */
final class StageRecorder(log: EventLog, ctx: Int) extends SparkListener {
  private final class Agg {
    var tasks, failed = 0
    var runMs, cpuNs, shWriteBytes, shWriteNs, shReadBytes, fetchWaitMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val aggs = mutable.HashMap.empty[(Int, Int), Agg]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    synchronized(e.stageIds.foreach(s => stageJob(s) = e.jobId))
    log.write("kind" -> "job_start", "ctx" -> ctx, "job" -> e.jobId, "t" -> e.time,
      "query" -> prop("sql.streaming.queryId"),
      "batch" -> prop("streaming.sql.batchId").map(_.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    log.write("kind" -> "job_end", "ctx" -> ctx, "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new Agg)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.taskMs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val (a, job) = synchronized {
      (aggs.remove((i.stageId, i.attemptNumber())).getOrElse(new Agg),
        stageJob.getOrElse(i.stageId, -1))
    }
    val sorted = a.taskMs.sorted
    log.write("kind" -> "stage", "ctx" -> ctx, "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "job" -> job, "name" -> i.name,
      "submit" -> i.submissionTime, "complete" -> i.completionTime,
      "tasks" -> a.tasks, "failed_tasks" -> a.failed, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuNs / 1e6, "shuffle_write_bytes" -> a.shWriteBytes,
      "shuffle_write_ms" -> a.shWriteNs / 1e6, "shuffle_read_bytes" -> a.shReadBytes,
      "fetch_wait_ms" -> a.fetchWaitMs,
      "max_task_ms" -> sorted.lastOption,
      "median_task_ms" -> (if (sorted.isEmpty) None else Some(sorted(sorted.length / 2))),
      "failure" -> i.failureReason)
  }
}

/** Counters for the traced handler. Static, because in local mode every
  * task thread runs in this JVM. */
object HandlerCounters {
  val nanos = new LongAdder
  val calls = new LongAdder
  def reset(): Unit = { nanos.reset(); calls.reset() }
}

/** Traced runs only: the same automaton with its `onTurn` timed and counted. */
final class TimedAutomaton[S, O](inner: TurnAutomaton[S, O]) extends TurnAutomaton[S, O] {
  override def initial: S = inner.initial
  override def onTurn(state: S, turn: Turn): (S, Seq[O]) = {
    val t0 = System.nanoTime()
    val r = inner.onTurn(state, turn)
    HandlerCounters.nanos.add(System.nanoTime() - t0)
    HandlerCounters.calls.increment()
    r
  }
  override def onComplete(state: S): Seq[O] = inner.onComplete(state)
}
