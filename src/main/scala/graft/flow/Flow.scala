package graft.flow

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.Turn
import graft.sink.ExactlyOnceParquetSink
import graft.state.{AutomatonRunner, TurnAutomaton}

/** The public flow-building DSL: the reference's
  * `EventSource -> EventTransformer* -> EventSink` tree
  * (`/root/reference/src/reflow/__init__.py:39-130`) re-expressed as typed
  * Dataset composition. The reference's arity convention survives intact:
  * a transform fn maps one event to a Seq of 0 (filter) / 1 (map) / N
  * (split) outputs. Routing policies (`internal/edge_router.py`) become
  * partitioning stages; delivery/ack bookkeeping disappears — Spark's
  * lineage + epoch commit provide it.
  *
  * A `Flow[I, O]` is a logical plan fragment: composing flows only builds
  * the Catalyst plan, so the optimizer sees the whole pipeline (pushdown,
  * pruning, whole-stage codegen across stage boundaries — the reference's
  * `LocalEdgeRouter` operator chaining, for free).
  */
final class Flow[I, O](val plan: Dataset[I] => Dataset[O]) extends Serializable {
  def apply(in: Dataset[I]): Dataset[O] = plan(in)
  /** `a.via(b)` = the reference's `a.send_to(b)` (single-child chain). */
  def via[P](next: Flow[O, P]): Flow[I, P] = new Flow(in => next.plan(plan(in)))
}

object Flow {

  /** Stateless transformer (reference `EventTransformer` without init_fn,
    * `__init__.py:109-130`): 1 -> 0/1/N. */
  def transform[I, O: Encoder](fn: I => Seq[O]): Flow[I, O] =
    new Flow(_.flatMap(fn))

  def filter[I](p: I => Boolean): Flow[I, I] = new Flow(_.filter(p))

  def map[I, O: Encoder](fn: I => O): Flow[I, O] = new Flow(_.map(fn))

  /** Columnar transform — when the handler is expressible as Catalyst
    * columns, prefer this: it stays inside whole-stage codegen and keeps
    * pushdown/pruning alive through the stage. */
  def select[I](cols: Column*): Flow[I, org.apache.spark.sql.Row] =
    new Flow(ds => ds.select(cols: _*))

  /** Stateful keyed transformer over conversations (reference
    * `EventTransformer` WITH init_fn + KeyBased routing upstream,
    * `worker.py:260-285` + `edge_router.py:102-154`). Keying, ordering and
    * checkpointing are supplied by the engine — a strict upgrade over the
    * reference's volatile per-worker state. */
  def stateful[S, O: Encoder](a: TurnAutomaton[S, O]): Flow[Turn, O] =
    new Flow(ds =>
      if (ds.isStreaming) AutomatonRunner.runStreaming(ds, a)
      else AutomatonRunner.runBatch(ds, a))

  /** KeyBasedEdgeRouter (`edge_router.py:102-154`): hash-route by key so all
    * events of one key land in one partition. Spark's groupByKey does this
    * implicitly; the explicit stage exists for co-locating a chain of keyed
    * stages behind ONE shuffle. */
  def keyRoute(key: Column): Flow[Turn, Turn] =
    new Flow(ds => {
      import ds.sparkSession.implicits._
      ds.repartition(key).as[Turn]
    })

  /** LoadBalancingEdgeRouter (`edge_router.py:76-99`): spread load evenly —
    * round-robin repartition. Rarely needed with AQE on. */
  def rebalance[I](n: Int): Flow[I, I] = new Flow(_.repartition(n))

  /** Per-stage parallelism cap — the reference's `max_workers` deployment
    * hint (`/root/reference/src/reflow/internal/cluster.py:34-38`: a stage
    * runs on at most N workers). `coalesce` narrows WITHOUT a shuffle —
    * but note it FUSES: everything upstream since the last shuffle also
    * runs at parallelism n (that is what makes it free). Use it when the
    * whole fused chain should be capped (a rate-limited sink-side call);
    * use `rebalance(n)` instead when upstream stages must keep their own
    * parallelism — the shuffle is the stage boundary that isolates the
    * cap. */
  def maxWorkers[I](n: Int): Flow[I, I] = new Flow(_.coalesce(n))
}

/** Sources (reference `EventSource`, `__init__.py:65-83`). */
object FlowSource {
  def table(spark: SparkSession, dir: String): Dataset[Turn] =
    graft.sources.TranscriptTable.read(spark)(dir)
  def stream(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): Dataset[Turn] =
    graft.sources.TranscriptTable.readStream(spark, dir, maxFilesPerTrigger)
}

/** Sinks (reference `EventSink`, `__init__.py:86-106`). The reference's
  * partial-consumption backpressure + redelivery dedup collapse into the
  * epoch-idempotent commit of ExactlyOnceParquetSink. */
object FlowSink {

  /** Run a streaming flow to completion over the currently-available input
    * (the reference's quiesce / wait_for_completion, `cluster.py:51-89`)
    * with an exactly-once parquet sink. Returns the sink for read-back. */
  def runAvailableNow[O](out: Dataset[O], outDir: String,
      checkpointDir: String): ExactlyOnceParquetSink = {
    val sink = new ExactlyOnceParquetSink(outDir)
    start(out, checkpointDir)(sink.addBatch).awaitTermination()
    sink
  }

  /** Fan-out (reference `send_to` to multiple children, `worker.py:87-91`):
    * one pass over the micro-batch, multiple idempotent sinks. `persist`
    * keeps the shared scan single. */
  def fanOut[O](out: Dataset[O], checkpointDir: String,
      sinks: Map[String, ExactlyOnceParquetSink]): StreamingQuery =
    start(out, checkpointDir) { (df, epochId) =>
      val d = df.persist()
      try sinks.values.foreach(_.addBatch(d, epochId))
      finally { d.unpersist(); () }
    }

  /** Starts `out` as an AvailableNow query on `checkpointDir` that hands
    * each epoch to `body`, refusing a cross-state-schema resume HERE, not
    * deep inside the provider's schema check (StateVersion). */
  private def start[O](out: Dataset[O], checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.state.StateVersion.checkAndStamp(checkpointDir)
    graft.fs.LocalFs.install(out.sparkSession)
    SharedCodegen.install(out.sparkSession)
    out.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: Dataset[O], epochId: Long) => body(df.toDF(), epochId))
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
