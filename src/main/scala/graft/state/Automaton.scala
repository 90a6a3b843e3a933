package graft.state

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Turn
import graft.plans.ConversationFold

/** A per-conversation ordered-state automaton: the engine's native form of
  * the reference's stateful EventTransformer
  * (`/root/reference/src/reflow/__init__.py:109-130` +
  * `internal/worker.py:260-285`), with the reference's arity convention —
  * one input turn yields 0 (filter) / 1 (map) / N (split) outputs —
  * upgraded to keyed, checkpointed state.
  *
  * The contract: `onTurn` is invoked exactly once per turn, per `conv_id`,
  * in strictly increasing `turn_idx` order ("stable turn ordering",
  * BASELINE.json.input_hint), regardless of arrival order across
  * micro-batches. `onComplete` fires when the conversation is known to be
  * finished (watermark passed its last seen event time plus the idle gap).
  */
trait TurnAutomaton[S, O] extends Serializable {
  def initial: S
  def onTurn(state: S, turn: Turn): (S, Seq[O])
  def onComplete(state: S): Seq[O] = Seq.empty
}

object AutomatonRunner {

  /** Rows with this conv_id are watermark-drivers only (see runStreaming). */
  val SentinelConvId = "__eos__"

  /** Streaming state row as stored: a FLAT product type (binary, binary,
    * int, long, long), so Spark encodes it through Tungsten with a trivial
    * UnsafeProjection. Two profiling lessons are baked into this shape:
    *  - a generic blob encoder (Encoders.kryo over the whole state) cost
    *    ~1ms/key/micro-batch in object-graph serialization — minutes per
    *    trigger at 100k active conversations;
    *  - a nested `Seq[Turn]` column made Spark's per-task state-serializer
    *    CODEGEN itself the bottleneck (array-of-struct writer generation,
    *    regex-bound in CodeFormatter) — task threads spent whole triggers
    *    generating code instead of running it.
    * The automaton state `S` and the (post-contiguity rare, small) gap
    * buffer travel as pooled-kryo blobs instead.
    *
    * `timerTs` is the event-time timer currently armed for this key
    * (0 = none) — carried so the transformWithState runtime can (a) skip
    * the delete/re-register cycle entirely when the due time is unchanged
    * and (b) delete its one stale timer BY KEY instead of scanning
    * `listTimers()` (a RocksDB timer-column-family iterator per key per
    * micro-batch — profiled as the bulk of the TWS-vs-fMGWS throughput gap
    * in round 3). The flatMapGroupsWithState runtime ignores the field
    * (GroupState owns its timeout natively). NOTE: adding the field is a
    * state-SCHEMA change — checkpoints written by the 4-field row are not
    * resumable across this boundary. */
  final case class ConvStateRow(
      sBytes: Array[Byte],
      bufBytes: Array[Byte],
      maxEmittedIdx: Int,
      maxSeenTs: Long,
      timerTs: Long)

  private object StateSer {
    import org.apache.spark.{SparkConf, SparkEnv}
    import org.apache.spark.serializer.{KryoSerializer, SerializerInstance}
    private val pool = new ThreadLocal[SerializerInstance] {
      override def initialValue(): SerializerInstance = {
        val conf = Option(SparkEnv.get).map(_.conf).getOrElse(new SparkConf(false))
        new KryoSerializer(conf).newInstance()
      }
    }
    def ser(s: Any): Array[Byte] = {
      val bb = pool.get().serialize(s)(scala.reflect.ClassTag.Any)
      val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
    }
    def deser[S](b: Array[Byte]): S =
      pool.get().deserialize(java.nio.ByteBuffer.wrap(b))(scala.reflect.ClassTag.Any)
        .asInstanceOf[S]
  }

  /** Batch execution: one shuffle by conv_id, one spillable sort by
    * (conv_id, turn_idx), then a fold that streams over the sorted rows in
    * O(automaton state) per conversation — see [[ConversationFold]]. */
  def runBatch[S, O: Encoder](turns: Dataset[Turn], a: TurnAutomaton[S, O]): Dataset[O] =
    ConversationFold.run(turns, a)

  /** Streaming execution on flatMapGroupsWithState + EventTimeTimeout,
    * with checkpointed streaming state carried per conv_id.
    *
    * `buffered` holds only turns behind a GAP: `turn_idx` is dense per
    * conversation, so a contiguous run starting at the next expected index
    * is processed the moment it arrives (nothing earlier can still be in
    * flight — it would occupy the gap we can see is absent). A turn behind
    * a gap is released in `turn_idx` order either when the gap fills, or
    * when the watermark passes its `ts` — at that point the missing turn
    * could only arrive late and would be dropped by Spark's own watermark
    * filter, so the gap is permanently lost and we advance past it. The
    * common (ordered) case therefore keeps state at O(automaton) instead of
    * O(in-flight turns): at 10^12-turn scale that's the difference between
    * state IO being ~zero and state IO being twice the stream volume.
    * `maxEmittedIdx` makes redelivery idempotent (the reference's
    * `last_event_seen` dedup, `worker.py:158-175`).
    *
    * @param idleGapMs a conversation with no new turns for this long past
    *   the watermark is completed and its state evicted — the quiesce
    *   semantics of the reference (`cluster.py:51-89`) per key instead of
    *   per job.
    * @param initialState keyed state rows to seed the NEW query's store
    *   with at batch 0 — the checkpoint-migration path (StateMigration):
    *   fMGWS invokes the function for EVERY initial-state key in the first
    *   micro-batch (with an empty data iterator if the key has no input),
    *   so every migrated key re-registers its idle-gap timeout itself and
    *   no state can leak even if the key never receives input again. */
  def runStreaming[S, O: Encoder](
      turns: Dataset[Turn],
      a: TurnAutomaton[S, O],
      watermarkDelay: String = "10 minutes",
      idleGapMs: Long = 30 * 60 * 1000L,
      initialState: Option[Dataset[(String, ConvStateRow)]] = None): Dataset[O] = {
    import turns.sparkSession.implicits._
    implicit val stateEnc: Encoder[ConvStateRow] = Encoders.product[ConvStateRow]
    graft.fs.LocalFs.install(turns.sparkSession)
    graft.flow.SharedCodegen.install(turns.sparkSession)

    val func = (key: String, newTurns: Iterator[Turn], gs: GroupState[ConvStateRow]) => {
      // end-of-stream sentinel rows only exist to push the watermark past
      // all real data (finite-stream drain, the reference's quiesce); they
      // reach the state function but never user state
      if (key == SentinelConvId) Iterator.empty
      else {
        val st0 = if (gs.exists) gs.get else EmptyStateRow
        val (s0, buffered) = decodeState(a, st0)

        if (gs.hasTimedOut) {
          val out = flushKey(a, st0, s0, buffered)
          gs.remove()
          out.iterator
        } else {
          val (st1, out) = stepKey(a, st0, s0, buffered, newTurns,
            gs.getCurrentWatermarkMs())
          gs.update(st1)
          // evict when the watermark passes last activity + idle gap
          // (clamped above the current watermark — Spark rejects a
          // timeout that is already in the past)
          if (st1.maxSeenTs != Long.MinValue)
            gs.setTimeoutTimestamp(
              math.max(st1.maxSeenTs + idleGapMs, gs.getCurrentWatermarkMs() + 1))
          out.iterator
        }
      }
    }

    val grouped = keyed(turns, watermarkDelay)
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout,
          init.groupByKey(_._1).mapValues(_._2))(func)
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(func)
    }
  }

  /** Watermark, then group by the `conv_id` column: the map side is scan ->
    * watermark -> exchange over rows, with no per-row Turn deserialization
    * and one key per shuffled row (`groupByKey(_.conv_id)` would add a
    * deserialize + `AppendColumns` and ship the key twice). Both streaming
    * runtimes drop the sentinel inside their state function instead of
    * filtering here: Catalyst pushes a Column predicate on `conv_id` below
    * the watermark, so sentinels would stop advancing it and the finite
    * drain would no longer complete conversations (CLAUDE.md invariants 4
    * and 16). */
  private def keyed(turns: Dataset[Turn], watermarkDelay: String)
      : KeyValueGroupedDataset[String, Turn] = {
    import turns.sparkSession.implicits._
    turns.withWatermark("ts", watermarkDelay).groupBy(col("conv_id")).as[String, Turn]
  }

  /** The per-key micro-batch step, shared verbatim by BOTH streaming
    * runtimes (flatMapGroupsWithState and transformWithState) so their
    * semantics cannot drift: dedup redelivered turns, then walk in
    * turn_idx order — process contiguous turns immediately, skip over gaps
    * the watermark has closed, hold the rest. distinctBy collapses two
    * copies of one turn_idx arriving in the SAME micro-batch (the fresh
    * filter only sees state from the previous trigger); the `< next` guard
    * drops a duplicate of anything emitted earlier in this very walk —
    * without both, onTurn would fire twice for a within-batch redelivery. */
  private[state] def stepKey[S, O](
      a: TurnAutomaton[S, O], st0: ConvStateRow, s0: S,
      buffered: List[Turn], newTurns: Iterator[Turn],
      wm: Long): (ConvStateRow, Vector[O]) = {
    val seenIdx = buffered.iterator.map(_.turn_idx).toSet
    val fresh = newTurns.filter(t =>
      t.turn_idx > st0.maxEmittedIdx && !seenIdx.contains(t.turn_idx)).toList
    var maxTs = st0.maxSeenTs
    fresh.foreach(t => maxTs = math.max(maxTs, t.ts.getTime))
    val all = (buffered ++ fresh).sortBy(_.turn_idx).distinctBy(_.turn_idx)
    var s = s0
    var next = st0.maxEmittedIdx + 1
    val out = Vector.newBuilder[O]
    val hold = List.newBuilder[Turn]
    var stopped = false
    all.foreach { t =>
      if (t.turn_idx < next) ()
      else if (!stopped && (t.turn_idx == next || t.ts.getTime <= wm)) {
        val (s2, os) = a.onTurn(s, t)
        s = s2; out ++= os; next = t.turn_idx + 1
      } else {
        stopped = true; hold += t
      }
    }
    val held = hold.result()
    (ConvStateRow(StateSer.ser(s),
      if (held.isEmpty) null else StateSer.ser(held), next - 1, maxTs,
      st0.timerTs),
      out.result())
  }

  /** Idle-eviction flush, shared by both runtimes: stragglers in order
    * (defensively deduped — onTurn exactly once per turn_idx under any
    * replay), then onComplete. */
  private[state] def flushKey[S, O](
      a: TurnAutomaton[S, O], st0: ConvStateRow, s0: S,
      buffered: List[Turn]): Vector[O] = {
    var s = s0
    val out = Vector.newBuilder[O]
    buffered.sortBy(_.turn_idx).distinctBy(_.turn_idx)
      .filter(_.turn_idx > st0.maxEmittedIdx).foreach { t =>
      val (s2, os) = a.onTurn(s, t); s = s2; out ++= os
    }
    out ++= a.onComplete(s)
    out.result()
  }

  private[state] def decodeState[S](a: TurnAutomaton[S, _],
                             st0: ConvStateRow): (S, List[Turn]) = (
    if (st0.sBytes == null) a.initial else StateSer.deser[S](st0.sBytes),
    if (st0.bufBytes == null) Nil else StateSer.deser[List[Turn]](st0.bufBytes))

  val EmptyStateRow: ConvStateRow = ConvStateRow(null, null, -1, Long.MinValue, 0L)

  /** Streaming execution on Spark 4's transformWithState — the modern
    * arbitrary-state runtime (RocksDB-native state, explicit per-key
    * timers). Semantics are IDENTICAL to runStreaming: both call the same
    * stepKey/flushKey core; only state plumbing differs (ValueState +
    * registered event-time timer instead of GroupState + EventTimeTimeout).
    * Requires the RocksDB state-store provider. */
  def runStreamingTws[S, O: Encoder](
      turns: Dataset[Turn],
      a: TurnAutomaton[S, O],
      watermarkDelay: String = "10 minutes",
      idleGapMs: Long = 30 * 60 * 1000L): Dataset[O] = {
    import org.apache.spark.sql.streaming.TimeMode
    graft.fs.LocalFs.install(turns.sparkSession)
    graft.flow.SharedCodegen.install(turns.sparkSession)
    keyed(turns, watermarkDelay)
      .transformWithState(new ConvProcessor[S, O](a, idleGapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The TWS processor: one flat ConvStateRow ValueState per conversation
    * plus exactly one live event-time timer carrying the idle-gap
    * eviction. The armed due-time travels IN the state row (`timerTs`), so
    * a micro-batch that leaves the due time unchanged touches no timer
    * state at all, and one that moves it issues a single keyed
    * deleteTimer(oldTs) + registerTimer(newTs) — never a listTimers()
    * scan (that per-key iterator was the round-3 TWS throughput gap). */
  final class ConvProcessor[S, O](a: TurnAutomaton[S, O], idleGapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Turn, O] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig}

    @transient private var state: org.apache.spark.sql.streaming.ValueState[ConvStateRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ConvStateRow]("conv",
        Encoders.product[ConvStateRow], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Turn],
                                 timerValues: TimerValues): Iterator[O] = {
      // drain sentinel: drives the watermark only (see runStreaming)
      if (key == SentinelConvId) return Iterator.empty
      val st0 = if (state.exists()) state.get() else EmptyStateRow
      val (s0, buffered) = decodeState(a, st0)
      val (st1, out) = stepKey(a, st0, s0, buffered, rows,
        timerValues.getCurrentWatermarkInMs())
      if (st1.maxSeenTs != Long.MinValue) {
        val due = math.max(st1.maxSeenTs + idleGapMs,
          timerValues.getCurrentWatermarkInMs() + 1)
        if (due != st0.timerTs) {
          val h = getHandle
          if (st0.timerTs != 0L) h.deleteTimer(st0.timerTs)
          h.registerTimer(due)
        }
        state.update(st1.copy(timerTs = due))
      } else state.update(st1)
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[O] = {
      if (!state.exists()) return Iterator.empty
      val st = state.get()
      val due = st.maxSeenTs + idleGapMs
      if (timerValues.getCurrentWatermarkInMs() >= due) {
        val (s0, buffered) = decodeState(a, st)
        val out = flushKey(a, st, s0, buffered)
        state.clear()
        out.iterator
      } else {
        // stale timer from a superseded registration (defensive — the
        // keyed delete above should leave at most one): re-arm and wait
        val newDue = math.max(due, timerValues.getCurrentWatermarkInMs() + 1)
        getHandle.registerTimer(newDue)
        state.update(st.copy(timerTs = newDue))
        Iterator.empty
      }
    }
  }
}
