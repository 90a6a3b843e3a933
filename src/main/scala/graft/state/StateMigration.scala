package graft.state

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.model.Turn
import graft.state.AutomatonRunner.ConvStateRow

/** Offline state-schema migration for the keyed automaton checkpoints.
  *
  * The engine's streaming state row (`ConvStateRow`) is versioned
  * (`StateVersion`): v1 was the 4-field row (no `timerTs`), v2 added the
  * armed-timer timestamp as a 5th flat field. Spark's state store pins the
  * value schema at checkpoint creation, so resuming a v1 checkpoint with
  * the v2 engine fails the provider's schema check. This utility is the
  * upgrade path the reference cannot have (its state is volatile —
  * `/root/reference/src/reflow/internal/worker.py:260-285` keeps it in
  * process memory), re-expressed for durable Spark checkpoints:
  *
  *  1. `readKeyedState` reads the OLD checkpoint's state through Spark's
  *     own state data source (`format("statestore")` — the public reader
  *     over any provider's files) and up-converts each row to the current
  *     `ConvStateRow` shape: absent `timerTs` defaults to 0 ("no timer
  *     armed"), and a present one is RESET to 0 — it described a timer
  *     registered in the old checkpoint's timer store, which does not
  *     exist in the new one.
  *  2. `resume` starts the SAME pipeline on a FRESH checkpoint with those
  *     rows as `flatMapGroupsWithState` initial state. fMGWS invokes the
  *     user function for every initial-state key in batch 0 (empty data
  *     iterator if the key has no input), so each migrated key immediately
  *     re-registers its idle-gap timeout from its own `maxSeenTs` — keys
  *     that never receive input again still flush `onComplete` when the
  *     new watermark passes their idle gap. Nothing leaks, nothing fires
  *     twice (evicted keys were removed from the old store before the
  *     migration read).
  *
  * The new query's watermark restarts at 0 and catches up from the
  * resumed input; under the input contract (turns of one conversation are
  * a contiguous burst — gaps shorter than the idle gap), a key is never
  * idle long enough for the old watermark to have passed its timeout while
  * later turns are still coming, so the fresh watermark changes no
  * per-key outcome, only the trigger at which it happens.
  *
  * At 100 TB the same three stages hold: the statestore read is one
  * partitioned scan of the old state files, the initial-state seed is one
  * hash shuffle on the key, and no driver-side state is materialized.
  */
object StateMigration {

  /** The old checkpoint's keyed automaton state, up-converted to the
    * CURRENT ConvStateRow shape. Works on v1 (4-field) and v2 (5-field)
    * checkpoints; `operatorId` defaults to 0 (the single stateful operator
    * of the automaton pipelines). */
  def readKeyedState(spark: SparkSession, ckptDir: String): Dataset[(String, ConvStateRow)] = {
    import spark.implicits._
    // the statestore source asks the driver-side coordinator for provider
    // locations; in a session that has never run a StreamingQuery the
    // endpoint does not exist yet — create it (lazily, idempotent)
    org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(spark)
    val raw = spark.read.format("statestore").load(ckptDir)
    // the key struct's one field is named after the grouping attribute the
    // checkpoint was created under: `value` (groupByKey) or `conv_id`
    val keyField = raw.schema("key").dataType.asInstanceOf[StructType].fieldNames.head
    val gs = raw.select(col("key").getField(keyField).as("k"), col("value.groupState.*"))
    // v1 rows have no timerTs; a v2 row's timerTs points at a timer in the
    // OLD checkpoint's timer store — either way the new store owns no such
    // timer yet, so the migrated row always starts unarmed (0)
    gs.withColumn("timerTs", lit(0L))
      .select(col("k"), col("sBytes"), col("bufBytes"),
        col("maxEmittedIdx"), col("maxSeenTs"), col("timerTs"))
      .as[(String, Array[Byte], Array[Byte], Int, Long, Long)]
      .map { case (k, s, b, idx, ts, timer) =>
        (k, ConvStateRow(s, b, idx, ts, timer)) }
  }

  /** Resume the automaton pipeline from an OLD-schema checkpoint: old
    * state in, fresh checkpoint out. The returned Dataset must be started
    * with a NEW checkpointLocation (the old one stays untouched as the
    * rollback point). */
  def resume[S, O: Encoder](
      spark: SparkSession,
      oldCkptDir: String,
      turns: Dataset[Turn],
      a: TurnAutomaton[S, O],
      watermarkDelay: String = "10 minutes",
      idleGapMs: Long = 30 * 60 * 1000L): Dataset[O] =
    AutomatonRunner.runStreaming(turns, a, watermarkDelay, idleGapMs,
      initialState = Some(readKeyedState(spark, oldCkptDir)))
}
