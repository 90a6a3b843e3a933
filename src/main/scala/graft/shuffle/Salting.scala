package graft.shuffle

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key (skew) handling — the north rule's "salting for hot-conversation
  * skew". A single conversation with millions of turns serializes on one
  * task in any keyed operator; salting splits the STATELESS/associative
  * phases across `nSalts` subtasks and merges, while inherently-sequential
  * per-key automata are instead protected by bounded per-trigger intake.
  *
  * The reference has no analogue (its KeyBased router pins a key to one
  * worker forever, `/root/reference/src/reflow/internal/edge_router.py:
  * 102-154`); this is a capability the Spark rebuild adds.
  */
object Salting {

  /** Deterministic salt in [0, nSalts) — derived from a second column (not
    * random) so re-execution under task retry is stable (exactly-once). */
  def saltCol(stable: Column, nSalts: Int): Column =
    pmod(xxhash64(stable), lit(nSalts))

  /** Two-phase salted aggregation: group by (key, salt) with partial
    * aggregates, then merge partials by key. The result is IDENTICAL to a
    * direct groupBy(key).agg(...) — salting is a physical strategy only —
    * but no single task ever sees more than ~1/nSalts of a hot key's rows.
    *
    * @param partial  aggregations computed per (key, salt)
    * @param merge    how to combine the partials per key (same output names)
    */
  def saltedAgg(df: DataFrame, key: Column, salt: Column, nSalts: Int)(
      partial: Seq[Column], merge: Seq[Column]): DataFrame =
    df.withColumn("__salt", saltCol(salt, nSalts))
      .groupBy(key.as("__key"), col("__salt"))
      .agg(partial.head, partial.tail: _*)
      .groupBy(col("__key"))
      .agg(merge.head, merge.tail: _*)

  /** Salted per-conversation turn counting / token stats — the canonical
    * skew-safe aggregate over transcripts (hot conversations split by
    * turn_idx hash, then merged). */
  def convStatsSalted(turns: DataFrame, nSalts: Int = 16): DataFrame =
    saltedAgg(turns, col("conv_id"), col("turn_idx"), nSalts)(
      partial = Seq(
        count(lit(1)).as("n"),
        sum(when(col("role") === "tool", 1L).otherwise(0L)).as("n_tool"),
        max(col("turn_idx")).as("max_idx")),
      merge = Seq(
        sum(col("n")).as("n_turns"),
        sum(col("n_tool")).as("n_tool"),
        max(col("max_idx")).as("max_idx"))
    ).withColumnRenamed("__key", "conv_id")

}
