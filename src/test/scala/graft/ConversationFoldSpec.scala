package graft

import org.apache.spark.sql.functions.{col, lit, pmod, timestamp_seconds, when}

import graft.gen.TranscriptGen
import graft.model.{LabeledTurn, Turn}
import graft.state.{AutomatonRunner, Handlers, ReferenceFold}

/** The engine's one batch automaton kernel (`AutomatonRunner.runBatch` =
  * the custom Catalyst operator ConversationFoldPlan/Exec) must equal the
  * sequential ReferenceFold, its physical plan must show exactly one
  * shuffle + sort feeding the streaming fold, and a conversation far
  * larger than any per-group buffer must fold in O(automaton state). */
class ConversationFoldSpec extends SparkSpec {

  private val cfg = TranscriptGen.Config(nConvs = 30L, seed = 42L, hotConvs = 1, hotLen = 300)

  private def bag[A](xs: Seq[A]): Map[A, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)

  test("runBatch == ReferenceFold (ChangeDetector, Pattern, Summarizer)") {
    import spark.implicits._
    // scrambled: each conversation reaches the fold's shuffle from 7 map
    // partitions, so only the required (conv_id, turn_idx) sort orders it
    val turns = TranscriptGen.dataset(spark, cfg).repartition(7)
    val rows = turns.collect().toSeq
    val cd = AutomatonRunner.runBatch(turns, Handlers.ChangeDetector).collect().toSeq
    assert(cd.nonEmpty && bag(cd) == bag(ReferenceFold.run(rows, Handlers.ChangeDetector)))
    val p = AutomatonRunner.runBatch(turns, Handlers.UserToolAssistantPattern).collect().toSeq
    assert(p.nonEmpty && bag(p) == bag(ReferenceFold.run(rows, Handlers.UserToolAssistantPattern)))
    // onComplete path (fires on key change + end of partition)
    val s = AutomatonRunner.runBatch(turns, Handlers.Summarizer).collect().toSeq
    assert(s.length == cfg.nConvs && bag(s) == bag(ReferenceFold.run(rows, Handlers.Summarizer)))
  }

  test("physical plan: one exchange + one sort feeding ConversationFoldExec") {
    import spark.implicits._
    val turns = TranscriptGen.dataset(spark, cfg)
    val qe = AutomatonRunner.runBatch(turns, Handlers.ChangeDetector).queryExecution
    // explain's logical plan shows the node but not its output encoder
    val logical = qe.optimizedPlan.toString
    assert(logical.contains("ConversationFoldPlan") &&
      !logical.contains("ExpressionEncoder"), logical)
    val plan = qe.executedPlan.toString()
    assert(plan.contains("ConversationFold"), plan) // Exec suffix stripped in simpleString
    assert(plan.contains("Exchange hashpartitioning(conv_id"), plan)
    assert("""Sort \[conv_id#\d+ ASC NULLS FIRST, turn_idx#\d+ ASC NULLS FIRST\]""".r
      .findFirstIn(plan).nonEmpty, plan)
    // no object-path grouping (groupByKey's AppendColumns + MapGroups)
    assert(!plan.contains("MapGroups") && !plan.contains("AppendColumns"), plan)
  }

  test("per-key emission order is turn_idx order") {
    import spark.implicits._
    val turns = TranscriptGen.dataset(spark, cfg).repartition(7) // scramble
    val got = AutomatonRunner.runBatch(turns, Handlers.ChangeDetector)
      .mapPartitions(it => Iterator(it.toArray))
      .collect()
    got.foreach { part: Array[LabeledTurn] =>
      part.groupBy(_.conv_id).foreach { case (_, rows) =>
        val idxs = rows.map(_.turn_idx).toSeq
        assert(idxs == idxs.sorted)
      }
    }
  }

  test("one 500k-turn conversation folds through runBatch (Summarizer)") {
    import spark.implicits._
    // built column-wise, never as one collection of turns; turn_idx runs
    // backwards so the fold's sort does the ordering
    val n = 500000L
    val hot = spark.range(0, n, 1, 4).select(
      lit("hot").as("conv_id"),
      (lit(n - 1) - col("id")).cast("int").as("turn_idx"),
      when(pmod(col("id"), lit(3)) === 0, "user")
        .when(pmod(col("id"), lit(3)) === 1, "tool").otherwise("assistant").as("role"),
      lit("").as("text"), lit("").as("tool"),
      timestamp_seconds(col("id")).as("ts")).as[Turn]
    val got = AutomatonRunner.runBatch(hot, Handlers.Summarizer).collect()
    assert(got.toSeq == Seq(Handlers.ConvSummary("hot", n.toInt, ((n + 2) / 3).toInt,
      ((n + 1) / 3).toInt, 0, (n - 1).toInt)))
  }
}
