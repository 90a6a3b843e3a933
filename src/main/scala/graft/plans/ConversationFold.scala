package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import graft.model.Turn
import graft.state.TurnAutomaton

/** Custom whole-operator extension (SURVEY.md §4.2 / §7 M8): a sort-based
  * per-conversation automaton fold as a first-class Catalyst operator —
  * LogicalPlan node + Strategy + SparkPlan, injected via
  * `spark.experimental.extraStrategies`.
  *
  * This is the engine's one batch fold (`AutomatonRunner.runBatch` calls
  * it). Why a custom operator instead of `groupByKey` and a per-group
  * function: that path hands each group over as an iterator in arbitrary
  * order, so the fold would have to MATERIALIZE and sort the conversation
  * — a conversation with millions of turns is an OOM. This exec instead
  * declares `requiredChildDistribution` (clustered by conv_id) +
  * `requiredChildOrdering` (conv_id, turn_idx), so Catalyst's
  * EnsureRequirements plants exactly one shuffle + one external (spillable)
  * sort, and the fold then streams over rows one at a time — O(automaton
  * state) memory per key regardless of conversation size. This is the
  * batch twin of the streaming contiguity rule.
  *
  * `outEncoder` gives the exec its output serializer. It rides on the node
  * because every planning pass, AQE's re-optimization included, plans the
  * node again from the logical plan alone.
  */
case class ConversationFoldPlan(
    a: TurnAutomaton[Any, Any],
    outEncoder: ExpressionEncoder[Any],
    override val output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the encoder is planning input, not plan shape: keep it out of explain()
  override protected def stringArgs: Iterator[Any] = Iterator(a, output, child)
  // the fold deserializes whole Turn rows: every child column is consumed
  // (without this, ColumnPruning would project the child down to nothing)
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ConversationFoldPlan =
    copy(child = newChild)
}

case class ConversationFoldExec(
    a: TurnAutomaton[Any, Any],
    override val output: Seq[Attribute],
    outSerializer: ExpressionEncoder.Serializer[Any],
    child: SparkPlan) extends UnaryExecNode {

  // all rows of one conversation in one partition...
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(convIdAttr)) :: Nil
  // ...sorted by (conv_id, turn_idx): Catalyst inserts the external sort
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(convIdAttr, Ascending), SortOrder(turnIdxAttr, Ascending)))

  private def attr(name: String) = child.output.find(_.name == name).getOrElse(
    throw new IllegalStateException(s"child of ConversationFold lacks column $name"))
  private def convIdAttr = attr("conv_id")
  private def turnIdxAttr = attr("turn_idx")

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val autom = a
    val ser = outSerializer
    child.execute().mapPartitions({ rows =>
      val turnEnc = ExpressionEncoder[Turn]().resolveAndBind(childOutput)
      val fromRow = turnEnc.createDeserializer()
      new Iterator[InternalRow] {
        private var curKey: String = null
        private var state: Any = null
        private val pending = scala.collection.mutable.Queue.empty[Any]
        private var done = false

        private def flushKey(): Unit =
          if (curKey != null) { autom.onComplete(state).foreach(pending.enqueue(_)) }

        @annotation.tailrec
        private def fill(): Unit =
          if (pending.isEmpty && !done) {
            if (rows.hasNext) {
              val t = fromRow(rows.next())
              if (t.conv_id != curKey) {
                flushKey()
                curKey = t.conv_id
                state = autom.initial
              }
              val (s2, out) = autom.onTurn(state, t)
              state = s2
              out.foreach(pending.enqueue(_))
              fill()
            } else {
              flushKey(); done = true
            }
          }

        override def hasNext: Boolean = { fill(); pending.nonEmpty }
        override def next(): InternalRow = {
          fill(); ser(pending.dequeue())
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ConversationFoldExec =
    copy(child = newChild)
}

object ConversationFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ConversationFoldPlan(a, enc, out, child) =>
      // the serializer travels inside the exec (task-serialized once)
      ConversationFoldExec(a, out, enc.createSerializer(), planLater(child)) :: Nil
    case _ => Nil
  }
}

object ConversationFold {

  /** Run the automaton as a native Catalyst operator: one shuffle + one
    * spillable sort + a streaming fold. Returns a typed Dataset[O]. */
  def run[S, O](turns: Dataset[Turn], a: TurnAutomaton[S, O])(
      implicit oEnc: Encoder[O]): Dataset[O] = {
    val spark = turns.sparkSession
    // `planner.strategies` includes extension-injected strategies: on a
    // session built with spark.sql.extensions=graft.GraftExtensions the
    // convenience self-registration is a no-op, so the extension path (the
    // production spark-submit route) is what actually plans the node
    if (!spark.sessionState.planner.strategies.contains(ConversationFoldStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ConversationFoldStrategy
    val expr = oEnc match {
      case e: ExpressionEncoder[O] => e
      case ag: org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[O] =>
        ExpressionEncoder(ag)
      case other => throw new IllegalArgumentException(
        s"unsupported encoder ${other.getClass}")
    }
    val outAttrs = org.apache.spark.sql.graftbridge.Bridge.toAttributes(expr.schema)
    val plan = ConversationFoldPlan(
      a.asInstanceOf[TurnAutomaton[Any, Any]],
      expr.asInstanceOf[ExpressionEncoder[Any]], outAttrs,
      org.apache.spark.sql.graftbridge.Bridge.logicalPlanOf(turns))
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, plan).as[O]
  }
}
