package graft.state

import graft.model.Turn

/** TEST-ONLY sequential reference for the batch automaton fold: per
  * `conv_id`, sort the conversation by `turn_idx`, call `onTurn` on each
  * turn in that order, then `onComplete` once. Plain Scala over collected
  * rows, with no Spark plan in it, so the engine's one batch kernel
  * (`AutomatonRunner.runBatch` = `plans.ConversationFold`) is checked
  * against an independent implementation and not against itself. */
object ReferenceFold {

  def run[S, O](turns: Seq[Turn], a: TurnAutomaton[S, O]): Seq[O] =
    turns.groupBy(_.conv_id).values.toSeq.flatMap { conv =>
      val (s, out) = conv.sortBy(_.turn_idx).foldLeft((a.initial, Vector.empty[O])) {
        case ((s, acc), t) => val (s2, os) = a.onTurn(s, t); (s2, acc ++ os)
      }
      out ++ a.onComplete(s)
    }
}
