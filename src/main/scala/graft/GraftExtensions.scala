package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the engine's custom Catalyst
  * pieces on ANY session without code changes —
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: withExtensions(new GraftExtensions) on a session builder
  *
  * Injected:
  *  - `ConversationFoldStrategy` (plans the custom ConversationFoldPlan
  *    logical node — the sort-based streaming automaton fold);
  *  - `parse_temp` as a SQL function (the codegen'd ParseTemp expression),
  *    so pure-SQL users get the hot-path scalar too.
  *
  * `ConversationFold.run` still self-registers through
  * `experimental.extraStrategies` as a convenience for ad-hoc sessions;
  * this class is the deployment-grade path (extensions are applied at
  * session build time, survive `newSession()`, and need no engine call). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.ConversationFoldStrategy)
    ext.injectFunction((
      FunctionIdentifier("parse_temp"),
      new ExpressionInfo(classOf[graft.functions.ParseTemp].getName, "parse_temp"),
      (exprs: Seq[Expression]) => graft.functions.ParseTemp.builder(exprs)))
  }
}
