package graft

import org.apache.spark.sql.SparkSession

import graft.state.{Handlers, ReferenceFold}

/** GraftExtensions must wire the custom function and planner strategy into
  * a fresh session with no engine calls — the spark.sql.extensions path. */
class ExtensionsSpec extends SparkSpec {

  test("a withExtensions session gets parse_temp SQL and the fold strategy") {
    val base = spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // injectFunction: parse_temp resolves in pure SQL
      val t = ext.sql("SELECT parse_temp('x temp=98.5 y') AS t").collect()(0).getDouble(0)
      assert(t == 98.5)
      assert(ext.sql("SELECT parse_temp('no payload') AS t").collect()(0).getDouble(0).isNaN)
      // injectPlannerStrategy: the custom fold plans and runs on this
      // session, producing the sequential reference fold's rows
      import ext.implicits._
      val turns = graft.gen.TranscriptGen.dataset(ext,
        graft.gen.TranscriptGen.Config(nConvs = 20, seed = 3))
      val native = graft.plans.ConversationFold.run(turns, Handlers.ChangeDetector)
        .collect().map(l => (l.conv_id, l.turn_idx, l.status)).toSeq
      val ref = ReferenceFold.run(turns.collect().toSeq, Handlers.ChangeDetector)
        .map(l => (l.conv_id, l.turn_idx, l.status))
      assert(native.nonEmpty && native.sorted == ref.sorted)
      // on an extension-configured session the convenience self-registration
      // must be a NO-OP: the run above was planned by the INJECTED strategy
      // (the spark-submit deployment path Verify also uses), not by a
      // fallback through experimental.extraStrategies
      assert(ext.experimental.extraStrategies.isEmpty,
        "ConversationFold.run must not self-register when the extension is present")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
