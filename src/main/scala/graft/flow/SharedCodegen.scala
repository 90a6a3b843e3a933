package graft.flow

import java.util.{Collections, WeakHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Lets the streaming queries of a session without session-scoped
  * artifacts share the executor's generated code.
  *
  * Spark 4.1 runs every streaming query in a clone of its session, and with
  * `spark.sql.artifact.isolation.enabled` (default `true`) each clone's
  * tasks run under an executor class loader of their own. `CodeGenerator`
  * caches compiled classes per class loader, so every query, i.e. every
  * AvailableNow drain, compiled its generated classes again (16 per
  * perfbench drain) and ran them JIT-cold. Isolation exists to give a
  * session's tasks that session's own jars, classes, Python includes,
  * files and archives; for a session with none it holds nothing.
  * [[install]] turns it off by these rules:
  *  - a value set in the session conf (the SparkConf's `spark.sql.*` keys
  *    are merged into it) is never changed;
  *  - only while the session has no session-scoped artifact;
  *  - the caller session's own isolation is fixed first, so the setting
  *    reaches only sessions cloned from it later: the streaming queries'
  *    sessions, to which no artifact can be added (`newSession()` does
  *    not copy runtime conf);
  *  - once the session gains an artifact, the next call withdraws the
  *    setting, so the next query is isolated again and its tasks can load
  *    the session's jars and classes.
  * Every streaming entry point calls it, next to `LocalFs.install`. */
object SharedCodegen {

  val IsolationKey = "spark.sql.artifact.isolation.enabled"

  // sessions whose IsolationKey was set here, held weakly
  private val setHere = Collections.newSetFromMap(new WeakHashMap[SparkSession, java.lang.Boolean])

  def install(spark: SparkSession): Unit = setHere.synchronized {
    val artifacts = Bridge.hasSessionArtifacts(spark)
    if (setHere.contains(spark)) {
      if (artifacts) { spark.conf.unset(IsolationKey); setHere.remove(spark) }
    } else if (!artifacts && !spark.conf.getAll.contains(IsolationKey)) {
      // fix the caller's own isolation before the key changes (Spark 4.1.2
      // already did when it built the session's ArtifactManager)
      Bridge.artifactState(spark)
      spark.conf.set(IsolationKey, "false")
      setHere.add(spark)
    }
    ()
  }
}
