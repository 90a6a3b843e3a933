package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. The converters live behind private[sql]
  * in Spark 4, so custom-Expression libraries expose them from a package
  * inside org.apache.spark.sql — the standard pattern used by Spark
  * extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  def logicalPlanOf(ds: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan
  def toAttributes(schema: org.apache.spark.sql.types.StructType): Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
  /** Force-create the driver's StateStoreCoordinator RPC endpoint. It is
    * normally created lazily by the first StreamingQuery; a BATCH read
    * through the statestore data source (checkpoint migration) in a fresh
    * session otherwise dies with RpcEndpointNotFoundException. */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.streamingQueryManager.stateStoreCoordinator
    ()
  }
  private def artifactManager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager
  /** The session's job-artifact state: non-null when its tasks run under an
    * executor class loader of their own. `ArtifactManager` computes it
    * once, on first use, from the session's
    * `spark.sql.artifact.isolation.enabled`, so reading it fixes the
    * session's isolation for the rest of its life. */
  def artifactState(spark: SparkSession): AnyRef = artifactManager(spark).state
  /** A jar, class, Python include, file or archive was added to the
    * session. `sessionArtifactAdded` alone is set only for jars and
    * classes; the others land in the manager's lists. All four members are
    * `protected` in Scala and public methods on the JVM. */
  def hasSessionArtifacts(spark: SparkSession): Boolean = {
    val m = artifactManager(spark)
    def member(name: String): AnyRef =
      classOf[org.apache.spark.sql.artifact.ArtifactManager].getMethod(name).invoke(m)
    member("sessionArtifactAdded").asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get ||
      Seq("jarsList", "pythonIncludeList", "sparkContextRelativePaths")
        .exists(n => !member(n).asInstanceOf[java.util.Collection[_]].isEmpty)
  }
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "builtin")
}
