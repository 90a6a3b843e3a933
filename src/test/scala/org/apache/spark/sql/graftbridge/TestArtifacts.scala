package org.apache.spark.sql.graftbridge

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Session-scoped artifacts for tests. The public `addArtifact(bytes,
  * target)` takes only jars and classes; a file goes in the way Spark
  * Connect's AddArtifacts handler adds it, through the session's
  * `ArtifactManager`. */
object TestArtifacts {
  def addFile(spark: SparkSession, name: String, text: String): Unit = {
    val staged = Files.createTempFile(graft.SparkTestBase.tmpRoot, "artifact", ".txt")
    Files.write(staged, text.getBytes(UTF_8))
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager
      .addArtifact(Paths.get(s"files/$name"), staged, None)
  }

  def addClass(spark: SparkSession, name: String): Unit =
    spark.addArtifact(Array[Byte](0xca.toByte, 0xfe.toByte, 0xba.toByte, 0xbe.toByte), s"$name.class")
}
