package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.RawLocalFileSystem

import graft.sink.ExactlyOnceParquetSink
import graft.state.StateVersion

/** Hadoop's raw local filesystem under a scheme of its own, `graftfs:`: a
  * Hadoop filesystem other than `file:`, whose files are those of a local
  * directory, so a spec can look at what landed where. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The exactly-once sink and the state-version marker keep all their
  * metadata on the sink's or checkpoint's own Hadoop filesystem: run on
  * `graftfs:`, every commit marker, compaction mark and delete lands in the
  * directory behind the `graftfs:` path. */
class SinkPortabilitySpec extends SparkSpec {

  private def onOtherScheme(prefix: String): (String, String) = {
    spark.conf.set("fs.graftfs.impl", classOf[OtherSchemeFileSystem].getName)
    val local = tmpDir(prefix)
    (local, s"graftfs://$local")
  }

  test("the sink commits, dedups, rewrites a torn epoch and compacts on a non-file scheme") {
    import spark.implicits._
    val (local, dir) = onOtherScheme("graft_scheme_sink")
    val sink = new ExactlyOnceParquetSink(dir)
    def rows(e: Long) = Seq((e, s"row-$e")).toDF("id", "payload")
    def view() = sink.readCommitted(spark).select("id", "payload").as[(Long, String)]
      .collect().toSet

    (0L until 3L).foreach(e => sink.addBatch(rows(e), e))
    assert(new String(Files.readAllBytes(Paths.get(local, "_commits", "1")), "UTF-8") == "epoch=1",
      "the commit marker lands in the sink's own directory, in the v1 format")
    assert(sink.committedEpochs() == Seq(0L, 1L, 2L))

    // a redelivered epoch is dropped
    sink.addBatch(Seq((1L, "row-1-redelivered")).toDF("id", "payload"), 1L)
    // a torn epoch (data written, no marker) is overwritten on retry
    Seq((3L, "torn"), (3L, "torn-too")).toDF("id", "payload")
      .write.mode("overwrite").parquet(s"$dir/epoch=3")
    assert(!sink.isCommitted(3L))
    sink.addBatch(rows(3L), 3L)
    val want = (0L until 4L).map(e => (e, s"row-$e")).toSet
    assert(view() == want)

    sink.compact(spark)
    assert(sink.compactedUpTo().contains(3L) && sink.isCommitted(1L))
    assert(Files.exists(Paths.get(local, "_compacted", "3")), "the compaction mark lands there too")
    assert(sink.committedEpochs().isEmpty)
    assert(!Files.exists(Paths.get(local, "epoch=2")), "covered epoch dirs are deleted there")
    assert(view() == want)
  }

  test("the state-version marker is stamped and checked on a non-file scheme") {
    val (local, ck) = onOtherScheme("graft_scheme_ck")
    StateVersion.checkAndStamp(ck)
    assert(new String(Files.readAllBytes(Paths.get(local, StateVersion.MarkerFile)), "UTF-8")
      == StateVersion.Current.toString)
    StateVersion.checkAndStamp(ck) // a stamped checkpoint resumes

    val (oldLocal, old) = onOtherScheme("graft_scheme_ck_v1")
    Files.createDirectories(Paths.get(oldLocal, "state", "0"))
    val e = intercept[IllegalStateException](StateVersion.checkAndStamp(old))
    assert(e.getMessage.contains("StateMigration"))
    assert(!Files.exists(Paths.get(oldLocal, StateVersion.MarkerFile)))
  }
}
