package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.flow.{FlowSink, FlowSource}
import graft.fs.LocalFs
import graft.gen.TranscriptGen
import graft.model.LabeledTurn
import graft.sources.TranscriptTable
import graft.state.{AutomatonRunner, Handlers}

/** A checkpoint written on Hadoop's stock `file:` filesystem resumes on
  * the engine's in-process one and the reverse: the committed rows equal
  * one uninterrupted run, and the HDFS-backed state store holds the same
  * file names either way (delta files, `.crc` sidecars, checksum files). */
class LocalFsCheckpointSpec extends SparkSpec {

  private val StockImpl = "org.apache.hadoop.fs.local.LocalFs"

  /** A session on the HDFS-backed store; `impl` = None leaves the choice
    * of `file:` filesystem to the engine. */
  private def session(impl: Option[String]): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    impl.foreach(s.conf.set(LocalFs.ImplKey, _))
    s
  }

  private def run(s: SparkSession, in: String, out: String, ck: String): Set[LabeledTurn] = {
    import s.implicits._
    val result = AutomatonRunner.runStreaming(
      FlowSource.stream(s, in, maxFilesPerTrigger = Some(1)),
      Handlers.ChangeDetector, watermarkDelay = "90 minutes")
    val got = FlowSink.runAvailableNow(result, out, ck)
      .readCommitted(s).as[LabeledTurn].collect()
    assert(got.length == got.toSet.size, "no duplicate commits")
    got.toSet
  }

  private def list(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally st.close()
  }

  private def stateFiles(ck: String): Set[String] = {
    val root = Paths.get(ck, "state", "0")
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally st.close()
  }

  test("stock <-> engine file: filesystem resume gives the uninterrupted rows and state files") {
    // staged input: time slices, then the two drain sentinels
    val staged = tmpDir("graft_fsck_staged")
    TranscriptTable.writeTimeSliced(
      TranscriptGen.dataset(spark, TranscriptGen.Config(nConvs = 25L, seed = 7L)),
      staged, sliceMinutes = 120)
    TranscriptQueries.appendSentinel(spark, staged)
    val (slices, rest) = list(Paths.get(staged)).partition(_.getFileName.toString.startsWith("slice"))
    val (phase1, phase2) = (slices.take(slices.size / 2), slices.drop(slices.size / 2) ++ rest)
    assert(phase1.nonEmpty && phase2.exists(_.getFileName.toString.startsWith("slice")))

    val whole = run(session(None), staged, tmpDir("graft_fsck_out"), tmpDir("graft_fsck_ck"))
    assert(whole.nonEmpty)

    def twoPhase(first: Option[String], second: Option[String]): Set[String] = {
      val in = tmpDir("graft_fsck_in"); val out = tmpDir("graft_fsck_out")
      val ck = tmpDir("graft_fsck_ck")
      def stage(files: Seq[Path]): Unit =
        files.foreach(f => Files.copy(f, Paths.get(in, f.getFileName.toString),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES))
      stage(phase1)
      val s1 = session(first)
      run(s1, in, out, ck)
      stage(phase2)
      val s2 = session(second)
      assert(run(s2, in, out, ck) == whole)
      // each phase ran on the filesystem it asked for
      Seq(s1 -> first, s2 -> second).foreach { case (s, impl) =>
        assert(s.conf.get(LocalFs.ImplKey) == impl.getOrElse(classOf[LocalFs].getName))
      }
      stateFiles(ck)
    }

    val stockThenEngine = twoPhase(Some(StockImpl), None)
    val engineThenStock = twoPhase(None, Some(StockImpl))
    assert(stockThenEngine == engineThenStock)
    // per partition: N.delta, its Hadoop sidecar .N.delta.crc, Spark's
    // checksum file N.delta.crc and that file's sidecar .N.delta.crc.crc
    val names = stockThenEngine.map(n => Paths.get(n).getFileName.toString)
    Seq("""\d+\.delta""", """\.\d+\.delta\.crc""", """\d+\.delta\.crc""",
        """\.\d+\.delta\.crc\.crc""").foreach { re =>
      assert(names.exists(_.matches(re)), re)
    }
  }
}
