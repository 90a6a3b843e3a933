package graft.state

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Turn

/** TEST-ONLY replica of the pre-round-4 (state-schema v1) streaming
  * runner: identical semantics to AutomatonRunner.runStreaming (it calls
  * the SAME shared stepKey/flushKey core), but the STORED state row is the
  * old 4-field shape (no `timerTs`). Exists solely to mint v1 checkpoint
  * fixtures for StateMigrationSpec — the migration path needs a real old
  * checkpoint to resume from, and the production code must not carry a
  * legacy writer. */
object LegacyEngine {

  /** State-schema v1: ConvStateRow before the armed-timer field. */
  final case class LegacyConvStateRow(
      sBytes: Array[Byte],
      bufBytes: Array[Byte],
      maxEmittedIdx: Int,
      maxSeenTs: Long)

  def runStreamingV1[S, O: Encoder](
      turns: Dataset[Turn],
      a: TurnAutomaton[S, O],
      watermarkDelay: String,
      idleGapMs: Long = 30 * 60 * 1000L): Dataset[O] = {
    import turns.sparkSession.implicits._
    implicit val stateEnc: Encoder[LegacyConvStateRow] =
      Encoders.product[LegacyConvStateRow]
    def toV2(l: LegacyConvStateRow): AutomatonRunner.ConvStateRow =
      AutomatonRunner.ConvStateRow(l.sBytes, l.bufBytes, l.maxEmittedIdx,
        l.maxSeenTs, 0L)

    turns
      .withWatermark("ts", watermarkDelay)
      .filter(_.conv_id != AutomatonRunner.SentinelConvId)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, newTurns: Iterator[Turn], gs: GroupState[LegacyConvStateRow]) =>
          val st0 = if (gs.exists) toV2(gs.get) else AutomatonRunner.EmptyStateRow
          val (s0, buffered) = AutomatonRunner.decodeState(a, st0)
          if (gs.hasTimedOut) {
            val out = AutomatonRunner.flushKey(a, st0, s0, buffered)
            gs.remove()
            out.iterator
          } else {
            val (st1, out) = AutomatonRunner.stepKey(a, st0, s0, buffered,
              newTurns, gs.getCurrentWatermarkMs())
            gs.update(LegacyConvStateRow(st1.sBytes, st1.bufBytes,
              st1.maxEmittedIdx, st1.maxSeenTs))
            if (st1.maxSeenTs != Long.MinValue)
              gs.setTimeoutTimestamp(
                math.max(st1.maxSeenTs + idleGapMs, gs.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }
}

/** Shared fixture description: the generator main below and
  * StateMigrationSpec must agree on it exactly. */
object LegacyFixture {
  val Root = "src/test/resources/fixtures/ckpt_v1"
  val Cfg: graft.gen.TranscriptGen.Config =
    graft.gen.TranscriptGen.Config(nConvs = 120L, seed = 42L,
      hotConvs = 1, hotLen = 400)
  val WatermarkDelay = "90 minutes"
}

/** One-shot fixture generator (run manually, output committed to git):
  * `sbt "Test/runMain graft.state.MakeLegacyFixture"`.
  *
  * Splits the deterministic transcript input in half by time-slice file,
  * runs the V1 (4-field) Summarizer pipeline over the FIRST half with a
  * checkpoint and an exactly-once sink, and leaves behind:
  *   ckpt_v1/ckpt/       — a live v1 checkpoint (mid-stream state, no
  *                         version marker, exactly as a round-3 engine
  *                         would have left it)
  *   ckpt_v1/phase1_out/ — the first half's committed output
  *   ckpt_v1/phase2_in/  — the second half's input files (no sentinels)
  */
object MakeLegacyFixture {
  def main(args: Array[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val enc = implicitly[Encoder[Handlers.ConvSummary]]

    val root = Paths.get(LegacyFixture.Root).toAbsolutePath
    graft.fs.Dirs.rmTree(root)
    Files.createDirectories(root)

    val staged = Files.createTempDirectory("graft_fixture_staged").toString
    val in1 = Files.createTempDirectory("graft_fixture_in1").toString
    graft.sources.TranscriptTable.writeTimeSliced(
      graft.gen.TranscriptGen.dataset(spark, LegacyFixture.Cfg), staged,
      sliceMinutes = 60)
    val files = {
      val s = Files.list(Paths.get(staged))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    val (phase1, phase2) = files.splitAt(files.size / 2)
    val phase2Dir = root.resolve("phase2_in")
    Files.createDirectories(phase2Dir)
    phase1.foreach(f => Files.move(f, Paths.get(in1, f.getFileName.toString)))
    phase2.foreach(f => Files.move(f, phase2Dir.resolve(f.getFileName.toString)))

    // the v1 pipeline over the first half — raw writeStream (NOT
    // FlowSink.runAvailableNow, which would stamp the v2 version marker
    // this fixture must lack)
    val sink = new graft.sink.ExactlyOnceParquetSink(root.resolve("phase1_out").toString)
    val q = LegacyEngine.runStreamingV1(
        graft.flow.FlowSource.stream(spark, in1, maxFilesPerTrigger = Some(4)),
        Handlers.Summarizer, LegacyFixture.WatermarkDelay)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch((df: Dataset[Handlers.ConvSummary], epochId: Long) =>
        sink.addBatch(df.toDF(), epochId))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val st = spark.read.format("statestore").load(root.resolve("ckpt").toString)
    println(s"[fixture] live v1 state rows: ${st.count()}")
    println(s"[fixture] phase1 committed rows: ${sink.readCommitted(spark).count()}")
    println(s"[fixture] written under $root")
    spark.stop()
  }
}
