package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.TranscriptQueries
import graft.gen.TranscriptGen
import graft.sources.TranscriptTable

/** JVM side of the benchmark: runs one workload and writes its raw event
  * log (`events.jsonl` in the work directory). `perfbench/run.py` starts it,
  * turns the log into metrics and prints the result.
  *
  * Arguments: --workload cep_replay|cep_live --seed N --seconds S --trace 0|1
  * --work DIR --cores N --start-ms EPOCH_MS
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("cores").toInt, m("start-ms").toLong)
    val h = new Harness(a)
    val code = try {
      a.workload match {
        case "cep_replay" => Replay.run(h)
        case "cep_live" => Live.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      0
    } catch {
      // a failure outside any counted operation (set-up, the harness
      // itself, or a fatal error) aborts the run without a result
      case e: Throwable => e.printStackTrace(); 1
    } finally {
      try h.stopSession() catch { case NonFatal(e) => e.printStackTrace() }
      h.log.flushTo(Paths.get(a.work, "events.jsonl"))
    }
    sys.exit(code)
  }
}

/** `cep_replay`: AvailableNow drains of a pre-written, time-sliced
  * transcripts table, at local[cores] and at local[1]. */
object Replay {
  val NConvs = 5000L
  /** No file cap: each drain is one bulk trigger of all input turns plus
    * the trailing eviction trigger, so per-row work dominates. */
  val Pipe = Pipeline(watermark = "90 minutes", idleGapMs = 30 * 60 * 1000L)

  def run(h: Harness): Unit = {
    val a = h.a
    val inDir = Paths.get(a.work, "replay", "input").toString
    val spark = h.session(a.cores)
    val (turns, genS) = h.timed(generate(spark, a.seed, inDir))
    h.log.write("kind" -> "gen", "write_s" -> genS, "turns" -> turns)
    val (slices, sentinels) = Fs.listFiles(Paths.get(inDir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .partition(_.getFileName.toString.startsWith("slice"))
    h.warm(spark, slices.take(slices.size / 4) ++ sentinels, Pipe)
    h.setupDone()
    val outs = h.passes(spark) { (pass, traced) =>
      h.drains(spark, "cores", pass, inDir, Pipe, traced, turns, a.seconds * 0.45, minDrains = 3)
    }
    val c1 = h.session(1)
    val c1Outs = h.passes(c1) { (pass, traced) =>
      h.drains(c1, "c1", pass, inDir, Pipe, traced, turns, a.seconds * 0.55, minDrains = 1)
    }
    h.check(h.session(a.cores), outs ++ c1Outs, groupByTs = false)
  }

  /** TranscriptGen conversations (long ones plus three hot ones) written as
    * the time-sliced streaming table, with the two end-of-stream sentinels.
    * Returns the number of input turns. */
  def generate(spark: SparkSession, seed: Long, dir: String): Long = {
    val cfg = TranscriptGen.Config(nConvs = NConvs, seed = seed, meanLen = 100, maxLen = 400,
      hotConvs = 3, hotLen = 1000)
    TranscriptTable.writeTimeSliced(TranscriptGen.dataset(spark, cfg), dir,
      sliceMinutes = 60, filesPerSlice = 4)
    TranscriptQueries.appendSentinel(spark, dir)
    spark.read.parquet(dir).filter(col("conv_id") =!= graft.state.AutomatonRunner.SentinelConvId).count()
  }
}

/** `cep_live`: an open loop. Set-up writes every input file with event
  * time set by its schedule; during the run a generator thread that does
  * nothing else moves each file into the watched directory at its due
  * time, whether or not the stream keeps up. The same files are then
  * drained in bulk at local[cores] and at local[1]. */
object Live {
  val TurnsPerSec = 20000
  val IntervalMs = 250L
  val PerFile: Int = (TurnsPerSec * IntervalMs / 1000).toInt
  /** Seconds of schedule before the steady window opens. */
  val LeadS = 2.0
  /** Share of turns (per mille) written one file late: within the
    * watermark delay, so they open a gap the turns behind them wait on. */
  val LatePermille = 20
  /** Event time of file 0; file k carries event time BaseMs + k * IntervalMs. */
  val BaseMs = 1735689600000L
  val Pipe = Pipeline(watermark = "5 seconds", idleGapMs = 10000L)
  val WarmFiles = 16

  def run(h: Harness): Unit = {
    val a = h.a
    val nFiles = math.ceil((LeadS + a.seconds) * 1000 / IntervalMs).toInt
    val base = Paths.get(a.work, "live")
    val staged = base.resolve("staged")
    val spark = h.session(a.cores)
    val (perFile, genS) = h.timed(stage(spark, a.seed, nFiles, staged))
    h.log.write("kind" -> "gen", "write_s" -> genS, "turns" -> perFile.values.sum)
    val files = Fs.listFiles(staged)
    h.warm(spark, files.take(WarmFiles), Pipe)
    h.setupDone()
    val turns = perFile.values.sum
    def in(pass: Int) = base.resolve(s"p$pass").resolve("in")
    val lives = h.passes(spark) { (pass, traced) =>
      val pending = base.resolve(s"p$pass").resolve("pending")
      Fs.copyFiles(files, pending)
      Files.createDirectories(in(pass))
      val tag = s"p$pass/live/0"
      openLoop(h, spark, tag, pass, pending, in(pass), nFiles, perFile, traced, turns)
      // the same files drained in bulk at local[cores]: a throughput the
      // program bounds, where the open loop's is the offered rate
      Drained(tag, in(pass).toString, s"${a.work}/runs/$tag/out") +:
        h.drains(spark, "cores", pass, in(pass).toString, Pipe, traced, turns, a.seconds * 0.3,
          minDrains = 3)
    }
    val c1 = h.session(1)
    val c1Outs = h.passes(c1) { (pass, traced) =>
      h.drains(c1, "c1", pass, in(pass).toString, Pipe, traced, turns, 0.0, minDrains = 1)
    }
    h.check(h.session(a.cores), lives ++ c1Outs, groupByTs = true)
  }

  private def openLoop(h: Harness, spark: SparkSession, tag: String, pass: Int, pending: Path,
                       in: Path, nFiles: Int, perFile: Map[Int, Long], traced: Boolean,
                       turns: Long): Unit = {
    val runDir = s"${h.a.work}/runs/$tag"
    HandlerCounters.reset()
    val gc0 = h.gcMs()
    val t0 = h.now()
    var ok = true
    try {
      val q = h.start(spark, tag, in.toString, runDir, Pipe, traced,
        Trigger.ProcessingTime("250 milliseconds"))
      val start = h.now() + 500L
      h.log.write("kind" -> "schedule", "tag" -> tag, "t0" -> start, "base" -> BaseMs,
        "interval_ms" -> IntervalMs, "lead_s" -> LeadS, "files" -> nFiles)
      val actual = new Array[Long](nFiles)
      val gen = new Thread(() => {
        var k = 0
        while (k < nFiles) {
          val due = start + k * IntervalMs
          var w = due - System.currentTimeMillis()
          while (w > 0) { Thread.sleep(w); w = due - System.currentTimeMillis() }
          Files.move(pending.resolve(f"$k%05d.parquet"), in.resolve(f"$k%05d.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          actual(k) = System.currentTimeMillis()
          k += 1
        }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.setPriority(Thread.MAX_PRIORITY)
      gen.start()
      gen.join()
      (0 until nFiles).foreach { k =>
        h.log.write("kind" -> "gen_file", "tag" -> tag, "k" -> k, "due" -> (start + k * IntervalMs),
          "actual" -> actual(k), "n" -> perFile.getOrElse(k, 0L))
      }
      // every emitted row is out once the last file is processed:
      // ChangeDetector emits nothing when a conversation is evicted
      q.processAllAvailable()
      q.stop()
      q.exception.foreach(e => throw e)
    } catch {
      case NonFatal(e) =>
        ok = false
        h.log.write("kind" -> "error", "tag" -> tag, "message" -> e.toString)
    }
    h.log.write("kind" -> "drain", "tag" -> tag, "leg" -> "live", "pass" -> pass,
      "traced" -> traced, "start" -> t0, "end" -> h.now(), "turns" -> turns, "ok" -> ok,
      "out" -> s"$runDir/out", "gc_ms" -> (h.gcMs() - gc0),
      "handler_calls" -> HandlerCounters.calls.sum(),
      "handler_ms" -> HandlerCounters.nanos.sum() / 1e6)
  }

  /** Writes `nFiles` files of `PerFile` turns each to `dir` as
    * `NNNNN.parquet`. Turns are the TranscriptGen conversations in
    * event-time order, cut into files; a seeded share moves one file later
    * (never past the last file, so no gap is left open at the end). Returns
    * the turns per file. */
  def stage(spark: SparkSession, seed: Long, nFiles: Int, dir: Path): Map[Int, Long] = {
    val nTurns = nFiles.toLong * PerFile
    val cfg = TranscriptGen.Config(nConvs = nTurns / 12, seed = seed)
    val order = Window.orderBy("ts", "conv_id", "turn_idx")
    val f0 = (col("rn") / PerFile).cast("int")
    val late = pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(seed)), lit(1000)) < LatePermille &&
      f0 < nFiles - 1
    val rows = TranscriptGen.dataset(spark, cfg).toDF()
      .withColumn("rn", row_number().over(order) - 1)
      .filter(col("rn") < nTurns)
      .withColumn("file", f0 + late.cast("int"))
      .withColumn("ts", timestamp_millis(lit(BaseMs) + f0 * IntervalMs))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "file")
      .cache()
    val tmp = dir.resolveSibling(dir.getFileName.toString + "__tmp")
    rows.repartition(col("file")).write.mode("overwrite").partitionBy("file").parquet(tmp.toString)
    val counts = rows.groupBy("file").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.unpersist()
    Files.createDirectories(dir)
    // the file source orders files by modification time
    val mtime0 = System.currentTimeMillis() - (nFiles + 10) * 1000L
    (0 until nFiles).foreach { k =>
      val parts = Fs.listFiles(tmp.resolve(s"file=$k")).filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"file $k staged as ${parts.size} parts")
      val dst = dir.resolve(f"$k%05d.parquet")
      Files.move(parts.head, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime0 + k * 1000L))
    }
    Fs.rmTree(tmp)
    counts
  }
}
