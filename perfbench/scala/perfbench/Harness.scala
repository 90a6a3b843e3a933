package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.flow.FlowSource
import graft.model.LabeledTurn
import graft.sink.ExactlyOnceParquetSink
import graft.sources.TranscriptTable
import graft.state.{AutomatonRunner, Handlers, StateVersion, TurnAutomaton}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, cores: Int, startMs: Long)

/** Pipeline settings shared by a workload's drains. */
final case class Pipeline(watermark: String, idleGapMs: Long)

/** Session lifecycle, drains, correctness checks and the event log that a
  * workload drives. Every call into the engine goes through the public
  * functions of its modules. */
final class Harness(val a: Args) {
  val log = new EventLog
  private var spark: SparkSession = _
  private var contexts = 0

  def now(): Long = System.currentTimeMillis()

  /** Bench's production streaming session: 32 shuffle/state partitions,
    * the HDFS-backed state store with maintenance deferred, 16m scan
    * partitions. Scratch lives in the run's work directory. */
  def session(cores: Int): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}-c$cores")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark_local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.streams.addListener(new ProgressRecorder(log))
    contexts += 1
    spark = s
    s
  }

  /** Turns tracing on for the rest of this session's life. */
  def trace(s: SparkSession): Unit = s.sparkContext.addSparkListener(new StageRecorder(log, contexts))

  /** The untraced pass, then (in a traced run) the traced pass, on one
    * session: the passes of a leg share its warm executor threads. */
  def passes[A](s: SparkSession)(body: (Int, Boolean) => Seq[A]): Seq[A] =
    (if (a.trace) Seq(false, true) else Seq(false)).zipWithIndex.flatMap { case (traced, pass) =>
      if (traced) trace(s)
      body(pass, traced)
    }

  /** Stopping the context also drains its listener bus into the log. */
  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Ends the set-up: JVM start, session, input generation and staging and
    * the warm pass, timed from process start. */
  def setupDone(): Unit = log.write("kind" -> "setup", "seconds" -> (now() - a.startMs) / 1000.0)

  /** Untimed warm pass: one drain of `files` (a part of the workload's
    * input) in the session the measured drains will use, so they start with
    * JIT-compiled code and warm task threads. */
  def warm(spark: SparkSession, files: Seq[Path], p: Pipeline): Unit = {
    val dir = Paths.get(a.work, "warm")
    Fs.copyFiles(files, dir)
    drain(spark, "warm", "warm", -1, dir.toString, s"${a.work}/runs/warm", p, traced = false,
      turns = 0)
  }

  def automaton(traced: Boolean): TurnAutomaton[Option[String], LabeledTurn] =
    if (traced) new TimedAutomaton(Handlers.ChangeDetector) else Handlers.ChangeDetector

  /** Starts the CEP pipeline (source -> watermark -> ChangeDetector on
    * flatMapGroupsWithState -> exactly-once parquet sink), timing every
    * `addBatch` call. */
  def start(spark: SparkSession, tag: String, inDir: String, runDir: String,
            p: Pipeline, traced: Boolean, trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val ck = s"$runDir/ck"
    StateVersion.checkAndStamp(ck)
    val sink = new ExactlyOnceParquetSink(s"$runDir/out")
    val out = AutomatonRunner.runStreaming(FlowSource.stream(spark, inDir),
      automaton(traced), p.watermark, p.idleGapMs)
    val q = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: Dataset[LabeledTurn], epoch: Long) =>
        val skipped = sink.isCommitted(epoch)
        val s = now()
        sink.addBatch(df.toDF(), epoch)
        log.write("kind" -> "batch", "tag" -> tag, "epoch" -> epoch, "start" -> s,
          "end" -> now(), "skipped" -> skipped)
      }
      .trigger(trigger)
      .start()
    log.write("kind" -> "query", "tag" -> tag, "query" -> q.id.toString)
    q
  }

  /** One AvailableNow drain of `inDir`. A non-fatal failure is logged with
    * its message and the drain counts as failed; a fatal one aborts. */
  def drain(spark: SparkSession, tag: String, leg: String, pass: Int, inDir: String,
            runDir: String, p: Pipeline, traced: Boolean, turns: Long): Boolean = {
    HandlerCounters.reset()
    val gc0 = gcMs()
    val t0 = now()
    val n0 = System.nanoTime()
    val ok = try {
      val q = start(spark, tag, inDir, runDir, p, traced, Trigger.AvailableNow())
      q.awaitTermination()
      true
    } catch {
      case NonFatal(e) =>
        log.write("kind" -> "error", "tag" -> tag, "message" -> e.toString)
        false
    }
    val wall = (System.nanoTime() - n0) / 1e9
    log.write("kind" -> "drain", "tag" -> tag, "leg" -> leg, "pass" -> pass,
      "traced" -> traced, "start" -> t0, "end" -> now(), "wall_s" -> wall,
      "turns" -> turns, "ok" -> ok, "out" -> s"$runDir/out", "gc_ms" -> (gcMs() - gc0),
      "handler_calls" -> HandlerCounters.calls.sum(),
      "handler_ms" -> HandlerCounters.nanos.sum() / 1e6)
    ok
  }

  /** Runs `minDrains` drains of `inDir`, then more while another one of
    * average length still fits in `budgetS`. */
  def drains(spark: SparkSession, leg: String, pass: Int, inDir: String, p: Pipeline,
             traced: Boolean, turns: Long, budgetS: Double, minDrains: Int): Seq[Drained] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = Seq.newBuilder[Drained]
    var i = 0
    while (i < minDrains || elapsed * (i + 1) / i <= budgetS) {
      val tag = s"p$pass/$leg/$i"
      val runDir = s"${a.work}/runs/$tag"
      drain(spark, tag, leg, pass, inDir, runDir, p, traced, turns)
      out += Drained(tag, inDir, s"$runDir/out")
      i += 1
    }
    out.result()
  }

  /** Compares each committed output with `AutomatonRunner.runBatch` over the
    * same input. Rows are matched on (conv_id, turn_idx): a missing,
    * duplicate, unexpected or differing row is a failure. Also logs each
    * output's rows per (epoch[, ts]) for the latency join. */
  def check(spark: SparkSession, outputs: Seq[Drained], groupByTs: Boolean): Unit =
    outputs.groupBy(_.inDir).foreach { case (inDir, outs) =>
      val expected = Check.hashed(Check.expected(spark, inDir)).cache()
      val expFp = Check.fingerprint(expected)
      outs.foreach { d =>
        try {
          val got = new ExactlyOnceParquetSink(d.outDir).readCommitted(spark)
          val (c, readS) = timed(Check.compare(expected, expFp, got))
          log.write("kind" -> "check", "tag" -> d.tag, "read_ms" -> readS * 1000, "expected" -> c.expected,
            "got" -> c.got, "missing" -> c.missing, "duplicate" -> c.duplicate,
            "unexpected" -> c.unexpected, "wrong" -> c.wrong, "samples" -> c.samples)
          val keys = if (groupByTs) Seq(col("epoch"), col("ts")) else Seq(col("epoch"))
          got.groupBy(keys: _*).count().collect().foreach { r =>
            log.write("kind" -> "rows", "tag" -> d.tag, "epoch" -> r.getAs[Any]("epoch").toString.toLong,
              "ts" -> (if (groupByTs) Some(r.getTimestamp(1).getTime) else None),
              "n" -> r.getLong(r.length - 1))
          }
        } catch {
          case NonFatal(e) =>
            log.write("kind" -> "check", "tag" -> d.tag, "expected" -> expFp._1,
              "got" -> 0L, "missing" -> expFp._1, "duplicate" -> 0L, "unexpected" -> 0L,
              "wrong" -> 0L, "samples" -> Seq(e.toString))
        }
      }
      expected.unpersist()
    }
}

/** Small filesystem helpers over java.nio. */
object Fs {
  def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  def copyFiles(files: Seq[Path], to: Path): Unit = {
    Files.createDirectories(to)
    files.foreach(f => Files.copy(f, to.resolve(f.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES))
  }

  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listFiles(p).foreach(rmTree)
    Files.deleteIfExists(p); ()
  }
}

final case class Drained(tag: String, inDir: String, outDir: String)

object Check {
  private val Cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "temp", "status")

  final case class Counts(expected: Long, got: Long, missing: Long, duplicate: Long,
                          unexpected: Long, wrong: Long, samples: Seq[String])

  def expected(spark: SparkSession, inDir: String): DataFrame = {
    import spark.implicits._
    val turns = TranscriptTable.read(spark)(inDir)
      .filter(_.conv_id != AutomatonRunner.SentinelConvId)
    AutomatonRunner.runBatch(turns, Handlers.ChangeDetector).toDF()
  }

  def hashed(df: DataFrame): DataFrame =
    df.select(col("conv_id"), col("turn_idx"), xxhash64(Cols.map(col): _*).as("h"))

  def fingerprint(h: DataFrame): (Long, java.math.BigDecimal) = {
    val r = h.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def compare(expected: DataFrame, expFp: (Long, java.math.BigDecimal), got: DataFrame): Counts = {
    val g = hashed(got)
    val fp = fingerprint(g)
    if (fp == expFp) Counts(expFp._1, fp._1, 0, 0, 0, 0, Nil)
    else {
      val byKey = g.groupBy("conv_id", "turn_idx")
        .agg(count(lit(1)).as("n"), min("h").as("hmin"), max("h").as("hmax"))
      val j = expected.join(byKey, Seq("conv_id", "turn_idx"), "full_outer")
        .withColumn("bad",
          when(col("n").isNull, "missing")
            .when(col("h").isNull, "unexpected")
            .when(col("hmin") =!= col("h") || col("hmax") =!= col("h"), "wrong")
            .when(col("n") > 1, "duplicate"))
        .filter(col("bad").isNotNull).cache()
      // failed rows per key: every copy of an unexpected row, every copy
      // past the first of a duplicate, one for a missing or wrong row
      val byKind = j.groupBy("bad")
        .agg(sum(when(col("bad") === "unexpected", col("n"))
          .when(col("bad") === "duplicate", col("n") - 1).otherwise(1L)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val samples = j.orderBy("conv_id", "turn_idx").limit(5).collect()
        .map(r => s"${r.getAs[String]("bad")} ${r.getAs[String]("conv_id")}#${r.getAs[Any]("turn_idx")}").toSeq
      j.unpersist()
      Counts(expFp._1, fp._1, byKind.getOrElse("missing", 0L), byKind.getOrElse("duplicate", 0L),
        byKind.getOrElse("unexpected", 0L), byKind.getOrElse("wrong", 0L), samples)
    }
  }
}
