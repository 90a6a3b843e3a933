package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.flow.FlowSource
import graft.metrics.ProgressMetrics
import graft.model.Turn
import graft.state.{AutomatonRunner, Handlers}

/** Live event-to-emit latency measurement (BASELINE.json metric leg).
  *
  * Unlike the throughput bench (AvailableNow replay of a pre-written
  * table, where "latency" can only mean trigger duration), this drives a
  * LIVE stream: a writer appends a file slice of turns stamped with
  * wall-clock `ts` every tick while the full CEP pipeline (file source ->
  * watermark -> keyed ordered automaton -> sink) runs on a short
  * ProcessingTime trigger. Event-to-emit latency per row = emit wall time
  * minus the row's `ts` (== its append time); p50/p99 over all emitted
  * rows in steady state. The job runs on the streaming preset
  * (`Sessions.streaming`: 32 shuffle/state partitions, 16m scan split),
  * the same job Bench's scaling legs and perfbench measure.
  */
object LatencyBench {

  private val Ticks = 30
  private val ConvsPerTick = 400

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    graft.fs.Dirs.withScratch("graft_lat") { work =>
      val spark = Sessions.streaming(cpus, s"$work/spark_local")
      try run(spark, work, cpus) finally spark.stop()
    }
  }

  private def run(spark: SparkSession, work: String, cpus: Int): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val in = s"$work/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))

    // emitted-row latencies (ms), collected per micro-batch on the driver
    val latencies = ArrayBuffer.empty[Long]
    val result = AutomatonRunner.runStreaming(
      FlowSource.stream(spark, in, maxFilesPerTrigger = None),
      Handlers.ChangeDetector, watermarkDelay = "30 seconds",
      idleGapMs = 60 * 1000L)
    val q = result.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$work/ck")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.model.LabeledTurn], _: Long) =>
        val rows = df.select(col("ts")).collect()
        val now = System.currentTimeMillis()
        latencies.synchronized {
          rows.foreach(r => latencies += now - r.getTimestamp(0).getTime)
        }
        ()
      }
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .start()

    // live writer: each tick appends one parquet slice; conversations span
    // ~3 ticks so keyed state is genuinely exercised across batches
    val turnsPerConv = 12
    val ticksPerConv = 3
    val perTick = turnsPerConv / ticksPerConv
    var tick = 0
    while (tick < Ticks) {
      val now = System.currentTimeMillis()
      val rows = (0 until ConvsPerTick).flatMap { c =>
        val convNum = (tick / ticksPerConv) * ConvsPerTick + c
        val phase = tick % ticksPerConv
        (0 until perTick).map { i =>
          val idx = phase * perTick + i
          Turn(f"live-$convNum%08d", idx, "user",
            f"live turn temp=${96 + (idx % 5)}%d.0", "", new Timestamp(now))
        }
      }
      spark.createDataset(rows).coalesce(1)
        .write.mode("append").parquet(in)
      Thread.sleep(1000)
      tick += 1
    }
    // drain: two far-future sentinels, let the query pick them up
    TranscriptQueries.appendSentinel(spark, in)
    Thread.sleep(4000)
    q.processAllAvailable()
    q.stop()

    val all = latencies.synchronized(latencies.toArray.map(_.toDouble))
    // collected ~chronologically (per batch): drop the first 15% as JVM/
    // stream warmup; a production stream runs in the steady regime
    val steady = all.drop((all.length * 0.15).toInt).sorted
    val lats = all.sorted
    def pct(xs: Array[Double], p: Double) =
      if (xs.isEmpty) Double.NaN
      else xs(math.min(xs.length - 1, math.ceil(p * xs.length).toInt - 1).max(0))
    println(s"""{"metric":"event_to_emit_ms","rows":${lats.length},""" +
      s""""p50":${pct(lats, 0.5)},"p90":${pct(lats, 0.9)},"p99":${pct(lats, 0.99)},""" +
      s""""steady_p50":${pct(steady, 0.5)},"steady_p99":${pct(steady, 0.99)},""" +
      s""""max":${if (lats.isEmpty) -1 else lats.last},"cpus":$cpus}""")
  }
}
