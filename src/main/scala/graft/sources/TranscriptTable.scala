package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn

/** The engine's transcripts table: Parquet files in a time-sliced layout
  * (`writeTimeSliced`), read as a batch table (`read`) or a file stream
  * (`readStream`). An Iceberg-STYLE table without the Iceberg runtime jar
  * (SURVEY.md §7.0):
  *
  *  - files land in event-time order, one append per time slice, the way a
  *    live table grows, so a watermarking stream over them never
  *    late-drops in-order data;
  *  - within a slice, rows are hash-split by `conv_id` into
  *    `filesPerSlice` files, which bounds the file count (micro-batch
  *    admission is per file) and keeps each conversation's turns of one
  *    slice in one file;
  *  - columnar Parquet at rest gives predicate pushdown + column pruning
  *    for the batch/verify paths; row-typed `Dataset[Turn]` in flight.
  *
  * Swapping in a real Iceberg catalog where the jar exists only changes
  * these bodies; every operator is written against the returned
  * `Dataset[Turn]`.
  */
object TranscriptTable {

  def read(spark: SparkSession): String => Dataset[Turn] = dir => {
    import spark.implicits._
    spark.read.schema(Turn.schema).parquet(dir).as[Turn]
  }

  /** The table's layout: files land in EVENT-TIME order (one append per
    * time slice), the way a live Iceberg/stream table actually grows. This
    * matters semantically: the file source's watermark advances with each
    * slice, so a consumer with watermark delay >= slice width never
    * late-drops in-order data. Files bucketed by key instead each span the
    * whole time range, so through a watermarking stream all but the first
    * batch would arrive below the watermark.
    */
  def writeTimeSliced(ds: Dataset[Turn], dir: String, sliceMinutes: Int = 30,
                      filesPerSlice: Int = 2): Int = {
    import java.nio.file.{Files, Path, Paths}
    val width = sliceMinutes * 60L
    val staged = dir.stripSuffix("/") + "__staged"
    // ONE pass: tag each turn with its slice, co-locate (slice, file-bucket)
    // and write everything partitioned by slice. filesPerSlice bounds the
    // file count per slice: micro-batch admission is per FILE, so
    // one-file-per-partition would explode the trigger count (and pay
    // per-partition state-store open/commit on every tiny batch).
    ds.withColumn("slice", floor(unix_timestamp(col("ts")) / width))
      .repartition(col("slice"), pmod(xxhash64(col("conv_id")), lit(filesPerSlice)))
      .write.mode("overwrite").partitionBy("slice").parquet(staged)
    // move slice files into the stream dir with strictly increasing mtimes
    // (the file source orders arrival by modification time) — this is the
    // sandbox stand-in for files landing over time in a live table
    Files.createDirectories(Paths.get(dir))
    def listDir(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val sliceDirs = listDir(Paths.get(staged))
      .filter(_.getFileName.toString.startsWith("slice="))
      .sortBy(p => p.getFileName.toString.stripPrefix("slice=").toLong)
    val t0 = System.currentTimeMillis() - (sliceDirs.size + 10) * 1000L
    sliceDirs.zipWithIndex.foreach { case (sd, k) =>
      listDir(sd)
        .filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
          val dst = Paths.get(dir, f"slice$k%05d_${f.getFileName.toString}")
          Files.move(f, dst)
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000L))
        }
    }
    graft.fs.Dirs.rmTree(Paths.get(staged))
    sliceDirs.size
  }

  /** Streaming read. `maxFilesPerTrigger` is the admission-control knob that
    * plays the role of the reference's adaptive batch sizing / bounded queues
    * (`/root/reference/src/reflow/internal/worker.py:108-132`,
    * `flow_engine.py:18`): it bounds per-micro-batch intake so state and
    * shuffle stay memory-resident at any scale.
    *
    * Installs, each set-if-absent, the in-process `file:` checkpoint
    * filesystem (`LocalFs.install`) and, when `dir` is local, driver-side
    * listing of every micro-batch's files (`LocalFs.installDriverListing`),
    * so a bulk batch of more than 32 files runs no listing job of one task
    * per file, and, for a session without artifacts, generated code shared
    * across its streaming queries (`SharedCodegen.install`). Offsets, the
    * source log and the checkpoint layout depend on none of them. */
  def readStream(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): Dataset[Turn] = {
    import spark.implicits._
    graft.fs.LocalFs.install(spark)
    graft.fs.LocalFs.installDriverListing(spark, dir)
    graft.flow.SharedCodegen.install(spark)
    val r = spark.readStream.schema(Turn.schema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.parquet(dir).as[Turn]
  }
}
