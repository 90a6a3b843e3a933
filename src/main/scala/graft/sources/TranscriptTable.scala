package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn

/** The engine's transcripts table: an Iceberg-STYLE table realized as
  * bucketed Parquet (no Iceberg runtime jar ships in this sandbox —
  * SURVEY.md §7.0). The layout is what matters at 10^12-turn scale:
  *
  *  - rows are hash-bucketed by `conv_id` into `bucket=K/` directories.
  *    All turns of one conversation live in one bucket, so (a) a keyed
  *    stateful job can process bucket subsets independently, (b) a
  *    point-lookup of one conversation prunes to 1/N of the files via
  *    partition pruning on the `bucket` column, and (c) the streaming
  *    source's per-file micro-batches never split a conversation across
  *    arbitrary many files.
  *  - columnar Parquet at rest gives predicate pushdown + column pruning
  *    for the batch/verify paths; row-typed `Dataset[Turn]` in flight.
  *
  * Swapping in a real Iceberg catalog where the jar exists only changes
  * `write`/`read` bodies; every operator is written against the returned
  * `Dataset[Turn]`.
  */
object TranscriptTable {

  val BucketCol = "bucket"

  def bucketOf(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets))

  def write(ds: Dataset[Turn], dir: String, nBuckets: Int = 32): Unit = {
    ds.withColumn(BucketCol, bucketOf(nBuckets))
      // one file per bucket partition per task batch; repartition by the
      // bucket column so each output file holds whole conversations
      .repartition(col(BucketCol))
      .write
      .mode("overwrite")
      .partitionBy(BucketCol)
      .parquet(dir)
  }

  def read(spark: SparkSession): String => Dataset[Turn] = dir => {
    import spark.implicits._
    spark.read.schema(readSchema).parquet(dir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
  }

  private def readSchema =
    Turn.schema.add(org.apache.spark.sql.types.StructField(
      BucketCol, org.apache.spark.sql.types.IntegerType, nullable = true))

  /** Streaming-ingest layout: files land in EVENT-TIME order (one append per
    * time slice), the way a live Iceberg/stream table actually grows. This
    * matters semantically: the file source's watermark advances with each
    * slice, so a consumer with watermark delay >= slice width never
    * late-drops in-order data. Feeding a key-bucketed HISTORICAL table
    * through the watermarking stream is a misuse (that's the batch path) —
    * every file spans the whole time range and all but the first batch
    * arrives below the watermark.
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
    def rmTree(p: Path): Unit = {
      if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
      Files.deleteIfExists(p)
    }
    rmTree(Paths.get(staged))
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
    * per file. Offsets, the source log and the checkpoint layout do not
    * depend on either. */
  def readStream(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): Dataset[Turn] = {
    import spark.implicits._
    graft.fs.LocalFs.install(spark)
    graft.fs.LocalFs.installDriverListing(spark, dir)
    val r = spark.readStream.schema(readSchema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.parquet(dir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
  }
}
