package graft.sink

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, HDFSMetadataLog}

import graft.fs.LocalFs

/** Exactly-once table sink without an Iceberg runtime (SURVEY.md §7.3).
  *
  * Semantics re-created from the reference's delivery contract: a sink may
  * see the same events again after a partial ack / retry, and redelivery
  * must be invisible downstream (`/root/reference/src/reflow/internal/
  * worker.py:158-175`, `edge_router.py:138-154`). Spark's micro-batch model
  * turns that per-event contract into a per-epoch one: `foreachBatch` may
  * re-invoke an epoch after a failure, so the sink must be IDEMPOTENT BY
  * EPOCH ID. We write each epoch to its own directory, then commit it as
  * `_commits/<N>` (bytes `epoch=N`); a re-delivered epoch already there
  * is skipped, and an epoch that died mid-write is fully overwritten on
  * retry. Readers see exactly the committed epochs. `_commits` and the
  * compaction marks `_compacted/<U>` are Spark `HDFSMetadataLog`s built
  * from the active session: their `CheckpointFileManager` adds an entry
  * atomically on any Hadoop filesystem, on `file:` through
  * [[graft.fs.LocalFs]] (no fork).
  *
  * An epoch is written by at most `defaultParallelism` tasks (one per
  * core), not one per state partition: `coalesce` narrows without a
  * shuffle, so the state partitions run back to back inside each task.
  * Every write task pays ~25 ms of CPU deserializing its task, mostly the
  * write job's Hadoop conf, so with small micro-batches the task count,
  * not the rows, sets the epoch's cost. On `file:` the write job uses
  * [[graft.fs.LocalFileSystem]], which creates files and dirs without
  * forking a `chmod` per file.
  */
class ExactlyOnceParquetSink(val dir: String) extends Serializable {

  private def epochDir(epochId: Long) = s"$dir/epoch=$epochId"
  private def genDir(upTo: Long) = s"$dir/_gen=$upTo"
  private def compactedDir = new Path(dir, "_compacted")

  // Built once per instance, never per epoch: a log's constructor copies
  // the session's whole Hadoop conf and creates its directory, so
  // `compactions` waits for its directory (reading a sink writes nothing).
  @transient private lazy val commits = {
    LocalFs.install(SparkSession.active) // both logs resolve file: through it
    new MarkerLog(s"$dir/_commits")
  }
  @transient private lazy val compactions = new MarkerLog(compactedDir.toString)

  /** High-water mark of the last compaction: every epoch <= this lives in
    * the generation dir, its per-epoch dir and marker deleted. */
  def compactedUpTo(): Option[Long] =
    if (commits.fm.exists(compactedDir)) compactions.getLatestBatchId() else None

  /** An epoch at or below the compaction mark is committed BY DEFINITION:
    * micro-batches commit sequentially (epoch N+1 never starts before N's
    * marker landed), so compaction can only ever cover committed epochs —
    * which lets it delete their markers and keep the `_commits` listing
    * O(epochs since last compaction) instead of O(stream lifetime). */
  def isCommitted(epochId: Long): Boolean =
    compactedUpTo().exists(epochId <= _) || commits.get(epochId).isDefined

  /** The foreachBatch body. Safe to call repeatedly with the same epochId. */
  def addBatch(df: DataFrame, epochId: Long): Unit = {
    if (isCommitted(epochId)) {
      // redelivered epoch: drop the rows (dedup) — but still consume every
      // partition so upstream stateful operators commit their state stores
      // (Spark validates that foreachBatch processed the whole DataFrame)
      df.foreach(_ => ())
      return
    }
    // overwrite handles a torn previous attempt of this same epoch; only
    // this call adds `epochId`, so the log's no-overwrite add never races
    write(df, epochDir(epochId))
    commits.add(epochId, s"epoch=$epochId")
  }

  /** Every parquet write of the sink (epochs and generations): one task
    * per core, in-process `file:` permissions. Overwrites `path`. */
  private def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    df.coalesce(spark.sparkContext.defaultParallelism).write.mode("overwrite")
      .options(LocalFs.writerOptions(spark)).parquet(path)
  }

  def committedEpochs(): Seq[Long] = commits.batches

  /** Read back exactly the committed epochs (uncommitted dirs invisible):
    * the compacted generation, if any, plus every epoch committed since. */
  def readCommitted(spark: SparkSession): DataFrame = {
    val (upTo, tail) = markAndTail()
    require(upTo.isDefined || tail.nonEmpty, s"no committed epochs under $dir")
    read(spark, upTo, tail)
  }

  private def markAndTail(): (Option[Long], Seq[Long]) = {
    val upTo = compactedUpTo()
    (upTo, committedEpochs().filter(e => upTo.forall(e > _)))
  }

  /** Generation `upTo`, if any, unioned with the epoch dirs of `tail`. */
  private def read(spark: SparkSession, upTo: Option[Long], tail: Seq[Long]): DataFrame = {
    val gen = upTo.map(g => spark.read.parquet(genDir(g)))
    val epochs = if (tail.isEmpty) None
      else Some(spark.read.option("basePath", dir).parquet(tail.map(epochDir): _*))
    (gen ++ epochs).reduce(_.unionByName(_))
  }

  /** Compact the committed epochs into ONE generation dir: a long-running
    * stream commits one directory + one marker per micro-batch, and the
    * read-back's listing grows with them — the reason Iceberg/Delta
    * rewrite manifests. Protocol, crash-safe at every step:
    *
    *  1. write all currently-committed rows (previous generation + epoch
    *     dirs) to a NEW `_gen=<upTo>` dir — invisible to readers until...
    *  2. ...`<upTo>` is added to the compaction log (a crash before that
    *     leaves an orphan gen dir; readers still see the old view, and
    *     re-running compact overwrites it);
    *  3. covered epoch dirs, their markers, superseded generations and
    *     their marks are deleted, in that order — `isCommitted` answers
    *     epochs <= upTo from the mark alone, and a crash leaves only what
    *     a log entry still names, for the next `compact` to delete.
    *
    * Safe to run WHILE the stream is live (e.g. from a maintenance thread):
    * epochs committing after step 1's listing stay as epoch dirs until the
    * next compaction. */
  def compact(spark: SparkSession): Unit = {
    val (upTo0, tail) = markAndTail()
    if (tail.nonEmpty) {
      val newUpTo = tail.max
      write(read(spark, upTo0, tail), genDir(newUpTo)) // step 1
      compactions.add(newUpTo, newUpTo.toString) // step 2: the flip
    }
    // step 3, best effort: whatever the latest generation covers
    compactedUpTo().foreach { upTo =>
      committedEpochs().filter(_ <= upTo).foreach(e => commits.fm.delete(new Path(epochDir(e))))
      commits.purge(upTo + 1)
      compactions.batches.filter(_ < upTo).foreach(g => commits.fm.delete(new Path(genDir(g))))
      compactions.purge(upTo)
    }
  }
}

/** An `HDFSMetadataLog` over the active session whose entries are plain
  * UTF-8 text, not Spark's JSON, so `_commits/<N>` keeps the bytes
  * `epoch=N` that the sink wrote before it used the log. */
private class MarkerLog(path: String) extends HDFSMetadataLog[String](SparkSession.active, path) {
  override protected def serialize(text: String, out: OutputStream): Unit =
    out.write(text.getBytes(UTF_8))
  override protected def deserialize(in: InputStream): String =
    new String(in.readAllBytes(), UTF_8)
  def batches: Seq[Long] = listBatches.toSeq
  def fm: CheckpointFileManager = fileManager
}
