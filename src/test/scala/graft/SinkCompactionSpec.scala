package graft

import java.nio.file.{Files, Paths}

import graft.sink.ExactlyOnceParquetSink

/** Epoch compaction of the exactly-once sink (round-4 judge stretch):
  * many small per-epoch commits collapse into one generation dir + a
  * high-water marker, the committed VIEW never changes, and redelivery
  * dedup survives the per-epoch markers' deletion. */
class SinkCompactionSpec extends SparkSpec {

  private def addEpochs(sink: ExactlyOnceParquetSink, ids: Range): Unit = {
    import spark.implicits._
    ids.foreach(e => sink.addBatch(
      Seq((e.toLong, s"row-$e")).toDF("id", "payload"), e.toLong))
  }

  private def view(sink: ExactlyOnceParquetSink): Set[(Long, String)] =
    sink.readCommitted(spark).select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("compaction preserves the committed view and shrinks the listing") {
    val dir = tmpDir("graft_compact")
    val sink = new ExactlyOnceParquetSink(dir)
    addEpochs(sink, 0 until 6)
    val before = view(sink)
    assert(before.size == 6)

    sink.compact(spark)
    assert(sink.compactedUpTo().contains(5L))
    assert(view(sink) == before, "compaction must not change the view")
    assert(sink.committedEpochs().isEmpty,
      "covered per-epoch markers must be gone (the listing shrinks)")
    // the per-epoch data dirs are gone too
    assert(!Files.exists(Paths.get(s"$dir/epoch=3")))

    // a REDELIVERED covered epoch is still deduped (committed by
    // definition below the high-water mark) — no duplicate rows appear
    import spark.implicits._
    sink.addBatch(Seq((3L, "row-3-redelivered")).toDF("id", "payload"), 3L)
    assert(view(sink) == before, "redelivered covered epoch must be dropped")

    // the stream continues: new epochs commit as dirs, the view grows
    addEpochs(sink, 6 until 9)
    val grown = view(sink)
    assert(grown.size == 9 && before.subsetOf(grown))

    // second compaction folds the previous generation + the tail
    sink.compact(spark)
    assert(sink.compactedUpTo().contains(8L))
    assert(view(sink) == grown)
    assert(!Files.exists(Paths.get(s"$dir/_gen=5")),
      "the superseded generation must be cleaned up")
  }

  // The two crash points below are built on disk directly, in the sink's
  // layout: `_gen=<U>` (generation data) and `_compacted/<U>` (the mark).

  test("crash after the generation is written, before the mark: nothing changes") {
    import spark.implicits._
    val dir = tmpDir("graft_compact_crash_gen")
    addEpochs(new ExactlyOnceParquetSink(dir), 0 until 4)
    // step 1 died mid-write: a torn generation, no mark
    Seq((99L, "torn", 3L)).toDF("id", "payload", "epoch").write.parquet(s"$dir/_gen=3")

    val sink = new ExactlyOnceParquetSink(dir)
    val want = (0L until 4L).map(e => (e, s"row-$e")).toSet
    assert(sink.compactedUpTo().isEmpty && view(sink) == want)
    assert((0L until 4L).forall(sink.isCommitted) && !sink.isCommitted(4L))
    sink.compact(spark)
    assert(sink.compactedUpTo().contains(3L) && view(sink) == want)
    assert(sink.committedEpochs().isEmpty)
  }

  test("crash partway through cleanup: the view holds and the next compact finishes it") {
    import spark.implicits._
    val dir = tmpDir("graft_compact_crash_cleanup")
    val first = new ExactlyOnceParquetSink(dir)
    addEpochs(first, 0 until 3)
    first.compact(spark) // generation 2
    addEpochs(first, 3 until 6)
    val want = view(first)
    // steps 1 and 2 of the next compaction completed: generation 5 and its mark ...
    first.readCommitted(spark).write.parquet(s"$dir/_gen=5")
    Files.writeString(Paths.get(dir, "_compacted", "5"), "5")
    // ... then cleanup died after deleting epoch dir 3: epoch dirs 4-5,
    // markers 3-5, generation 2 and its mark are left
    graft.fs.Dirs.rmTree(Paths.get(dir, "epoch=3"))

    val sink = new ExactlyOnceParquetSink(dir)
    assert(sink.compactedUpTo().contains(5L) && view(sink) == want)
    // redelivered covered epochs are dropped, with and without their data
    sink.addBatch(Seq((3L, "row-3-redelivered")).toDF("id", "payload"), 3L)
    sink.addBatch(Seq((5L, "row-5-redelivered")).toDF("id", "payload"), 5L)
    assert(view(sink) == want)

    sink.compact(spark)
    assert(sink.compactedUpTo().contains(5L) && view(sink) == want)
    assert(sink.committedEpochs().isEmpty, "leftover covered markers are deleted")
    assert((0 until 6).forall(e => !Files.exists(Paths.get(dir, s"epoch=$e"))),
      "leftover covered epoch dirs are deleted")
    assert(!Files.exists(Paths.get(dir, "_gen=2")) && !Files.exists(Paths.get(dir, "_compacted", "2")),
      "the superseded generation and its mark are deleted")
    assert(Files.exists(Paths.get(dir, "_gen=5")))
  }

  test("compact on an epoch-less sink is a no-op; empty tail is a no-op") {
    val dir = tmpDir("graft_compact_empty")
    val sink = new ExactlyOnceParquetSink(dir)
    sink.compact(spark) // nothing committed: must not throw or write
    assert(sink.compactedUpTo().isEmpty)
    addEpochs(sink, 0 until 2)
    sink.compact(spark)
    val v = view(sink)
    sink.compact(spark) // empty tail after compaction: no-op
    assert(sink.compactedUpTo().contains(1L) && view(sink) == v)
  }
}
