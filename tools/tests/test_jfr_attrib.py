import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import jfr_attrib  # noqa: E402


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}}


def event(kind, thread, frames, **values):
    return {"type": kind, "values": dict(values, eventThread={"javaName": thread},
                                         stackTrace={"frames": frames})}


FORK = [frame("java/lang/ProcessBuilder", "start"),
        frame("org/apache/hadoop/util/Shell", "runCommand"),
        frame("org/apache/hadoop/fs/FileUtil", "readLink"),
        frame("org/apache/hadoop/fs/RawLocalFileSystem", "getFileLinkStatus")]
AWAIT = [frame("jdk/internal/misc/Unsafe", "park"),
         frame("scala/concurrent/impl/Promise$DefaultPromise", "tryAwait0"),
         frame("org/apache/spark/util/SparkThreadUtils$", "awaitResult"),
         frame("org/apache/spark/sql/execution/streaming/checkpointing/"
               "ChecksumCheckpointFileManager$", "awaitResult")]


class JfrAttribTest(unittest.TestCase):

    def test_seconds_of(self):
        self.assertAlmostEqual(jfr_attrib.seconds_of("PT0.0125S"), 0.0125)
        self.assertAlmostEqual(jfr_attrib.seconds_of("PT1M2.5S"), 62.5)
        self.assertAlmostEqual(jfr_attrib.seconds_of("PT1H"), 3600)
        self.assertEqual(jfr_attrib.seconds_of(None), 0.0)

    def test_thread_group(self):
        self.assertEqual(jfr_attrib.thread_group("ChecksumCheckpointFileManager-Thread-12"),
                         "ChecksumCheckpointFileManager-Thread-#")
        self.assertEqual(jfr_attrib.thread_group("stream execution thread for [id = 3a, x = 9]"),
                         "stream execution thread for [...]")

    def test_summarize_skips_jdk_frames_and_non_task_parks(self):
        events = [
            event("jdk.ProcessStart", "ChecksumCheckpointFileManager-Thread-1", FORK,
                  command="readlink /a"),
            event("jdk.ProcessStart", "ChecksumCheckpointFileManager-Thread-2", FORK,
                  command="readlink /b"),
            event("jdk.ProcessStart", "main", [frame("java/lang/ProcessBuilder", "start")],
                  command="/usr/bin/getconf PAGESIZE"),
            event("jdk.ThreadPark", "Executor task launch worker for task 0.0", AWAIT,
                  duration="PT0.5S"),
            event("jdk.ThreadPark", "Executor task launch worker for task 1.0", AWAIT,
                  duration="PT0.25S"),
            event("jdk.ThreadPark", "driver-heartbeater", AWAIT, duration="PT9S"),
        ]
        s = jfr_attrib.summarize(events, depth=2)
        self.assertEqual(s["forks"], 3)
        self.assertEqual(s["forks_by_command"], {"readlink": 2, "getconf": 1})
        self.assertEqual(s["forks_by_thread"]["ChecksumCheckpointFileManager-Thread-#"], 2)
        self.assertEqual(s["forks_by_stack"][(
            "org.apache.hadoop.fs.FileUtil.readLink",
            "org.apache.hadoop.fs.RawLocalFileSystem.getFileLinkStatus")], 2)
        self.assertEqual(s["forks_by_stack"][("(JDK frames only)",)], 1)
        key = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "ChecksumCheckpointFileManager$.awaitResult",)
        self.assertEqual(dict(s["task_park_s"]), {key: 0.75})
        self.assertEqual(s["task_park_n"][key], 2)
        out = io.StringIO()
        jfr_attrib.report(s, top=5, out=out)
        self.assertIn("process starts: 3", out.getvalue())
        self.assertIn("task-thread park: 0.8 s in 2 parks", out.getvalue())


DESER = [frame("org/apache/hadoop/conf/Configuration", "readFields"),
         frame("org/apache/spark/util/SerializableConfiguration", "readObject"),
         frame("java/io/ObjectInputStream", "readObject"),
         frame("org/apache/spark/serializer/JavaSerializerInstance", "deserialize"),
         frame("org/apache/spark/scheduler/ResultTask", "runTask"),
         frame("org/apache/spark/scheduler/Task", "run")]
WRITE = [frame("java/util/HashMap", "put"),
         frame("org/apache/hadoop/mapred/JobConf", "<init>"),
         frame("org/apache/spark/sql/execution/datasources/FileFormatWriter$", "executeTask"),
         frame("org/apache/spark/scheduler/ResultTask", "runTask")]
# a deserialize NOT under runTask (e.g. a fetched shuffle block) does not count
FETCH = [frame("java/io/ObjectInputStream", "readObject"),
         frame("org/apache/spark/serializer/JavaSerializerInstance", "deserialize"),
         frame("org/apache/spark/storage/BlockManager", "getRemoteValues")]
MAP_DESER = [frame("org/apache/spark/serializer/JavaSerializerInstance", "deserialize"),
             frame("org/apache/spark/scheduler/ShuffleMapTask", "runTask")]

TEXT = """\
jdk.ExecutionSample {
  startTime = 18:53:27.123
  sampledThread = "Executor task launch worker for task 3.0 in stage 1.0 (TID 7)" (javaThreadId = 80)
  state = "STATE_RUNNABLE"
  stackTrace = [
    org.apache.hadoop.conf.Configuration.readFields(DataInput) line: 3912
    org.apache.spark.serializer.JavaSerializerInstance.deserialize(ByteBuffer, ClassLoader, ClassTag) line: 123
    org.apache.spark.scheduler.ResultTask.runTask(TaskContext) line: 85
    ...
  ]
}

jdk.ExecutionSample {
  startTime = 18:53:27.133
  sampledThread = "main" (javaThreadId = 1)
  state = "STATE_RUNNABLE"
  stackTrace = [
    java.lang.Thread.sleep(long)
  ]
}
"""


def sample(thread, frames):
    return {"type": "jdk.ExecutionSample",
            "values": {"sampledThread": {"javaName": thread}, "stackTrace": {"frames": frames}}}


class CpuSamplesTest(unittest.TestCase):

    def test_summarize_cpu_counts_task_threads_and_deserialization(self):
        task = "Executor task launch worker for task %d.0"
        samples = ([sample(task % i, DESER) for i in range(3)] +
                   [sample(task % 9, MAP_DESER)] +
                   [sample(task % 4, WRITE)] * 2 +
                   [sample(task % 5, FETCH)] +
                   [sample("stream execution thread", DESER)] * 5)
        c = jfr_attrib.summarize_cpu(samples)
        self.assertEqual(c["task_samples"], 7)
        self.assertEqual(dict(c["deserialize"]), {"ResultTask": 3, "ShuffleMapTask": 1})
        self.assertEqual(c["by_top_frame"]["org.apache.hadoop.conf.Configuration.readFields"], 3)
        self.assertEqual(c["by_top_frame"]["org.apache.hadoop.mapred.JobConf.<init>"], 2)
        self.assertEqual(c["by_top_frame"][
            "org.apache.spark.serializer.JavaSerializerInstance.deserialize"], 2)
        out = io.StringIO()
        jfr_attrib.report_cpu(c, top=5, out=out)
        self.assertIn("under task-binary deserialization: 4 (57.1%), ResultTask 3, "
                      "ShuffleMapTask 1", out.getvalue())

    def test_parse_samples_reads_jfr_print_text(self):
        got = list(jfr_attrib.parse_samples(io.StringIO(TEXT)))
        self.assertEqual(len(got), 2)
        v = got[0]["values"]
        self.assertEqual(v["sampledThread"]["javaName"],
                         "Executor task launch worker for task 3.0 in stage 1.0 (TID 7)")
        self.assertTrue(v["stackTrace"]["truncated"])
        self.assertEqual(jfr_attrib.frame_names(got[0]), [
            "org.apache.hadoop.conf.Configuration.readFields",
            "org.apache.spark.serializer.JavaSerializerInstance.deserialize",
            "org.apache.spark.scheduler.ResultTask.runTask"])
        self.assertEqual(jfr_attrib.deserializing(jfr_attrib.frame_names(got[0])), "ResultTask")
        self.assertFalse(got[1]["values"]["stackTrace"]["truncated"])
        c = jfr_attrib.summarize_cpu(got)
        self.assertEqual((c["task_samples"], c["truncated"]), (1, 1))

    def test_truncated_deserialization_is_counted_apart(self):
        cut = sample("Executor task launch worker for task 1.0", DESER[:3])
        cut["values"]["stackTrace"]["truncated"] = True
        whole = sample("Executor task launch worker for task 2.0", DESER[:3])
        c = jfr_attrib.summarize_cpu([cut, whole])
        self.assertEqual(dict(c["deserialize"]), {})
        self.assertEqual(c["truncated_deserialize"], 1)


# 2026-10-18T02:00:00Z
T0 = 1792288800000
SCAN = [frame("org/apache/spark/sql/execution/streaming/runtime/EventTimeWatermarkExec", "x"),
        frame("org/apache/spark/scheduler/ShuffleMapTask", "runTask")]
STATE = [frame("org/apache/spark/sql/execution/streaming/state/RocksDB", "put"),
         frame("org/apache/spark/scheduler/ResultTask", "runTask")]


def at(event, ms, key="startTime"):
    """`event` stamped T0 + ms the way `jfr print` text output stamps samples."""
    t = (T0 + ms) % jfr_attrib.DAY_MS
    event["values"][key] = "%02d:%02d:%02d.%03d" % (t // 3600000, t // 60000 % 60,
                                                   t // 1000 % 60, t % 1000)
    return event


class LegSplitTest(unittest.TestCase):

    def events_file(self, rows):
        fd, path = tempfile.mkstemp(suffix=".jsonl")
        with os.fdopen(fd, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        self.addCleanup(os.unlink, path)
        return path

    def test_epoch_ms(self):
        self.assertEqual(jfr_attrib.epoch_ms("2026-10-18T02:00:00.250999999Z", 0), T0 + 250)
        self.assertEqual(jfr_attrib.epoch_ms("02:00:01.5", T0), T0 + 1500)
        # a time of day just after midnight belongs to the day after a
        # reference just before it, and the reverse
        self.assertEqual(jfr_attrib.epoch_ms("00:00:00.100", T0 - 2 * 3600000 - 100),
                         T0 - 2 * 3600000 + 100)
        self.assertEqual(jfr_attrib.epoch_ms("23:59:59.900", T0 - 2 * 3600000 + 100),
                         T0 - 2 * 3600000 - 100)
        self.assertIsNone(jfr_attrib.epoch_ms(None, T0))

    def test_load_legs_reads_drain_windows(self):
        path = self.events_file([
            {"kind": "setup", "seconds": 3.0},
            {"kind": "drain", "tag": "c1-0", "leg": "c1", "pass": 0, "traced": False,
             "start": T0 + 5000, "end": T0 + 6000},
            {"kind": "drain", "tag": "warm", "leg": "warm", "pass": -1, "traced": False,
             "start": T0, "end": T0 + 1000},
            {"kind": "drain", "tag": "cores-1-0", "leg": "cores", "pass": 1, "traced": True,
             "start": T0 + 7000, "end": T0 + 8000},
            {"kind": "batch", "tag": "warm", "start": T0, "end": T0 + 10},
        ])
        legs = jfr_attrib.load_legs(path)
        self.assertEqual(legs, [(T0, T0 + 1000, "warm"), (T0 + 5000, T0 + 6000, "c1"),
                                (T0 + 7000, T0 + 8000, "cores traced")])
        self.assertEqual(jfr_attrib.leg_at(legs, T0 + 5500), "c1")
        self.assertEqual(jfr_attrib.leg_at(legs, T0 + 3000), "rest")

    def test_split_by_leg_and_task_type(self):
        legs = [(T0, T0 + 1000, "warm"), (T0 + 2000, T0 + 4000, "cores"),
                (T0 + 5000, T0 + 6000, "c1")]
        task = "Executor task launch worker for task %d.0"
        cut = sample(task % 8, DESER[:3])
        cut["values"]["stackTrace"]["truncated"] = True
        deep = sample(task % 9, [frame("org/rocksdb/RocksDB", "get")])
        deep["values"]["stackTrace"]["truncated"] = True
        samples = ([at(sample(task % 1, SCAN), 500)] +
                   [at(sample(task % 2, SCAN), 2000 + i) for i in range(3)] +
                   [at(sample(task % 3, STATE), 3999)] +
                   [at(cut, 3000), at(deep, 3001)] +
                   [at(sample(task % 4, MAP_DESER), 5500)] +
                   [at(sample(task % 5, WRITE), 4500)] +
                   [at(sample("stream execution thread", SCAN), 2500)])
        c = jfr_attrib.summarize_cpu(samples, legs)
        self.assertEqual(c["task_samples"], 9)
        self.assertEqual(c["truncated_deserialize"], 1)
        by = c["by_leg"]
        self.assertEqual((by["warm", "ShuffleMapTask"], by["warm", "ResultTask"]), (1, 0))
        self.assertEqual((by["cores", "ShuffleMapTask"], by["cores", "ResultTask"],
                          by["cores", "truncated"]), (3, 1, 2))
        self.assertEqual(dict(c["truncated_deserialize_by_leg"]),
                         {"warm": 0, "cores": 1, "c1": 0, "rest": 0})
        self.assertEqual(by["c1", "ShuffleMapTask"], 1)
        self.assertEqual(by["rest", "ResultTask"], 1)

        parks = [at(event("jdk.ThreadPark", task % 1, AWAIT, duration="PT0.5S"), 2500),
                 at(event("jdk.ThreadPark", task % 2, AWAIT, duration="PT0.25S"), 9000),
                 at(event("jdk.ThreadPark", "driver-heartbeater", AWAIT, duration="PT9S"), 2500),
                 # an idle pool thread waiting for a task
                 at(event("jdk.ThreadPark", task % 3, AWAIT[:2], duration="PT4S"), 2500)]
        s = jfr_attrib.summarize(parks, depth=2, legs=legs)
        self.assertEqual(dict(s["task_park_s_by_leg"]), {"cores": 0.5, "rest": 0.25})

        out = io.StringIO()
        jfr_attrib.report_legs(c, s, out=out)
        rows = [r.split() for r in out.getvalue().splitlines()[2:]]
        self.assertEqual([r[0] for r in rows], ["warm", "cores", "c1", "rest"])
        # cores: 6 samples of 9; 3 map, 1 result, 2 cut (1 of them in
        # ObjectInputStream), none compiling, 0.5 s parked, no deopts
        self.assertEqual(rows[1], ["cores", "6", "66.7%", "50.0%", "16.7%", "33.3%", "16.7%",
                                   "0.0%", "0.5", "0"])
        self.assertEqual(rows[3][-2], "0.2")

    def test_compile_and_deopt_split_by_leg(self):
        legs = [(T0, T0 + 1000, "warm"), (T0 + 2000, T0 + 4000, "cores")]
        task = "Executor task launch worker for task %d.0"
        janino = [frame("org/codehaus/janino/UnitCompiler", "compileUnit"),
                  frame("org/codehaus/commons/compiler/util/AbstractCompiler", "cook"),
                  frame("org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator$",
                        "doCompile"),
                  frame("org/apache/spark/sql/execution/WholeStageCodegenExec", "doExecute"),
                  frame("org/apache/spark/scheduler/ShuffleMapTask", "runTask")]
        # janino recursing past the 64-frame cut: janino frames only
        cut = sample(task % 7, janino[:1] * 3)
        cut["values"]["stackTrace"]["truncated"] = True
        samples = ([at(sample(task % 1, janino), 100 + i) for i in range(3)] +
                   [at(sample(task % 2, SCAN), 500)] +
                   [at(cut, 2100), at(sample(task % 3, STATE), 2200)] +
                   # a CodeGenerator frame that is not doCompile (a cache hit)
                   [at(sample(task % 4, [frame(
                       "org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator$",
                       "compile")] + STATE), 2300)] +
                   [at(sample("stream execution thread", janino), 2400)])
        c = jfr_attrib.summarize_cpu(samples, legs)
        self.assertEqual(c["task_samples"], 7)
        self.assertEqual(c["compile"], 4)
        self.assertEqual(dict(c["compile_by_leg"]), {"warm": 3, "cores": 1})

        deopt = lambda ms, reason: at({"type": "jdk.Deoptimization", "values": {
            "reason": reason, "eventThread": {"javaName": "driver"}}}, ms)
        s = jfr_attrib.summarize([deopt(200, "unstable_if"), deopt(2500, "class_check"),
                                  deopt(2600, "unstable_if"), deopt(9000, "null_check")],
                                 depth=2, legs=legs)
        self.assertEqual(dict(s["deopts_by_leg"]), {"warm": 1, "cores": 2, "rest": 1})
        self.assertEqual(s["deopts_by_reason"]["unstable_if"], 2)

        out = io.StringIO()
        jfr_attrib.report_cpu(c, top=3, out=out)
        self.assertIn("compiling generated code (CodeGenerator.doCompile, janino): 4 (57.1%)",
                      out.getvalue())
        out = io.StringIO()
        jfr_attrib.report(s, top=3, out=out)
        self.assertIn("deoptimizations: 4", out.getvalue())
        out = io.StringIO()
        jfr_attrib.report_legs(c, s, out=out)
        rows = {r.split()[0]: r.split() for r in out.getvalue().splitlines()[2:]}
        self.assertEqual((rows["warm"][7], rows["warm"][9]), ("75.0%", "1"))
        self.assertEqual((rows["cores"][7], rows["cores"][9]), ("33.3%", "2"))
        self.assertEqual(rows["rest"][9], "1")


if __name__ == "__main__":
    unittest.main()
