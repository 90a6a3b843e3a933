import io
import os
import sys
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


if __name__ == "__main__":
    unittest.main()
