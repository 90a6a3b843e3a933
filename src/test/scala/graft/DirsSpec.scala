package graft

import java.nio.file.{Files, Paths}

import graft.fs.Dirs

/** `Dirs.scratchFor` places a query's own files under the session's
  * `spark.local.dir` conf key (first entry), else under `java.io.tmpdir`. */
class DirsSpec extends SparkSpec {

  test("scratchFor: first spark.local.dir entry, else java.io.tmpdir") {
    val base = tmpDir("graft_dirs")
    try {
      val s = spark.newSession()
      s.sessionState.conf.setConfString("spark.local.dir", s"$base/a, $base/b")
      val d = Paths.get(Dirs.scratchFor(s, "probe"))
      assert(Files.isDirectory(d) && d.getParent == Paths.get(s"$base/a"), d)
      assert(d.getFileName.toString.startsWith("graft_probe_"), d)
      assert(Dirs.scratchFor(s, "probe") != d.toString) // a fresh one per call

      s.sessionState.conf.unsetConf("spark.local.dir")
      val t = Paths.get(Dirs.scratchFor(s, "probe"))
      try assert(t.getParent == Paths.get(System.getProperty("java.io.tmpdir")), t)
      finally Dirs.rmTree(t)
    } finally Dirs.rmTree(Paths.get(base))
  }
}
