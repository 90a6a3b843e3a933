package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1.4): per-query
  * noop-sink timing OUTSIDE the frozen driver bench, with optional
  * formatted-plan capture. Runs on Bench's batch-leg session
  * (`Sessions.batch` at local[$SPARK_GRAFT_CPUS], /dev/shm scratch) so
  * numbers here are comparable to the driver's.
  *
  *   sbt "runMain graft.BenchExtra [-explain <outDir>] [-passes N] <name>…"
  *
  * Each query is materialized through the noop sink (computes every
  * column of every row — count() would let the optimizer prune), run
  * `passes` times (default 3) after one untimed warm pass; min and all
  * samples are printed (host noise only ever slows a pass). A query that
  * throws prints `[bx] <name> FAILED: <msg>` instead; fatal errors abort.
  * This is the one dev timing main: pair it with Verify's
  * SPARK_GRAFT_VERIFY_ONLY subset loop for correctness.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val explainDir = args.sliding(2).collectFirst {
      case Array("-explain", d) => d }
    val passes = args.sliding(2).collectFirst {
      case Array("-passes", n) => n.toInt }.getOrElse(3)
    val names0 = {
      var skip = false
      args.toSeq.filter { a =>
        if (skip) { skip = false; false }
        else if (a == "-explain" || a == "-passes") { skip = true; false }
        else true
      }
    }
    val qmap = SparkEntry.queries
    val names = if (names0.nonEmpty) names0 else qmap.keys.toSeq.sorted

    graft.fs.Dirs.withScratch("graft_bx") { work =>
      val spark = Sessions.batch(cpus, s"$work/spark_local")
      try timeAll(spark, sfDir, names, passes, explainDir)
      finally spark.stop()
    }
  }

  private def timeAll(spark: SparkSession, sfDir: String,
      names: Seq[String], passes: Int, explainDir: Option[String]): Unit = {
    val qmap = SparkEntry.queries
    // warm codegen/IO like Bench does
    try qmap("q01_agg_pricing")(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    catch { case NonFatal(e) => System.err.println(s"[bx] warm-up FAILED: ${e.getMessage}") }

    names.foreach { name =>
      val fn = qmap.getOrElse(name, sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(s"bx:$name")
      def once: Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // a failed query prints FAILED and no min= field: never a sentinel
      // value a parser could read as a timing
      try {
        explainDir.foreach { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, s"$name.txt"),
            plan.getBytes("UTF-8"))
        }
        once // untimed warm pass (codegen/JIT)
        val secs = (1 to passes).map(_ => once)
        println(f"[bx] $name%-28s min=${secs.min}%7.3f  samples=" +
          secs.map(s => f"$s%.3f").mkString(","))
      } catch { case NonFatal(e) =>
        println(s"[bx] $name FAILED: ${e.getMessage}")
      }
    }
  }
}
