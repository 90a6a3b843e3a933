package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project, Union}

/** Scan-parallelism guard for heavy row-local expression stages
  * (optimization guide §2.5 "input skew": one small file / few row-groups
  * pins the whole downstream expression stage to 1-2 scan tasks).
  *
  * The expensive operators in this repo (minhash signatures, simhash,
  * LSH hyperplane projections, shingle/chunk builds) are row-local
  * column-expression work ABOVE the scan: when the input parquet is a
  * single small file, Spark plans one scan task and the entire stage runs
  * on one core regardless of `local[n]`/cluster size — measured on the
  * sf0.1 bench input as a 1-of-32-cores bottleneck worth ~5x per
  * operator. `Spread(df)` round-robin-repartitions such an input up to
  * the session's default parallelism; the shuffle moves the (cheap,
  * pre-projection) source bytes once and the heavy projection then runs
  * at full width. On a production-scale input (thousands of splits ≥
  * cluster parallelism) the partition check makes it a structural no-op,
  * so this is NOT a local-mode-only tuning: it is the standard
  * "repartition immediately after a too-small/unsplittable read" remedy,
  * applied adaptively.
  *
  * Two classes of input pass through untouched:
  *  - streaming DataFrames (micro-batch scan sizing is governed by
  *    maxFilesPerTrigger/maxPartitionBytes, and `.rdd` is unavailable);
  *  - anything that is not a pure scan pipeline (project/filter/union
  *    over leaves): a join/aggregate/window input is already laid out by
  *    its shuffle, and — the sharp edge — calling `.rdd` on an adaptive
  *    plan with exchanges EXECUTES those stages at plan time, so the
  *    partition probe itself must stay scan-only.
  *
  * NOT applied to scan+partial-aggregate shapes (plain groupBy queries):
  * there the map-side combine collapses rows before any exchange, and a
  * round-robin shuffle of the raw rows costs more than the single-core
  * map work saves (measured: q01/q03/q04 ~1.5-2x slower with it; q51's
  * per-source stats 1.37x slower). Nor before a keyed window over light
  * per-row work: the window's own exchange spreads the rows (q53's token
  * count, 1.25x slower with it).
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else if (!scanish(df)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // planning-only on a scan pipeline: computes the file-split layout
      // (driver-side math), runs no job
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** True when the frame is a scan pipeline — projections/filters/unions
    * over leaf relations only, i.e. nothing upstream has already imposed
    * a (parallel) shuffle layout and `.rdd` cannot trigger stage
    * execution. */
  private def scanish(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case _: Project | _: Filter | _: Union => true
      case _: LeafNode => true
      case _ => false
    }.forall(identity)
}
