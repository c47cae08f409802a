package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}

/** Guard against narrow input scans feeding heavy per-row kernels (guide
  * §2.5 input skew): a corpus that arrives as one small parquet file gives
  * the scan ONE partition, serializing the analyze/assign/signature UDF pass
  * on a single core while the rest of the box idles — measured 1.0 s of the
  * dd_minhash_lsh pipeline and 1.0 s of the IVF assign pass at sf0.1 on
  * local[32]. Widening is a cheap round-robin exchange of the raw rows
  * (~10 MB here) and a NO-OP whenever the scan already carries at least the
  * session's parallelism — which any at-scale corpus does — so partitioning
  * stays derived from input size, never from the box. Only a bare file
  * scan (under projections and filters) is widened; any other input — a
  * cached frame, a local relation, a coalesce or a union — keeps its width,
  * even one partition. */
private[ops] object Narrow {
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // target = the session's shuffle width, capped by the box: enough to
    // parallelize the kernel, narrow enough that the downstream capped
    // aggregations keep their map-side consolidation (measured: 32-way
    // widening at 16 shuffle partitions tripled the partial-merge CPU of
    // the ngram pair aggregation for no extra wall-clock win)
    val target = math.max(2, math.min(
      spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions))
    if (scanPartitions(df.queryExecution.sparkPlan).forall(_ >= target)) df
    else df.repartition(target)
  }

  /** The partition count of a bare file scan under projections and
    * filters, from the planned scan's file splits: planning lists files but
    * runs no job (`df.rdd` would, under AQE, run the input's upstream
    * shuffle stages). None for any other input: a shuffle or a cache
    * already sets its own width. */
  private def scanPartitions(plan: SparkPlan): Option[Int] = plan match {
    case p: ProjectExec => scanPartitions(p.child)
    case f: FilterExec => scanPartitions(f.child)
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case _ => None
  }
}
