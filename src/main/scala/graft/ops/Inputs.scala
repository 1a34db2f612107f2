package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Input-distribution guard for operators with heavy scan-side kernels
  * (shingle/minhash hashing, gram md5, quality regex chains): if the
  * incoming frame cannot feed the session's parallelism — the unsplittable
  * single-row-group case of guide §2.5 (a parquet row group cannot be
  * divided across tasks, so byte-range splits of one-row-group files leave
  * every row in one task) — redistribute ONCE before the kernel pass. On
  * adequately-split input (any real lake) this is a no-op; it is NOT a
  * blanket read-side repartition, which A/B-measured net-negative for the
  * cheap-first-exchange query shapes (see SparkEntry.t's note). */
object Inputs {

  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (scanPartitions(df) < p) df.repartition(p) else df
  }

  /** The partition count of `df`'s physical plan, read without a job and
    * without building a `Dataset.rdd` (which plans a deserializing copy and
    * reports it as a SQL execution). A plan with an exchange is adaptive and
    * its input is already spread by that exchange; any other plan is
    * narrow over its scans, whose RDD knows its partitions once built. */
  private def scanPartitions(df: DataFrame): Int = df.queryExecution.executedPlan match {
    case _: AdaptiveSparkPlanExec => Int.MaxValue
    case plan => plan.execute().getNumPartitions
  }
}
