package graft.util

import org.apache.spark.sql.SparkSession

/** The session settings every engine entry point (Bench, Verify, Smoke,
  * Explain, ProfileQ) and perfbench share: AQE's two partition-coalescing
  * knobs, each at Spark's own default unless its environment variable
  * overrides it, so an A/B of either is an environment change.
  *
  *  - `spark.sql.adaptive.coalescePartitions.parallelismFirst` `true`
  *    (`SPARK_GRAFT_AQE_PARALLELISM_FIRST`): AQE ignores the advisory
  *    size and coalesces post-shuffle partitions only down to
  *    `coalescePartitions.minPartitionSize` (1 MB), keeping a small
  *    shuffle's parallelism. `false` coalesces toward the advisory size;
  *    an A/B of it on a 20-row lifecycle board collapsed the tiny-SF
  *    corpus aggregates to one task each and cost the write/aggregate
  *    rows up to +60 % wall time, with no gain elsewhere beyond noise,
  *    so it is not the default. At cluster scale shuffles are far above
  *    the advisory size either way.
  *  - `spark.sql.adaptive.advisoryPartitionSizeInBytes` `64m`
  *    (`SPARK_GRAFT_AQE_ADVISORY`): the size `false` coalesces toward.
  *
  * Neither touches the bench contract (`local[$SPARK_GRAFT_CPUS]`,
  * `spark.sql.shuffle.partitions=$cpus` as the pre-AQE fan-out). */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "64m"))
}
