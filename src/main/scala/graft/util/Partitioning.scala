package graft.util

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle sizing for ITERATIVE operators (guide §2.2 "fewer,
  * larger partitions"; the optimization-round rule "make partitioning
  * scale-adaptive — derive from input size — rather than a constant").
  *
  * An iterative loop (PageRank, HITS, LPA) re-plans the same tiny-to-huge
  * shuffle shape every round; AQE coalesces the post-shuffle READ side at
  * runtime, but each round's checkpoint still materializes, and each stage
  * still launches, at the session's `spark.sql.shuffle.partitions` — pure
  * scheduling overhead when the vector is thousands of rows, and exactly right
  * when it is billions. Deriving the loop's partition count from the actual
  * row count keeps both regimes on one code path: tiny graphs run their ~30
  * micro-stages on 1-2 partitions, cluster-scale graphs saturate the
  * parallelism cap.
  */
object Partitioning {

  /** Round-robin-spread a SCAN-ROOTED frame to the session parallelism when its
    * natural parallelism is under half of it — the single-file-source fix (guide
    * §2.5 input skew: heavy per-row work downstream of a 1-task scan runs on one
    * core) made scale-safe: a naturally wide scan (the 100 TB case) short-circuits
    * to the input unchanged, so the extra exchange exists only where the scan was
    * too narrow to feed the cluster anyway. Call this on scan-rooted frames
    * (scans, narrow projections/filters/unions of scans): inspecting partition
    * count plans the frame but runs no job for exchange-free plans.
    */
  def spreadNarrowScan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= par) df.repartition(par) else df
  }

  /** Partition count for ~`rowsPerPartition` rows each, in
    * [1, defaultParallelism]. The cap keeps the derivation machine-honest: a
    * row count beyond cores × rowsPerPartition saturates at the session's
    * parallelism (the same value the constant would have had), so this can
    * only REMOVE empty-partition overhead, never starve a big job.
    */
  def adaptive(spark: SparkSession, rows: Long, rowsPerPartition: Long = 50000L): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(cores, rows / rowsPerPartition + 1)).toInt
  }

  /** Streaming state-store partition count derived from the SOURCE's on-disk size
    * (metadata only — no job): one state partition per `bytesPerPartition` of
    * compressed source, clamped to [1, defaultParallelism]. Streaming state
    * partitions are FIXED at the first micro-batch and each costs a store
    * instance (file create + delta + commit per partition PER BATCH), so the
    * count must track the stream's volume, not the machine: a tiny staged feed
    * gets 2–8 stores, a cluster-scale feed saturates at the parallelism cap.
    * Replaces the r11 per-op constants (4/8) with the same derive-from-data rule
    * the iterative graph loops use ([[adaptive]]).
    */
  def stateFromSource(
      spark: SparkSession,
      sourcePath: String,
      bytesPerPartition: Long): Int = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(sourcePath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      } catch { case _: Throwable => 0L }
    val cores = spark.sparkContext.defaultParallelism.toLong
    math.max(1L, math.min(cores, bytes / math.max(bytesPerPartition, 1L) + 1)).toInt
  }
}
