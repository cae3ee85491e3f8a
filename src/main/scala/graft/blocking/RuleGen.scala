package graft.blocking

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{EstimateSquaredCountOR, PartialCombinations, ToSplinkRule}
import graft.functions._

/** Candidate blocking-rule generation — the P1-P4 pipelines of SURVEY §2.2
  * (reference: scala/.../arc/ARC.scala:10-113).
  *
  * Scale design: P1 is a DataFrame program — random pre-bucketing bounds each partial
  * count-map to one bucket's keys before the single merge, and the in-aggregate
  * threshold prune and top-1000 cap bound memory regardless of input size. Its
  * collected map holds one entry per candidate AND-rule (at most 1000·C values before
  * the per-rule grouping, C = attribute count), so the P2/P3 expansion over it runs on
  * the driver ([[orRules]]) with the same E4–E8 functions (combinations,
  * [[PartialCombinations.extend]], [[ToSplinkRule.render]],
  * [[EstimateSquaredCountOR.estimate]]) — an intentional, size-bounded driver
  * boundary (reference ARC.scala:107-110). The DataFrame forms wrap its result in a
  * local table.
  */
object RuleGen {

  /** The two beams of P2 keep this many combinations each. */
  private val Beam = 1000

  /** P1 — per candidate AND-rule (column combination of size exactly `k`), robust block
    * statistics `(n = #blocks, avg_k = trimmed mean of blockCount²)`.
    *
    * @param seed seed for the random bucketing; the reference uses unseeded `rand()`
    *             (ARC.scala:19) — we thread a seed for reproducibility.
    * @param exactPercentiles use exact `percentile` instead of `percentile_approx`
    *             (the oracle path at small SF; approx is the default at scale).
    * @param rowCount `df`'s row count when the caller already holds it (it sets the
    *             prune threshold); counted otherwise.
    */
  def generateCountLookup(
      df: DataFrame,
      k: Int,
      attributes: Seq[String],
      seed: Long = 42L,
      exactPercentiles: Boolean = false,
      deterministicBuckets: Boolean = false,
      thresholdOverride: Option[Int] = None,
      rowCount: Option[Long] = None): DataFrame = {
    val partitions = math.max(df.rdd.getNumPartitions, 1)
    val threshold = thresholdOverride.getOrElse(
      ((rowCount.getOrElse(df.count()) * 0.2) / partitions).toInt)

    val attrCols = attributes.map(a => a -> col(a).cast("string"))
    val bucket =
      if (deterministicBuckets)
        pmod(abs(hash(attributes.map(col): _*)), lit(partitions))
      else (rand(seed) * partitions).cast("int")

    val pct =
      if (exactPercentiles)
        expr("percentile(k, array(0.1d, 0.5d, 0.9d))")
      else percentile_approx(col("k"), array(lit(0.1), lit(0.5), lit(0.9)), lit(1000))

    val window = Window.partitionBy(col("rule"))
    df.groupBy(bucket.as("bucket"))
      .agg(combinatorial_count_agg(k, threshold.toLong, 1000, attrCols: _*).as("m"))
      .agg(merge_count_map_agg(col("m")).as("m"))
      .select(explode(col("m")).as(Seq("key", "count")))
      .withColumn("k", col("count") * col("count"))
      .withColumn("rule", split(col("key"), ";").getItem(0))
      // winsorize per rule: clamp block costs outside (p10, p90) to the median
      .withColumn("percentiles", pct.over(window))
      .withColumn("adjusted_k",
        when(col("k") > col("percentiles").getItem(0) &&
             col("k") < col("percentiles").getItem(2), col("k"))
          .otherwise(col("percentiles").getItem(1)))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n"),
        floor(avg(col("adjusted_k"))).cast("long").as("avg_k"))
      .select(col("rule"), struct(col("n"), col("avg_k")).as("rule_stats"))
  }

  /** P2/P3 on the driver — every OR-combination of size 1..`k` of the count map's
    * rules, as `(splink_rule, rule_squared_count)` ordered by
    * `(rule_squared_count desc, splink_rule)`. Per size `n`: the `n`-combinations of
    * the sorted rule keys, beam-pruned to the [[Beam]] costliest, extended by `n − 2`
    * more keys ([[PartialCombinations.extend]]; `n ≤ 2` passes through), deduplicated
    * and pruned to the [[Beam]] costliest again — the reference's two limit-1000
    * beams. Ties break by rule text in both beams.
    */
  def orRules(countMap: Map[String, (Long, Long)], k: Int): Seq[(String, Long)] = {
    val keys = countMap.keys.toSeq.sorted
    val order = Ordering.Tuple2(Ordering.Long.reverse, graft.util.Utf8Order)
    def top(combos: Iterator[Seq[String]]): Seq[(Seq[String], String, Long)] =
      combos.map(c => (c, ToSplinkRule.render(c), EstimateSquaredCountOR.estimate(c, countMap)))
        .toSeq.sortBy(t => (t._3, t._2))(order).take(Beam)
    (1 to k).flatMap { n =>
      val beam = top(keys.combinations(n))
      val extended =
        if (n > 1) beam.flatMap(b => PartialCombinations.extend(n - 2, b._1, keys)).distinct
        else beam.map(_._1)
      top(extended.iterator).map(t => (t._2, t._3))
    }.distinct.sortBy(t => (t._2, t._1))(order)
  }

  /** P3 — [[orRules]] as a local table `(splink_rule, rule_squared_count)`. */
  def generateORRules(
      spark: SparkSession,
      countMap: Map[String, (Long, Long)],
      k: Int): DataFrame = {
    import spark.implicits._
    orRules(countMap, k).toDF("splink_rule", "rule_squared_count")
  }

  /** P4 — end to end: count stats → driver-collected map (≤1000·C entries) → candidates
    * in [[orRules]] order.
    */
  def blockingRules(
      df: DataFrame,
      n: Int,
      k: Int,
      attributes: Seq[String],
      seed: Long = 42L,
      rowCount: Option[Long] = None): Seq[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val countMap = generateCountLookup(df, n, attributes, seed, rowCount = rowCount)
      .as[(String, (Long, Long))]
      .collect()
      .toMap
    orRules(countMap, k)
  }

  /** P4 — [[blockingRules]] as a local table `(splink_rule, rule_squared_count)`. */
  def generateBlockingRules(
      df: DataFrame,
      n: Int,
      k: Int,
      attributes: Seq[String],
      seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    blockingRules(df, n, k, attributes, seed).toDF("splink_rule", "rule_squared_count")
  }
}
