package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.functions.entropy_agg

/** Y7/Y8/Y9 — the unsupervised clustering quality metric
  * (reference: autolinker.py:114-223; math documented in its README.md:46-76).
  */
object EntropyMetrics {

  /** Y7 — average entropy of each attribute column; `byCluster` averages the
    * per-cluster entropies instead (one distributed aggregation either way).
    */
  def datasetEntropy(
      df: DataFrame,
      attributes: Seq[String],
      byCluster: Boolean = false,
      base: Int = 0): Map[String, Double] = {
    val grouped = Cleaning.nullSentinel(
        df.select((attributes.map(c => col(c).cast("string").as(c)) ++
          (if (byCluster) Seq(col("cluster_id")) else Nil)): _*),
        attributes)
      .groupBy(if (byCluster) col("cluster_id") else lit(1).as("g"))
      .agg(entropy_agg(base, attributes.map(c => c -> col(c)): _*).as("ent_map"))
    val row = grouped
      .select(attributes.map(c => mean(col("ent_map").getItem(c)).as(c)): _*)
      .collect()(0)
    attributes.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    }.toMap
  }

  /** Y9 — adjusted entropy base: max #distinct values in any attribute column, in one
    * aggregation pass (the reference runs one groupBy-count job per column,
    * autolinker.py:597-602 — same number, fewer jobs).
    */
  def maxDistinct(df: DataFrame, attributes: Seq[String]): Long = {
    require(attributes.nonEmpty, "maxDistinct needs at least one attribute column")
    val counts = attributes.map(c => countDistinct(col(c)).cast("long"))
    // `greatest` takes two or more arguments
    val u = if (counts.size == 1) counts.head else greatest(counts: _*)
    df.agg(u.as("u")).collect()(0).getLong(0)
  }

  /** Y8 — information-gain power ratio `I_s ^ I_a` over a clustered dataset:
    * scaled base c = #non-singleton clusters, adjusted base u from the caller (Y9 on the
    * original data); each I = Σ_cols (whole-matched entropy − mean per-cluster entropy)
    * over the rows of non-singleton clusters.
    *
    * The whole metric is ONE Spark action. A window count over `cluster_id` keeps the
    * matched rows; one GROUPING SETS pass computes the whole-matched and per-cluster
    * entropies, and a final aggregate picks the whole row, averages the cluster rows
    * and counts them — that count is c. Since c is known only after the pass, the
    * scaled-base entropies run at base 10 (`entropy_agg` divides by log10(10) = 1.0,
    * i.e. returns the raw −Σ p·log10 p) and are divided by log10(c) here: the
    * whole-matched terms are bit-identical to a base-c aggregation, the per-cluster
    * mean moves by ULPs. The adjusted base is known upfront and stays an
    * `entropy_agg(adjustedBase)` buffer, so `adjustedBase <= 0` keeps the aggregate's
    * distinct-count guard. No non-singleton cluster → every term is 0 → 1.0.
    */
  def informationGainPowerRatio(
      clusters: DataFrame,
      attributes: Seq[String],
      adjustedBase: Int): Double = {
    val sized = clusters.select((attributes.map(c => col(c).cast("string").as(c)) ++
      Seq(col("cluster_id"),
        count(lit(1)).over(Window.partitionBy("cluster_id")).as("_cluster_count"))): _*)
    val grouped = Cleaning.nullSentinel(
        sized.filter(col("_cluster_count") > 1).drop("_cluster_count"), attributes)
      .groupingSets(Seq(Seq.empty, Seq(col("cluster_id"))), col("cluster_id"))
      .agg(
        entropy_agg(10, attributes.map(c => c -> col(c)): _*).as("ent_s"),
        entropy_agg(adjustedBase, attributes.map(c => c -> col(c)): _*).as("ent_a"),
        grouping(col("cluster_id")).as("_g"))
    val whole = col("_g") === 1
    val perCluster = col("_g") === 0
    val row = grouped
      .select((count(when(perCluster, lit(1))) +:
        (attributes.map(c => max(when(whole, col("ent_s").getItem(c)))) ++
          attributes.map(c => max(when(whole, col("ent_a").getItem(c)))) ++
          attributes.map(c => mean(when(perCluster, col("ent_s").getItem(c)))) ++
          attributes.map(c => mean(when(perCluster, col("ent_a").getItem(c)))))): _*)
      .collect()(0)
    val numClusters = row.getLong(0)
    def part(off: Int) = attributes.indices.map { i =>
      if (row.isNullAt(1 + off + i)) 0.0 else row.getDouble(1 + off + i)
    }
    val n = attributes.length
    val (ws, wa, cs, ca) = (part(0), part(n), part(2 * n), part(3 * n))
    val scale = if (numClusters > 0) math.log10(numClusters.toDouble) else 1.0
    val is = attributes.indices.map(i => ws(i) / scale - cs(i) / scale).sum
    val ia = attributes.indices.map(i => wa(i) - ca(i)).sum
    math.pow(is, ia)
  }
}
