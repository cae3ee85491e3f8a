package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.expressions.EntropyAgg
import graft.functions.entropy_agg
import graft.util.Utf8Order

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

  /** Y9 — number of distinct non-null values per attribute column, in one aggregation
    * pass (the reference runs one groupBy-count job per column, autolinker.py:597-602
    * — same numbers, fewer jobs). 0 marks a column with no non-null value.
    *
    * The columns are stacked into (column index, value) rows and deduplicated by one
    * grouping, then counted per index. Several `countDistinct`s would take Spark's
    * distinct-aggregate rewrite, whose Expand order changes from call to call, so each
    * call would compile fresh classes. Values sit in one slot per distinct column
    * type, so each column keeps its own type's equality (no cast to a common type).
    */
  def distinctCounts(df: DataFrame, attributes: Seq[String]): Map[String, Long] = {
    require(attributes.nonEmpty, "distinctCounts needs at least one attribute column")
    val typeOf = df.select(attributes.map(col): _*).schema.fields.map(_.dataType)
    val types = typeOf.distinct
    val slots = types.indices.map(j => s"_v$j")
    val stacked = array(attributes.indices.map { i =>
      struct((lit(i).as("_i") +: types.indices.map { j =>
        (if (types(j) == typeOf(i)) col(attributes(i)) else lit(null).cast(types(j)))
          .as(slots(j))
      }): _*)
    }: _*)
    val counts = df.select(explode(stacked).as("_s")).select("_s.*")
      .filter(slots.map(col(_).isNotNull).reduce(_ || _))
      .distinct()
      .groupBy("_i").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    attributes.zipWithIndex.map { case (c, i) => c -> counts.getOrElse(i, 0L) }.toMap
  }

  /** Y9 — adjusted entropy base: max #distinct values in any attribute column. */
  def maxDistinct(df: DataFrame, attributes: Seq[String]): Long =
    distinctCounts(df, attributes).values.max

  /** Y8 — information-gain power ratio `I_s ^ I_a` over a clustered dataset:
    * scaled base c = #non-singleton clusters, adjusted base u from the caller (Y9 on the
    * original data); each I = Σ_cols (whole-matched entropy − mean per-cluster entropy)
    * over the rows of non-singleton clusters.
    *
    * A window count over `cluster_id` keeps the matched rows, and one bounded probe
    * collects them: at most [[ConnectedComponents.LocalCap]] rows go to the driver
    * arithmetic ([[powerRatio]]), which is bit-identical to the trial step's metric
    * whatever the partitioning or row order. Larger inputs stay distributed: one
    * GROUPING SETS pass computes the whole-matched and per-cluster entropies, and a
    * final aggregate picks the whole row, averages the cluster rows and counts them —
    * that count is c. Since c is known only after the pass, the scaled-base entropies
    * run at base 10 (`entropy_agg` divides by log10(10) = 1.0, i.e. returns the raw
    * −Σ p·log10 p) and are divided by log10(c) here. This path agrees with the driver
    * arithmetic to ULPs (the per-cluster mean sums in partition order). No
    * non-singleton cluster → every term is 0 → 1.0.
    */
  def informationGainPowerRatio(
      clusters: DataFrame,
      attributes: Seq[String],
      adjustedBase: Int): Double =
    informationGainPowerRatio(clusters, attributes, adjustedBase, ConnectedComponents.LocalCap)

  /** @param localCap matched rows the driver arithmetic takes at most; tests pass 0 to
    *        force the GROUPING SETS pass
    */
  private[graft] def informationGainPowerRatio(
      clusters: DataFrame,
      attributes: Seq[String],
      adjustedBase: Int,
      localCap: Int): Double = {
    val matched = clusters
      .select((col("cluster_id").cast("string").as("cluster_id") +:
        attributes.map(c => col(c).cast("string").as(c))) :+
        count(lit(1)).over(Window.partitionBy("cluster_id")).as("_cluster_count"): _*)
      .filter(col("_cluster_count") > 1)
      .drop("_cluster_count")
    val probe = matched.limit(localCap + 1).collect()
    if (probe.length <= localCap) {
      return powerRatio(
        probe.map(r => (r.getString(0), attributes.indices.map(i => r.getString(1 + i)))),
        adjustedBase)
    }
    val grouped = Cleaning.nullSentinel(matched, attributes)
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
    def part(off: Int) = attributes.indices.map { i =>
      if (row.isNullAt(1 + off + i)) 0.0 else row.getDouble(1 + off + i)
    }
    val n = attributes.length
    closingRatio(row.getLong(0), part(0), part(n), part(2 * n), part(3 * n))
  }

  /** Y8 on the driver over the rows of a clustering, `(cluster_id, attribute values)`
    * with null values read as [[Cleaning.NullSentinel]]; clusters of one row do not
    * count. Independent of row order: per-cluster entropies are summed in cluster-id
    * order, and each entropy sums its terms over sorted counts
    * ([[graft.expressions.EntropyAgg.entropy]], the aggregate's own arithmetic).
    */
  def powerRatio(rows: collection.Seq[(String, IndexedSeq[String])], adjustedBase: Int)
      : Double = {
    val n = rows.headOption.fold(0)(_._2.size)
    def counts(values: Iterable[IndexedSeq[String]]) = (0 until n).map(i =>
      values.groupMapReduce(v => Option(v(i)).getOrElse(Cleaning.NullSentinel))(_ => 1L)(_ + _))
    val clusters = rows.groupBy(_._1).filter(_._2.size > 1).toSeq
      .sortBy(_._1)(Utf8Order).map(_._2.map(_._2))
    val whole = counts(clusters.flatten)
    val perCluster = clusters.map(counts)
    def mean(base: Int) = (0 until n).map(i =>
      if (perCluster.isEmpty) 0.0
      else perCluster.map(c => EntropyAgg.entropy(c(i), base)).sum / perCluster.size)
    closingRatio(clusters.size, whole.map(EntropyAgg.entropy(_, 10)),
      whole.map(EntropyAgg.entropy(_, adjustedBase)), mean(10), mean(adjustedBase))
  }

  /** `I_s ^ I_a` from c and, per attribute, the whole-matched and mean per-cluster
    * entropies: scaled-base terms at base 10 (divided by log10(c) here), adjusted-base
    * terms as they are.
    */
  private def closingRatio(numClusters: Long, ws: Seq[Double], wa: Seq[Double],
      cs: Seq[Double], ca: Seq[Double]): Double = {
    val scale = if (numClusters > 0) math.log10(numClusters.toDouble) else 1.0
    val is = ws.indices.map(i => ws(i) / scale - cs(i) / scale).sum
    val ia = wa.indices.map(i => wa(i) - ca(i)).sum
    math.pow(is, ia)
  }
}
