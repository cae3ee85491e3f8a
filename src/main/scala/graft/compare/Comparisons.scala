package graft.compare

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.Gamma
import graft.model.ComparisonSpec

/** J2 — per-column comparison levels over candidate pairs.
  *
  * Gamma ladder (Splink 3.x semantics; reference builds these via
  * `cl.levenshtein_at_thresholds` etc., autolinker.py:452-457):
  *   gamma = -1 either side null; 2 exact equality; 1 similarity within threshold
  *   (levenshtein <= t, jaccard >= t, jaro_winkler >= t); 0 otherwise.
  *
  * Each ladder is one [[graft.expressions.Gamma]] expression over `<col>_l`/`<col>_r`
  * — it runs once per candidate pair, the hot path at scale, with no shuffle. Its
  * metric and threshold reach generated code by reference, so trials that differ only
  * in their comparison settings share one compiled plan.
  */
object Comparisons {

  def gammaColumn(spec: ComparisonSpec): Column =
    Bridge.column(Gamma(Bridge.expression(col(s"${spec.column}_l")),
      Bridge.expression(col(s"${spec.column}_r")), spec.metric, spec.threshold))

  /** Appends `gamma_<col>` for every comparison spec. */
  def withGammas(pairs: DataFrame, specs: Seq[ComparisonSpec]): DataFrame =
    specs.foldLeft(pairs)((df, s) =>
      df.withColumn(s"gamma_${s.column}", gammaColumn(s)))
}
