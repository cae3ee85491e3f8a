package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.auto.AutoLinker
import graft.cluster.ConnectedComponents
import graft.model.ComparisonSpec
import graft.score.FellegiSunter
import graft.train.Estimation

/** End-to-end pipeline entries (SURVEY §3 EP1/EP3): fixed-parameter dedupe and the
  * auto-search loop, every one with a FULL generated DuckDB oracle. The bench
  * names run the SEEDED oracle-expressible configs (explicit candidate rules,
  * uid-ordered u pairing — the two knobs that make the control flow replayable);
  * the default configs (data-derived P4 rules, TPE, hash u pairing) stay
  * exercised as spec smokes (MetricsSpec auto-link family, EntrySpec flagship).
  */
object PipelineQueries {

  /** The minimum end-to-end slice from SURVEY §7: clean → block → gammas → train
    * (u-sampling + one EM rule) → predict → cluster → cluster sizes. Default
    * config (hash u pairing) — the flagship `SparkEntry.entry` smoke; the bench
    * query `ep1_e2e_dedupe` runs [[E2eOracle.pinnedQuery]], the same pipeline
    * with the uid-ordered pairing its oracle replays.
    */
  def e2eDedupe(s: SparkSession, dir: String): DataFrame = {
    val df = Fixtures.cust(s, dir)
      .withColumn("uid", col("c_custkey").cast("string"))
      .withColumn("c_nationkey", col("c_nationkey").cast("string"))
      .withColumn("k", (col("c_custkey") % 100).cast("string"))
    val specs = Seq(
      ComparisonSpec("c_name", "levenshtein", 3),
      ComparisonSpec("k", "levenshtein", 1))
    val model = Estimation.train(
      df, "uid", specs,
      blockingRules = Seq("l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment"),
      trainingRules = Seq("l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment"),
      uTargetPairs = 20000L)
    val preds = FellegiSunter.predict(df, "uid", model)
    val edges = preds.filter(col("match_probability") >= 0.5)
      .select(col("uid_l").as("src"), col("uid_r").as("dst"))
    ConnectedComponents.assignClusters(df, "uid", edges)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .orderBy(desc("cluster_size"), asc("cluster_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the trained search loops and the e2e dedupe pipeline, each the REAL
    // control flow under a seeded replayable config with a FULL generated
    // oracle (see AutoLinkOracle / E2eOracle)
    "ep1_e2e_dedupe" -> (E2eOracle.pinnedQuery _),
    "ep1_auto_link" -> (AutoLinkOracle.twoTrialsQuery _),
    "ep1_auto_link_two_tables" -> (AutoLinkOracle.twoTrialsLinkQuery _))

  val oracleSql: Map[String, String] = Map(
    "ep1_e2e_dedupe" -> E2eOracle.pinnedSql,
    "ep1_auto_link" -> AutoLinkOracle.twoTrialsSql,
    "ep1_auto_link_two_tables" -> AutoLinkOracle.twoTrialsLinkSql)
}
