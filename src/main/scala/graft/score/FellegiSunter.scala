package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.blocking.{BlockingRule, PairGenerator}
import graft.compare.Comparisons
import graft.functions.ref_lit
import graft.model.{ColumnParams, ComparisonSpec, TrainedModel}

/** J6 — Fellegi-Sunter match weight / probability as pure column arithmetic over the
  * gamma columns (reference semantics: Splink 3.9.4 `linker.predict()`, called at
  * autolinker.py:561; model published in Fellegi & Sunter 1969).
  *
  *   match_weight = log2(λ/(1−λ)) + Σ_cols log2(m[γ]/u[γ])   (γ = -1 contributes 0)
  *   match_probability = 2^w / (1 + 2^w)
  *
  * The per-level log2(m/u) Bayes factors are folded into one array literal per column
  * on the driver, so the whole scorer is one codegen'd projection — no joins, no
  * shuffles, no UDF on the pair hot path. The arrays and the prior reach generated code
  * by reference, so models that differ only in their parameters share one compiled
  * plan.
  */
object FellegiSunter {

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** Per-column contribution: a literal lookup gamma → log2(m/u).
    *
    * Indexed into a literal array (index g+2, 1-based; unexpected gammas → 0.0 via
    * `try_element_at`) so the gamma column is referenced exactly ONCE. A `when` ladder
    * references it per level, and when Catalyst collapses the scoring projection into
    * a downstream filter each reference re-inlines the gamma's similarity expression —
    * a threshold filter was re-running levenshtein ~16× per pair (measured 23.7s → 1s
    * on a 900k-pair scan).
    */
  def bayesFactor(column: String, p: ColumnParams): Column = {
    val g = col(s"gamma_$column")
    val factors = lit(0.0) +: // gamma = -1: null comparison contributes nothing
      (0 until p.m.length).map(lvl => lit(log2(p.m(lvl) / p.u(lvl))))
    coalesce(try_element_at(array(factors: _*), (g + lit(2)).cast("int")), lit(0.0))
  }

  /** Appends `match_weight` and `match_probability` to a gamma'd pair DataFrame.
    * `p = 1/(1+2^−w)` (≡ 2^w/(1+2^w)) references the weight once, for the same
    * anti-inlining reason as [[bayesFactor]]. The prior log-odds is a [[ref_lit]]: a
    * plain literal would be inlined into the generated source, one class per λ.
    */
  def score(pairsWithGammas: DataFrame, model: TrainedModel): DataFrame = {
    val prior = ref_lit(log2(model.lambda / (1.0 - model.lambda)))
    val weight = model.comparisons
      .map(c => bayesFactor(c.column, model.params(c.column)))
      .foldLeft(prior)(_ + _)
    pairsWithGammas
      .withColumn("match_weight", weight)
      .withColumn("match_probability",
        lit(1.0) / (lit(1.0) + pow(lit(2.0), -col("match_weight"))))
  }

  /** Per-term share of non-null values of `column` — the input to [[tfAdjust]].
    * One hash aggregation; the 1-row total collect is the documented bounded
    * driver boundary (same shape as the BM25 corpus constants).
    */
  def termFrequencies(df: DataFrame, column: String): DataFrame = {
    val nonNull = df.filter(col(column).isNotNull)
    val n = nonNull.count()
    require(n > 0, s"termFrequencies: `$column` has no non-null values")
    nonNull.groupBy(col(column).as("term"))
      .agg((count(lit(1)).cast("double") / n.toDouble).as("tf_share"))
  }

  /** Splink-style term-frequency adjustment (`term_frequency_adjustments`): the
    * column-global u says how likely two RANDOM records agree on the column, which
    * under-penalizes agreement on COMMON terms and under-rewards rare ones. On an
    * exact agreement, shift the evidence toward the term's own collision chance:
    *
    *   Δw = β · (log2(u_exact) − log2(tf_term))
    *
    * so rare terms gain weight and common terms lose it (β = `tfWeight` ∈ [0,1]
    * interpolates; Splink's tf_adjustment_weight). Appends `tf_adjustment`,
    * `match_weight_tf`, `match_probability_tf` to a scored pair frame. The term
    * table joins on the pair's `<column>_l` value (≡ `_r` on exact agreement) —
    * broadcast it when the vocabulary is small; unmatched/unequal pairs adjust by 0.
    */
  def tfAdjust(
      scored: DataFrame,
      column: String,
      uExact: Double,
      tfTable: DataFrame,
      tfWeight: Double = 1.0): DataFrame = {
    val lg2 = math.log(2.0)
    val tf = tfTable.select(col("term").as("_tf_term"), col("tf_share").as("_tf_share"))
    scored.join(broadcast(tf), scored(s"${column}_l") === tf("_tf_term"), "left")
      .withColumn("tf_adjustment",
        when(col(s"${column}_l") === col(s"${column}_r") && col("_tf_share").isNotNull,
          lit(tfWeight) * (lit(log2(uExact)) - log(col("_tf_share")) / lit(lg2)))
          .otherwise(lit(0.0)))
      .withColumn("match_weight_tf", col("match_weight") + col("tf_adjustment"))
      .withColumn("match_probability_tf",
        lit(1.0) / (lit(1.0) + pow(lit(2.0), -col("match_weight_tf"))))
      .drop("_tf_term", "_tf_share")
  }

  /** Mutual-best 1:1 assignment over a scored pair frame — the serve-time step that
    * turns m:n candidate scores into an exclusive matching (each record linked to at
    * most one partner): keep a pair iff it survives the probability threshold AND
    * each side is the other's best-scoring candidate. Greedy mutual-best is the
    * standard relational approximation of maximum-weight matching used by record
    * linkage systems when a 1:1 constraint is required (e.g. one golden record per
    * source row).
    *
    * Relational shape: symmetrize the (uid_l < uid_r) pair list, then pick each
    * record's best candidate with TWO primitive hash aggregations — max weight per
    * record (map-side combined), then smallest partner at that weight — i.e. the
    * (weight DESC, partner ASC) rank-1 of a sort window WITHOUT any sort: a
    * row_number window must shuffle and sort every candidate row, while the
    * aggregate pair collapses to ≤ one row per record BEFORE the shuffle (measured
    * 23 s → 7 s for the reduction at sf0.1 on nation-blocked customer). Ranking is
    * on the ROUNDED weight so sub-ulp cross-engine differences cannot flip ranks.
    * The mutual filter is a self-equi-join of the per-record argmax list — bounded
    * by #records, and persisted so the join's two sides share one materialization.
    *
    * Symmetrization is an EXPLODE into both (src, dst) orientations INSIDE the
    * scoring pass (r11): the r10 shape persisted the full narrow pair projection
    * (MEMORY_AND_DISK, ~|pairs| rows) and symmetrized as a union of two reads of
    * it — the suite's largest per-query storage footprint, and exactly the plan
    * that spiked 6.3× in the r10 driver run under co-located memory/disk
    * contention while the quiet record held 5.35 s. The explode form feeds the
    * argmax aggregation straight off the gamma-ladder projection: same symmetric
    * multiset, zero pair-table materialization (same-JVM A/B in OPTIMIZATION_r11.md,
    * settled in OPTIMIZATION_r12.md §3: identical output hash, equal quiet/CPU-loaded
    * time, nothing left for block eviction or spill to amplify). The only remaining materialization is the |records|-bounded
    * argmax list the mutual self-join reads twice.
    */
  def mutualBestPairs(scored: DataFrame, threshold: Double): DataFrame = {
    import graft.util.Caching.CacheSyntax
    val e = scored.filter(col("match_probability") >= threshold)
      .select(col("uid_l"), col("uid_r"), round(col("match_weight"), 6).as("mw"))
    val sym = e.select(explode(array(
        struct(col("uid_l").as("src"), col("uid_r").as("dst"), col("mw")),
        struct(col("uid_r").as("src"), col("uid_l").as("dst"), col("mw")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"), col("p.mw").as("mw"))
    // the (mw DESC, dst ASC) argmax as ONE map-side-combined aggregation: the
    // lexicographic struct MIN of (−mw, dst) — replaces the previous
    // max-per-src agg + join-back + min agg (two extra shuffles of the full
    // symmetrized list; measured 7.4 → 3.5 s at sf0.1 on nation-blocked
    // customer). `0.0 − mw` rather than `−mw`: it collapses both IEEE zeros to
    // +0.0, so a −0.0/0.0 weight pair cannot order differently from the
    // max/min formulation it replaces.
    val best = sym
      .groupBy("src")
      .agg(min(struct((lit(0.0) - col("mw")).as("nw"), col("dst"))).as("b"))
      .select(col("src"), (lit(0.0) - col("b.nw")).as("mw"), col("b.dst").as("dst"))
      .scopedPersist()
    best.as("a")
      .join(best.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .filter(col("a.src") < col("a.dst"))
      .select(col("a.src").as("uid_l"), col("a.dst").as("uid_r"),
        col("a.mw").as("match_weight"))
  }

  /** Blocking → gammas → score in one shot, in dedupe or (with `right`) link mode.
    *
    * @param saltFactor > 1 salts pair generation ([[PairGenerator.pairs]]). Use when the
    *        blocking keys have LOW CARDINALITY relative to the cluster (e.g. 25 nation
    *        blocks on 32 cores leave the gamma ladder, pipelined into the pair join,
    *        wall-bound by the biggest block on one thread).
    */
  def predict(
      df: DataFrame,
      uid: String,
      model: TrainedModel,
      saltFactor: Int = 1,
      right: Option[DataFrame] = None): DataFrame = {
    val pairs = PairGenerator.pairs(df, right, uid, model.comparisons.map(_.column),
      model.blockingRules.map(BlockingRule.parse), saltFactor)
    score(Comparisons.withGammas(pairs, model.comparisons), model)
  }

  /** Link-mode [[predict]]. */
  def predictLink(left: DataFrame, right: DataFrame, uid: String, model: TrainedModel)
      : DataFrame = predict(left, uid, model, right = Some(right))
}
