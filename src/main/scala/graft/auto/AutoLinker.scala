package graft.auto

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.blocking.{BlockingRule, PairGenerator, RuleGen}
import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.metrics.{ClusteringMetrics, EntropyMetrics, PairwiseMetrics}
import graft.model.{ComparisonSpec, TrainedModel}
import graft.schemamatch.SchemaMatch
import graft.score.FellegiSunter
import graft.train.Estimation

/** Y16 + EP1 — the unsupervised auto-linking search loop (reference:
  * AutoLinker.auto_link, autolinker.py:688-847), in dedupe mode ([[autoLink]]) and
  * two-table link mode ([[autoLinkTables]], reference autolinker.py:688-707,961-1020:
  * schema-match the columns, align, then block/train/predict across the tables only).
  *
  * Differences from the reference, by design:
  *   - the default search is a NATIVE tree-structured Parzen estimator ([[Tpe]]),
  *     the same algorithm the reference delegates to Hyperopt — after a uniform
  *     warmup, good/bad Parzen densities over every dimension score a candidate
  *     batch by the l/g expected-improvement ratio — with one seeded RNG threaded
  *     through sampling, bucketing and the search so runs reproduce
  *     (`searchStrategy = "random"` recovers pure random search);
  *   - no metastore temp tables to GC (Y15) — intermediates are DataFrames;
  *   - run log returned as a DataFrame instead of MLflow calls (Y19).
  *
  * When `trueLabelCol` is given, every trial also computes the supervised confusion
  * and clustering metrics against it (reference autolinker.py:591-621), recorded on
  * [[Trial.supervised]].
  *
  * Search space matches autolinker.py:345-365: per column one of
  * levenshtein threshold ∈ {1..5}, jaccard ∈ [0.7,0.99], jaro_winkler ∈ [0.7,0.99];
  * blocking rule drawn from the generated candidates (Y3) filtered by
  * `comparison_size_limit`.
  *
  * `uDeterministicOrder` pairs the u sample in uid order instead of the salted hash
  * order, so a SQL oracle can reproduce it. It is for oracle tests on driver-sized
  * inputs: the uid order pairs the whole table on the driver, and with
  * `uTargetPairs = min(4N, 100000)` it rejects inputs of more than 200002 rows.
  */
object AutoLinker {

  case class Trial(
      model: TrainedModel,
      metric: Double,
      blockingRule: String,
      supervised: Map[String, Double] = Map.empty)

  case class Result(
      best: Trial,
      clusters: DataFrame,
      predictions: DataFrame,
      trials: Seq[Trial]) {

    /** EP3 — re-cluster the retained predictions at an arbitrary threshold without
      * re-training or re-predicting (reference: `best_clusters_at_threshold`,
      * autolinker.py:1069-1094): filter the scored pairs, run connected components,
      * re-attach to the records carried in `clusters` (minus their old assignment).
      */
    def clustersAtThreshold(uidCol: String, threshold: Double): DataFrame =
      clusterAt(clusters.drop("cluster_id"), uidCol, predictions, threshold)
  }

  /** `records` + `cluster_id`: connected components over the scored pairs at or above
    * `threshold`. Pairs carry the pipeline's canonical `uid_l`/`uid_r` columns,
    * whatever the caller's uid name.
    */
  private def clusterAt(records: DataFrame, uidCol: String, predictions: DataFrame,
      threshold: Double, localCap: Int = ConnectedComponents.LocalCap): DataFrame =
    ConnectedComponents.attach(records, uidCol, ConnectedComponents.run(predictions
      .filter(col("match_probability") >= threshold)
      .select(col("uid_l").as("src"), col("uid_r").as("dst")), localCap))

  /** A trial's cluster-and-score step: [[clusterAt]] and the Y8 information-gain power
    * ratio of that clustering. One bounded probe collects the matched pairs with both
    * sides' attribute values; when it holds at most `localCap` rows, connected
    * components ([[ConnectedComponents.components]]) and the metric
    * ([[EntropyMetrics.powerRatio]]) run on the driver from those rows, so a trial's
    * Spark work after training is this one collect. The matched pairs need no dedup
    * ([[PairGenerator.pairs]] emits each pair once), and every node of a matched pair
    * is a matched row whose values the pair carries (`uidCol` identifies a record).
    * Above the cap the distributed connected components and the GROUPING SETS metric
    * run. Either way `clusters` is `records` left-joined to the node → cluster id
    * mapping, and the metric equals [[EntropyMetrics.informationGainPowerRatio]] of it.
    *
    * @param localCap tests pass 0 to force the distributed path
    */
  private[graft] def clusterAndScore(
      records: DataFrame,
      uidCol: String,
      predictions: DataFrame,
      threshold: Double,
      attrs: Seq[String],
      adjustedBase: Int,
      localCap: Int = ConnectedComponents.LocalCap): (DataFrame, Double) = {
    val sides = Seq("_l", "_r")
    val probe = predictions
      .filter(col("match_probability") >= threshold)
      .select(sides.map(s => col(s"uid$s")) ++ sides.flatMap(s => attrs.map(a => col(s"$a$s"))): _*)
      .limit(localCap + 1).collect()
    if (probe.length > localCap) {
      val clusters = clusterAt(records, uidCol, predictions, threshold, localCap)
      return (clusters,
        EntropyMetrics.informationGainPowerRatio(clusters, attrs, adjustedBase, localCap))
    }
    val n = attrs.size
    val values = scala.collection.mutable.HashMap.empty[String, IndexedSeq[String]]
    probe.foreach { r =>
      values(r.getString(0)) = (0 until n).map(i => r.getString(2 + i))
      values(r.getString(1)) = (0 until n).map(i => r.getString(2 + n + i))
    }
    val mapping =
      ConnectedComponents.components(probe.map(r => (r.getString(0), r.getString(1))))
    val spark = records.sparkSession
    import spark.implicits._
    (ConnectedComponents.attach(records, uidCol, mapping.toDF("node", "cluster_id")),
      EntropyMetrics.powerRatio(mapping.map { case (node, c) => (c, values(node)) },
        adjustedBase))
  }

  def autoLink(
      data: DataFrame,
      uidCol: String = "unique_id",
      attributeColumns: Option[Seq[String]] = None,
      maxEvals: Int = 5,
      seed: Long = 42L,
      comparisonSizeLimit: Long = 100000L,
      clusterThreshold: Double = 0.8,
      cleaningMode: String = "all",
      trueLabelCol: Option[String] = None,
      searchStrategy: String = "tpe",
      candidateRuleOverride: Option[Seq[String]] = None,
      uDeterministicOrder: Boolean = false): Result = {

    validateSearch(maxEvals, searchStrategy)
    val attrs = attributeColumns.getOrElse(attributesOf(data, uidCol, trueLabelCol))
    val cleaned = prepare(data, uidCol, None, attrs.map(a => a -> a), trueLabelCol,
      cleaningMode)
    runSearch(cleaned, None, cleaned, uidCol, attrs, candidateRuleOverride,
      comparisonSizeLimit, maxEvals, seed, searchStrategy, clusterThreshold, trueLabelCol,
      uDeterministicOrder)
  }

  /** Link-mode end-to-end: recover the left↔right column correspondence (Y10), align
    * the right table to the left's names, then search/train/predict over CROSS-table
    * pairs only and cluster the union. Uids are prefixed `l-`/`r-` so the two tables
    * cannot collide in the cluster space.
    */
  def autoLinkTables(
      left: DataFrame,
      right: DataFrame,
      uidCol: String = "unique_id",
      leftAttributes: Option[Seq[String]] = None,
      rightAttributes: Option[Seq[String]] = None,
      maxEvals: Int = 5,
      seed: Long = 42L,
      comparisonSizeLimit: Long = 100000L,
      clusterThreshold: Double = 0.8,
      cleaningMode: String = "all",
      trueLabelCol: Option[String] = None,
      searchStrategy: String = "tpe",
      candidateRuleOverride: Option[Seq[String]] = None,
      uDeterministicOrder: Boolean = false,
      mappingOverride: Option[Seq[(String, String, Long)]] = None): Result = {

    validateSearch(maxEvals, searchStrategy)
    val lAttrs = leftAttributes.getOrElse(attributesOf(left, uidCol, trueLabelCol))
    val rAttrs = rightAttributes.getOrElse(attributesOf(right, uidCol, trueLabelCol))

    // Y10 — recover the column correspondence, keep left's names for the mapped
    // pairs. A caller that already computed the same greedy mapping (the oracle
    // query renders it into every row) passes it through instead of re-running
    // the unpivot/value-join/collect pass.
    val mapping = mappingOverride.getOrElse(
      SchemaMatch.greedyMapping(left, right, lAttrs, rAttrs))
    require(mapping.nonEmpty, "autoLinkTables: no column correspondence found")
    val attrs = mapping.map(_._1)

    val cleanedL = prepare(left, uidCol, Some("l-"), attrs.map(a => a -> a), trueLabelCol,
      cleaningMode)
    val cleanedR = prepare(right, uidCol, Some("r-"),
      mapping.map { case (lc, rc, _) => lc -> rc }, trueLabelCol, cleaningMode)
    runSearch(cleanedL, Some(cleanedR), cleanedL.unionByName(cleanedR).cache(), uidCol,
      attrs, candidateRuleOverride, comparisonSizeLimit, maxEvals, seed, searchStrategy,
      clusterThreshold, trueLabelCol, uDeterministicOrder)
  }

  /** Every column but the uid and the label. */
  private def attributesOf(df: DataFrame, uidCol: String, trueLabelCol: Option[String])
      : Seq[String] =
    df.columns.filterNot(c => c == uidCol || trueLabelCol.contains(c)).toSeq

  /** One input table as the search reads it, cached: the uid (synthesized when
    * absent, prefixed with `tag`), the `(output, input)` attributes and the label as
    * strings, cleaned, and spread over the cluster BEFORE anything joins it — the
    * loop's pair joins are EXPANSION joins whose parallelism is the stream side's
    * partitioning, which for a single-file source is ONE task grinding every
    * trial's expansion (measured 6.6 s single-task jobs inside ep1_auto_link at
    * sf0.1). Round-robin is deterministic and the loop's aggregates are count-based,
    * so results are partition-layout-proof; a naturally wide scan skips the shuffle.
    */
  private def prepare(
      df: DataFrame,
      uidCol: String,
      tag: Option[String],
      attrs: Seq[(String, String)],
      trueLabelCol: Option[String],
      cleaningMode: String): DataFrame = {
    val uid = col(uidCol).cast("string")
    val selected = Cleaning.withUniqueId(df, uidCol).select(
      (tag.fold(uid)(t => concat(lit(t), uid)).as(uidCol) +:
        attrs.map { case (out, in) => col(in).cast("string").as(out) }) ++
        trueLabelCol.map(c => col(c).cast("string").as(c)).toSeq: _*)
    graft.util.Partitioning
      .spreadNarrowScan(Cleaning.cleanColumns(selected, attrs.map(_._1), cleaningMode))
      .cache()
  }

  private val SearchStrategies = Seq("tpe", "random")

  /** Rejects search settings up front, before any Spark job: an unknown strategy
    * would otherwise draw uniformly without a word, and a search without trials has
    * no best trial to return.
    */
  private def validateSearch(maxEvals: Int, searchStrategy: String): Unit = {
    require(SearchStrategies.contains(searchStrategy), "searchStrategy must be one of " +
      s"${SearchStrategies.mkString(", ")}, got '$searchStrategy'")
    require(maxEvals >= 1, s"maxEvals must be at least 1, got $maxEvals")
  }

  /** Y3 — candidate blocking rules from a ≤10k sample, filtered by estimated cost:
    * single-column AND terms, up to two of them OR-ed together, in
    * [[RuleGen.orRules]] order. May be empty. The unsampled input reuses the search's
    * row count `n`.
    */
  private def candidateRules(
      df: DataFrame,
      n: Long,
      attrs: Seq[String],
      comparisonSizeLimit: Long,
      seed: Long): Seq[String] = {
    val (sample, rowCount) =
      if (n > 10000) (df.sample(withReplacement = false, 10000.0 / n, seed), None)
      else (df, Some(n))
    RuleGen.blockingRules(sample, n = 1, k = 2, attrs, seed, rowCount)
      .collect { case (rule, cost) if cost < comparisonSizeLimit => rule }
  }

  /** One parameter draw. Uniform during warmup or with `searchStrategy = "random"`;
    * `"tpe"` (the default — full Hyperopt-parity [[Tpe]] draw: Parzen good/bad
    * densities + l/g-ratio acquisition over a candidate batch).
    */
  private def drawParams(
      rnd: Random,
      attrs: Seq[String],
      ruleChoices: Seq[String],
      past: Seq[Trial],
      strategy: String): (Seq[ComparisonSpec], String) = {
    def uniformSpec(c: String): ComparisonSpec = rnd.nextInt(3) match {
      case 0 => ComparisonSpec(c, "levenshtein", 1 + rnd.nextInt(5).toDouble)
      case 1 => ComparisonSpec(c, "jaccard", 0.7 + rnd.nextDouble() * 0.29)
      case _ => ComparisonSpec(c, "jaro_winkler", 0.7 + rnd.nextDouble() * 0.29)
    }
    def uniform(): (Seq[ComparisonSpec], String) =
      (attrs.map(uniformSpec), ruleChoices(rnd.nextInt(ruleChoices.size)))

    val warmup = 3
    if (strategy == "random" || past.size < warmup) uniform()
    // 10% uniform exploration floor: the l/g acquisition is pure exploitation
    // and can permanently avoid a region whose only observations landed in the
    // bad set — the floor bounds that regret (hyperopt gets the same effect
    // from its annealed prior weight)
    else if (rnd.nextDouble() < 0.1) uniform()
    else Tpe.draw(rnd, attrs, ruleChoices, past)
  }

  /** One full trial draw: comparison specs + blocking rule ([[drawParams]]) plus the
    * Y6 training-rule draw (3 random columns, paired). Factored out so the search
    * loop and [[warmupDraws]] consume the SEEDED RNG in exactly the same order.
    */
  private def drawTrial(
      rnd: Random,
      attrs: Seq[String],
      ruleChoices: Seq[String],
      past: Seq[Trial],
      strategy: String): (Seq[ComparisonSpec], String, Seq[String]) = {
    val (specs, rule) = drawParams(rnd, attrs, ruleChoices, past, strategy)
    val tcols = rnd.shuffle(attrs.toList).take(3)
    val trainingRules =
      if (tcols.size < 2) Seq(attrs.map(c => s"l.$c = r.$c").mkString(" AND "))
      else tcols.combinations(2).map(p => s"${p(0)}&${p(1)}").toSeq
    (specs, rule, trainingRules)
  }

  /** Replay the first `nTrials` trial draws of a search with this `seed` WITHOUT any
    * data: during the warmup (the first 3 trials) every strategy draws uniformly, so
    * the (specs, blocking rule, training rules) sequence depends only on the seed,
    * the attribute order, and the candidate-rule list — which makes a ≤3-trial
    * search loop fully renderable as a SQL oracle (the generator embeds the drawn
    * constants; every DATA-dependent quantity — u estimates, EM chains, weights,
    * clusters, metrics — is recomputed by the SQL itself).
    */
  def warmupDraws(
      seed: Long,
      attrs: Seq[String],
      ruleChoices: Seq[String],
      nTrials: Int): Seq[(Seq[ComparisonSpec], String, Seq[String])] = {
    require(nTrials <= 3, s"warmup covers the first 3 trials only, got $nTrials")
    val rnd = new Random(seed)
    (1 to nTrials).map(_ => drawTrial(rnd, attrs, ruleChoices, Seq.empty, "tpe"))
  }

  /** The search's data-dependent setup: the row count N, each attribute's number of
    * distinct non-null values (Y9) and the u pairs ([[Estimation.uSamplePairs]] at
    * `targetPairs = min(4N, 100000)`), read from `records`, the cached table of every
    * record. The u pool holds the same records, so one bounded probe of it,
    * [[Estimation.uPoolProbe]] at [[Estimation.uPoolCap]]`(100000)` rows, serves all
    * three: within the cap it holds every record, and N, the distinct counts and the
    * pairing come from its rows on the driver. It is the probe the u pairing would
    * read: for any N within it the pairing's own cap, 2·(min(4N, 100000) + 1), is at
    * least N, and past it the caps are equal. Past the cap the table is counted, the
    * distinct counts aggregated ([[EntropyMetrics.distinctCounts]]) and the pool
    * sampled.
    *
    * @param cap tests pass 0 to force the distributed path
    */
  private[graft] def searchSetup(
      records: DataFrame,
      uidCol: String,
      attrs: Seq[String],
      hashShuffle: Boolean,
      cap: Int = Estimation.uPoolCap(MaxUPairs)): Setup = {
    val probe = Estimation.uPoolProbe(records, uidCol, attrs, USeed, cap).collect()
    val local = probe.length <= cap
    val nRows = if (local) probe.length.toLong else records.count()
    // λ0 = 1/N: an empty input has no prior and nothing to link
    require(nRows > 0, "auto-link needs at least one input row")
    val uTargetPairs = math.min(nRows * 4, MaxUPairs)
    def uPairs = Estimation.uPairsFromProbe(records, uidCol, attrs, probe, cap,
      uTargetPairs, hashShuffle, USeed, Some(nRows))
    if (local) {
      // probe rows: _rank, uid, then the attributes as strings
      val distinct = attrs.indices.map { i =>
        attrs(i) -> probe.iterator.map(_.getString(2 + i)).filter(_ != null).toSet.size.toLong
      }.toMap
      Setup(nRows, distinct, uPairs)
    } else onDriverThreads(2) { implicit ec =>
      val distinct = Future(EntropyMetrics.distinctCounts(records, attrs))
      val pairs = Future(uPairs)
      Setup(nRows, await(distinct), await(pairs))
    }
  }

  private[graft] case class Setup(nRows: Long, distinct: Map[String, Long], uPairs: DataFrame)

  private val MaxUPairs = 100000L
  private val USeed = 42L

  /** The trial loop shared by dedupe and link mode: set up ([[searchSetup]], then the
    * candidate rules and the Y9 adjusted base) → per trial draw params → train →
    * predict → cluster → unsupervised metric (+ supervised metrics when a label is
    * given). `clusterBase` holds every record (the union of both tables in link mode),
    * cached.
    */
  private def runSearch(
      trainDf: DataFrame,
      linkRight: Option[DataFrame],
      clusterBase: DataFrame,
      uidCol: String,
      attrs: Seq[String],
      candidateRuleOverride: Option[Seq[String]],
      comparisonSizeLimit: Long,
      maxEvals: Int,
      seed: Long,
      strategy: String,
      clusterThreshold: Double,
      trueLabelCol: Option[String],
      uDeterministicOrder: Boolean): Result = {

    val Setup(nRows, distinct, uPairsLocal) =
      searchSetup(clusterBase, uidCol, attrs, hashShuffle = !uDeterministicOrder)
    val rnd = new Random(seed)
    var best: Option[(Trial, DataFrame, DataFrame)] = None
    val past = scala.collection.mutable.ArrayBuffer[Trial]()
    val tracker = new graft.util.CheckpointTracker(trainDf.sparkSession)
    try {
    // rule generation reads the cached input, the u pairs' checkpoint only the
    // driver-built table: they overlap on driver threads. The u pair table is
    // spec-independent: checkpointed once for the whole search, so each trial's u
    // counts read at most 100000 checkpointed pairs.
    val (rules, uPairs) = onDriverThreads(2) { implicit ec =>
      val rules = Future(candidateRuleOverride.getOrElse(
        candidateRules(clusterBase, nRows, attrs, comparisonSizeLimit, seed)))
      val pairs = Future(tracker.rotate(uPairsLocal))
      (await(rules), await(pairs))
    }
    val adjustedBase = distinct.values.max.toInt
    // a rule on a column without a non-null value pairs nothing (SQL `=` never
    // matches null keys): drop it before any draw
    def pairsSomething(rule: String) =
      BlockingRule.parse(rule).columns.forall(c => distinct.get(c).forall(_ > 0))
    val ruleChoices = Some(rules.filter(pairsSomething)).filter(_.nonEmpty)
      // robustness fallback (the reference would raise): single-column rules
      .getOrElse(attrs.map(c => s"l.$c = r.$c").filter(pairsSomething))
    require(ruleChoices.nonEmpty,
      "auto-link needs an attribute column with at least one non-null value")

    // one full trial: train → predict → cluster → metrics. Pure function of its
    // draw (plus the shared loop invariants) — no session-global state, no
    // scoped persists, CheckpointTracker instances are per-call — so trials whose
    // draws are known upfront may run on concurrent driver threads.
    def runTrial(specs: Seq[ComparisonSpec], rule: String, trainingRules: Seq[String])
        : (Trial, DataFrame, DataFrame) = {
      val model = Estimation.train(trainDf, uidCol, specs, Seq(rule), trainingRules,
        linkRight = linkRight, uPairs = Some(uPairs),
        nRows = Some(nRows))
      val predictions = FellegiSunter.predict(trainDf, uidCol, model, right = linkRight)
      val (clusters, metric) = clusterAndScore(clusterBase, uidCol, predictions,
        clusterThreshold, attrs, adjustedBase)
      val supervised = trueLabelCol.map { label =>
        val labelDf = clusterBase.select(col(uidCol), col(label))
        rowToMap(PairwiseMetrics.confusionMetrics(
          labelDf, predictions, clusterThreshold, uidCol, label)) ++
          rowToMap(ClusteringMetrics.metrics(clusters, label))
      }.getOrElse(Map.empty[String, Double])
      (Trial(model, metric, rule, supervised), clusters, predictions)
    }
    def record(trial: Trial, clusters: DataFrame, predictions: DataFrame): Unit = {
      // strict > keeps the sequential tie-breaking: first trial wins ties
      if (best.isEmpty || trial.metric > best.get._1.metric)
        best = Some((trial, clusters, predictions))
      past += trial
    }

    // Warmup trials (the first ≤3) draw UNIFORMLY — drawParams ignores `past` while
    // past.size < warmup — so their draws are taken upfront, consuming the seeded RNG
    // in the sequential order, and the trials overlap on driver threads: a trial is
    // dozens of small jobs with straggler tails, and the scheduler back-fills idle
    // cores with the sibling trial's tasks. `record` folds in draw order, so the
    // result is bit-identical to the sequential loop.
    val nWarm = math.min(maxEvals, 3)
    val warmDraws =
      (1 to nWarm).map(_ => drawTrial(rnd, attrs, ruleChoices, Seq.empty, strategy))
    onDriverThreads(nWarm) { implicit ec =>
      warmDraws.map { case (s, r, t) => Future(runTrial(s, r, t)) }.map(await)
    }.foreach { case (t, c, p) => record(t, c, p) }
    // post-warmup trials draw from `past` — inherently sequential
    ((nWarm + 1) to maxEvals).foreach { _ =>
      val (specs, rule, trainingRules) =
        drawTrial(rnd, attrs, ruleChoices, past.toSeq, strategy)
      val (t, c, p) = runTrial(specs, rule, trainingRules)
      record(t, c, p)
    }
    } finally tracker.close()

    val (b, clusters, predictions) = best.get
    Result(b, clusters, predictions, past.toSeq)
  }

  /** Runs `body` with `threads` driver threads to start its futures on; one thread
    * runs them inline on the caller's. Await futures in input order so a failure
    * rethrows the first in input order.
    */
  private def onDriverThreads[A](threads: Int)(body: ExecutionContext => A): A =
    if (threads <= 1) body(ExecutionContext.parasitic)
    else {
      val pool = Executors.newFixedThreadPool(threads)
      try body(ExecutionContext.fromExecutor(pool))
      finally pool.shutdown()
    }

  private def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  /** First row of a 1-row metric frame as name → double (longs widened). */
  private def rowToMap(df: DataFrame): Map[String, Double] = {
    val row = df.collect()(0)
    row.schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None
      else f.dataType match {
        case DoubleType => Some(f.name -> row.getDouble(i))
        case LongType => Some(f.name -> row.getLong(i).toDouble)
        case _ => None
      }
    }.toMap
  }
}
