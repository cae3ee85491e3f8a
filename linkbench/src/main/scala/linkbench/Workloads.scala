package linkbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.auto.AutoLinker
import graft.blocking.{BlockingRule, PairGenerator, RuleGen}
import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.metrics.EntropyMetrics
import graft.schemamatch.SchemaMatch
import graft.score.FellegiSunter
import graft.textops.Dedup
import graft.train.Estimation
import graft.util.{Caching, CheckpointTracker, Partitioning}

/** What one end-to-end call returned, reduced to what the checks compare: the
  * output row count, record id → cluster id, the search's trial metrics and best
  * rule (linkage), and the keeper ids (text dedup).
  */
final case class CallOut(
    rows: Int,
    clusterOf: Map[String, String],
    trialMetrics: Seq[Double] = Nil,
    bestRule: String = "",
    keepers: Set[String] = Set.empty)

/** One workload's inputs, loaded into a session and ready to be called.
  *
  * @param fingerprint input row count and content hash
  * @param truth       record id → true entity, kept away from the program
  */
abstract class Prepared(val fingerprint: String, truth: Map[String, Int]) {
  private var first: Option[CallOut] = None

  /** One call through the public API, outputs collected to the driver. */
  def call(): CallOut

  /** Re-run the call stage by stage through each layer's public functions inside
    * `spans`; returns check failures against `reference`, an untraced call's output.
    */
  def replay(spans: Spans, reference: CallOut): Seq[String]

  /** Workload-specific output checks. */
  protected def outputErrors(out: CallOut): Seq[String] = Nil

  /** Output checks on one call; empty when it passed. Every input id must come
    * back exactly once with a cluster id, and every call must return what the
    * first one did.
    */
  def check(out: CallOut): Seq[String] = {
    val coverage =
      if (out.rows != truth.size || out.clusterOf.keySet != truth.keySet ||
          out.clusterOf.values.exists(_ == null))
        Seq(s"${out.rows} output rows with ${out.clusterOf.size} distinct ids and " +
          s"${out.clusterOf.values.count(_ == null)} null cluster ids for ${truth.size} inputs")
      else Nil
    val repeat = first.filterNot(Workload.sameOutput(_, out)).map(f =>
      s"output differs from the first call's (trial metrics ${out.trialMetrics} vs " +
        s"${f.trialMetrics}, best rule '${out.bestRule}' vs '${f.bestRule}')").toSeq
    if (first.isEmpty) first = Some(out)
    coverage ++ outputErrors(out) ++ repeat
  }

  /** Pairwise F1 of the returned clusters against the generator's truth. */
  def pairF1(out: CallOut): Double = Workload.pairF1(out.clusterOf, truth)
}

sealed abstract class Workload(val name: String) {
  def prepare(spark: SparkSession, seed: Long): Prepared
}

object Workload {
  /** Search seed of every linkage call. The run seed varies the records; a fixed
    * search seed keeps the trial draws, and with them the work per call, the same
    * across run seeds (drawing it from the run seed too moved wall_s by 17% and
    * task_s by 22%, quartile spread over five seeds).
    */
  val SearchSeed = 42L

  val all: Seq[Workload] = Seq(DedupePeople, LinkManyTrials, NearDupDocs)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  private[linkbench] def c2(n: Long): Double = n * (n - 1) / 2.0

  /** Pairwise F1 of a record → cluster assignment against record → true entity. */
  def pairF1(clusterOf: Map[String, String], truth: Map[String, Int]): Double = {
    val predicted = clusterOf.groupBy(_._2).values.map(m => c2(m.size)).sum
    val actual = clusterOf.keys.groupBy(truth).values.map(m => c2(m.size)).sum
    val tp = clusterOf.groupBy { case (u, c) => (c, truth(u)) }.values
      .map(m => c2(m.size)).sum
    if (tp == 0) 0.0
    else {
      val p = tp / predicted
      val r = tp / actual
      2 * p * r / (p + r)
    }
  }

  private def sameBits(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    }

  /** Equal outputs, trial metrics compared bit for bit. */
  def sameOutput(a: CallOut, b: CallOut): Boolean =
    sameBits(a.trialMetrics, b.trialMetrics) &&
      a.copy(trialMetrics = Nil) == b.copy(trialMetrics = Nil)

  /** The collected (uid, cluster_id) rows of a linkage result. */
  def linkageOut(r: AutoLinker.Result): CallOut = {
    val rows = r.clusters.select("uid", "cluster_id").collect()
    CallOut(rows.length, rows.map(x => x.getString(0) -> x.getString(1)).toMap,
      r.trials.map(_.metric), r.best.blockingRule)
  }

  def replayCheck(replayed: Seq[Double], reference: CallOut): Seq[String] = {
    val expected = reference.trialMetrics.take(replayed.size)
    if (sameBits(replayed, expected)) Nil
    else Seq(s"replayed trial metrics $replayed differ from autoLink's $expected")
  }

  /** Per-trial stage replay shared by dedupe and link mode; mirrors
    * `AutoLinker.runSearch` for the warmup trials, one stage per span.
    */
  def replayTrials(
      spans: Spans,
      trainDf: DataFrame,
      linkRight: Option[DataFrame],
      clusterBase: DataFrame,
      uid: String,
      attrs: Seq[String],
      n: Long,
      rules: Seq[String],
      trials: Int,
      clusterThreshold: Double): Seq[Double] = {
    val adjustedBase = spans("max_distinct") {
      EntropyMetrics.maxDistinct(clusterBase, attrs).toInt
    }
    val uTarget = math.min(n * 4, 100000L)
    val spark = trainDf.sparkSession
    val tracker = new CheckpointTracker(spark)
    try {
      val uSource = linkRight match {
        case Some(right) =>
          val shared = (trainDf.columns.toSet intersect right.columns.toSet).toSeq.sorted
          trainDf.select(shared.map(col): _*).unionByName(right.select(shared.map(col): _*))
        case None => trainDf
      }
      val uPairs = spans("u_pairs") {
        tracker.rotate(Estimation.uSamplePairs(uSource, uid, attrs, uTarget,
          hashShuffle = true, seed = 42L, tracker))
      }
      AutoLinker.warmupDraws(SearchSeed, attrs, rules, trials).map { case (specs, rule, trainingRules) =>
        val model = spans("train") {
          Estimation.train(trainDf, uid, specs, Seq(rule), trainingRules,
            uTargetPairs = uTarget, linkRight = linkRight, uPairs = Some(uPairs),
            nRows = Some(n))
        }
        val parsed = model.blockingRules.map(BlockingRule.parse)
        val carried = (model.comparisons.map(_.column) ++ parsed.flatMap(_.columns)).distinct
        val candidates = spans("pairs") {
          (linkRight match {
            case Some(right) => PairGenerator.linkPairs(trainDf, right, uid, carried, parsed)
            case None => PairGenerator.dedupePairs(trainDf, uid, carried, parsed)
          }).count()
        }
        spans.count("pairs.candidates", candidates)
        val predictions = spans("predict") {
          val p = (linkRight match {
            case Some(right) => FellegiSunter.predictLink(trainDf, right, uid, model)
            case None => FellegiSunter.predict(trainDf, uid, model)
          }).cache()
          spans.count("predict.pairs", p.count())
          p
        }
        val clusters = spans("cluster") {
          val edges = predictions
            .filter(col("match_probability") >= clusterThreshold)
            .select(col("uid_l").as("src"), col("uid_r").as("dst"))
          spans.count("cluster.edges", edges.count())
          val c = ConnectedComponents.assignClusters(clusterBase, uid, edges).cache()
          val sizes = c.groupBy("cluster_id").count().agg(count(lit(1)), max("count"))
            .collect()(0)
          spans.count("cluster.clusters", sizes.getLong(0))
          spans.counts("cluster.max_size") =
            math.max(spans.counts.getOrElse("cluster.max_size", 0L), sizes.getLong(1))
          c
        }
        val metric = spans("ig") {
          EntropyMetrics.informationGainPowerRatio(clusters, attrs, adjustedBase)
        }
        clusters.unpersist()
        predictions.unpersist()
        metric
      }
    } finally tracker.close()
  }

  /** `AutoLinker`'s candidate-rule step: rules from a ≤10k sample, size-limited. */
  def candidateRules(spans: Spans, df: DataFrame, n: Long, attrs: Seq[String],
      limit: Long): Seq[String] = spans("rulegen") {
    val sample =
      if (n > 10000) df.sample(withReplacement = false, 10000.0 / n, SearchSeed) else df
    val candidates = RuleGen.generateBlockingRules(sample, 1, 2, attrs, SearchSeed).cache()
    try {
      val accepted = candidates.filter(col("rule_squared_count") < limit)
        .select("splink_rule").collect().map(_.getString(0)).toSeq
      val rules = if (accepted.nonEmpty) accepted else attrs.map(c => s"l.$c = r.$c")
      spans.count("rulegen.rules", rules.size)
      rules
    } finally candidates.unpersist()
  }
}

import Workload._

/** `autoLink` dedupe mode on one person table. */
object DedupePeople extends Workload("dedupe_people") {
  val Entities = 2000
  val Trials = 3
  val ClusterThreshold = 0.8
  val SizeLimit = 100000L

  def prepare(spark: SparkSession, seed: Long): Prepared = {
    import spark.implicits._
    val people = Gen.people(seed, Entities)
    val data = people.rows.toDF().cache()
    data.count()
    new Prepared(Gen.fingerprint(people.rows), people.truth) {
      def call(): CallOut = linkageOut(AutoLinker.autoLink(data, uidCol = "uid",
        maxEvals = Trials, seed = SearchSeed, comparisonSizeLimit = SizeLimit,
        clusterThreshold = ClusterThreshold))

      def replay(spans: Spans, reference: CallOut): Seq[String] = {
        val attrs = data.columns.filterNot(_ == "uid").toSeq
        val stringified = Cleaning.withUniqueId(data, "uid").select(
          col("uid").cast("string").as("uid") +: attrs.map(c => col(c).cast("string").as(c)): _*)
        val replayed = spans("driver_gap") {
          val plan =
            Partitioning.spreadNarrowScan(Cleaning.cleanColumns(stringified, attrs, "all"))
          // drop the cache the untraced calls left, so `clean` measures real work
          plan.unpersist(blocking = true)
          val (cleaned, n) = spans("clean") {
            val c = plan.cache()
            (c, c.count())
          }
          val rules = candidateRules(spans, cleaned, n, attrs, SizeLimit)
          replayTrials(spans, cleaned, None, cleaned, "uid", attrs, n, rules,
            math.min(3, Trials), ClusterThreshold)
        }
        replayCheck(replayed, reference)
      }
    }
  }
}

/** Fixed-overhead linkage: `autoLinkTables` on two small tables with renamed
  * columns and a second date format; three concurrent warmup trials, then one
  * sequential TPE trial.
  */
object LinkManyTrials extends Workload("link_many_trials") {
  val Entities = 600
  val Trials = 4
  val ClusterThreshold = 0.8
  val SizeLimit = 100000L

  def prepare(spark: SparkSession, seed: Long): Prepared = {
    import spark.implicits._
    val (l, r) = Gen.linkPair(seed, Entities)
    val left = l.rows.toDF().cache()
    val right = r.rows.toDF()
      .toDF("uid", "given", "family", "birth", "town", "zip").cache()
    left.count(); right.count()
    val truth = l.truth.map { case (u, e) => s"l-$u" -> e } ++
      r.truth.map { case (u, e) => s"r-$u" -> e }
    new Prepared(Gen.fingerprint(l.rows ++ r.rows), truth) {
      def call(): CallOut = linkageOut(AutoLinker.autoLinkTables(left, right, uidCol = "uid",
        maxEvals = Trials, seed = SearchSeed, comparisonSizeLimit = SizeLimit,
        clusterThreshold = ClusterThreshold))

      def replay(spans: Spans, reference: CallOut): Seq[String] = {
        val lAttrs = left.columns.filterNot(_ == "uid").toSeq
        val rAttrs = right.columns.filterNot(_ == "uid").toSeq
        val replayed = spans("driver_gap") {
          val mapping = spans("schemamatch") {
            SchemaMatch.greedyMapping(left, right, lAttrs, rAttrs)
          }
          val attrs = mapping.map(_._1)
          def prep(df: DataFrame, tag: String, sel: Seq[(String, String)]) =
            Partitioning.spreadNarrowScan(Cleaning.cleanColumns(
              Cleaning.withUniqueId(df, "uid").select(
                concat(lit(tag), col("uid").cast("string")).as("uid") +:
                  sel.map { case (out, in) => col(in).cast("string").as(out) }: _*),
              attrs, "all"))
          val lPlan = prep(left, "l-", attrs.map(a => a -> a))
          val rPlan = prep(right, "r-", mapping.map { case (lc, rc, _) => lc -> rc })
          // drop the caches the untraced calls left, so `clean` measures real work
          lPlan.unionByName(rPlan).unpersist(blocking = true)
          lPlan.unpersist(blocking = true)
          rPlan.unpersist(blocking = true)
          val (cleanedL, cleanedR, union, n) = spans("clean") {
            val cl = lPlan.cache()
            val cr = rPlan.cache()
            val u = cl.unionByName(cr).cache()
            (cl, cr, u, u.count())
          }
          val rules = candidateRules(spans, union, n, attrs, SizeLimit)
          replayTrials(spans, cleanedL, Some(cleanedR), union, "uid", attrs, n, rules,
            math.min(3, Trials), ClusterThreshold)
        }
        replayCheck(replayed, reference)
      }
    }
  }
}

/** Text dedup: MinHash-LSH candidate pairs, then connected-component keepers. */
object NearDupDocs extends Workload("near_dup_docs") {
  val Docs = 4000
  val Threshold = 0.5

  def prepare(spark: SparkSession, seed: Long): Prepared = {
    import spark.implicits._
    val corpus = Gen.corpus(seed, Docs)
    val docs = corpus.rows.toDF().cache()
    docs.count()
    new Prepared(Gen.fingerprint(corpus.rows), corpus.truth) {
      /** The documented call: the LSH caches live for the `withCached` bracket.
        * `pairsSpan` and `dedupeSpan` wrap the two stages for the traced replay.
        */
      private def dedupe(pairsSpan: (=> DataFrame) => DataFrame,
          dedupeSpan: (=> Array[Row]) => Array[Row]): CallOut = Caching.withCached {
        val pairs = pairsSpan(Dedup.minhashLshPairs(docs, "id", "text", Threshold))
        val rows = dedupeSpan(Dedup.deduplicate(docs, "id", pairs)
          .select("id", "cluster_id", "is_keeper").collect())
        CallOut(rows.length, rows.map(x => x.getString(0) -> x.getString(1)).toMap,
          keepers = rows.filter(_.getBoolean(2)).map(_.getString(0)).toSet)
      }

      def call(): CallOut = dedupe(p => p, r => r)

      override protected def outputErrors(out: CallOut): Seq[String] = {
        val clusters = out.clusterOf.values.toSet.size
        if (out.keepers.size == clusters && out.keepers.map(out.clusterOf).size == clusters) Nil
        else Seq(s"${out.keepers.size} keepers in ${out.keepers.map(out.clusterOf).size} " +
          s"of $clusters clusters, expected exactly one per cluster")
      }

      def replay(spans: Spans, reference: CallOut): Seq[String] = {
        val out = spans("driver_gap") {
          dedupe(
            p => spans("minhash") {
              val c = Caching.persist(p)
              spans.count("minhash.pairs", c.count())
              c
            },
            r => spans("dedupe") {
              val rows = r
              spans.count("dedupe.keepers", rows.count(_.getBoolean(2)))
              rows
            })
        }
        if (Workload.sameOutput(out, reference)) Nil
        else Seq("replayed dedup output differs from the untraced call's")
      }
    }
  }
}
