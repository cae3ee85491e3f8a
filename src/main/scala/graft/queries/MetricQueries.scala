package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.metrics.{ClusteringMetrics, EntropyMetrics, PairwiseMetrics, Preference, Profile}
import graft.model.ComparisonSpec
import graft.schemamatch.SchemaMatch
import graft.score.FellegiSunter
import graft.train.Estimation
import graft.queries.Fixtures.cust

/** SparkEntry query + oracle entries for cleaning, metrics, schema matching and training
  * (SURVEY §2.3 Y1-Y18, §2.4 J4-J5).
  */
object MetricQueries {

  private def custTruth(s: SparkSession, dir: String): DataFrame =
    cust(s, dir)
      .withColumn("uid", col("c_custkey").cast("string"))
      .withColumn("truth", (col("c_custkey") % 30).cast("string"))
      .withColumn("c_nationkey", col("c_nationkey").cast("string"))

  private val uSpecs = Seq(
    ComparisonSpec("c_name", "levenshtein", 3),
    ComparisonSpec("c_mktsegment", "jaro_winkler", 0.9))

  /** Pairwise-preference fixture: 50 pseudo-models (`l_suppkey % 50` as string);
    * within each order the models' MAX(l_extendedprice) compete pairwise — MAX,
    * not SUM, so the compared score is bit-exact in any engine and the winner
    * never depends on summation order. Strict ties are dropped. Replicated
    * verbatim in the oracle CTEs.
    */
  private def duels(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_orderkey").as("o"),
        (col("l_suppkey") % 50).cast("string").as("m"))
      .agg(max(col("l_extendedprice")).as("sc"))
    val a = li.select(col("o"), col("m").as("ma"), col("sc").as("sa"))
    val b = li.select(col("o"), col("m").as("mb"), col("sc").as("sb"))
    a.join(b, Seq("o")).filter(col("ma") < col("mb") && col("sa") =!= col("sb"))
      .select(
        when(col("sa") > col("sb"), col("ma")).otherwise(col("mb")).as("winner"),
        when(col("sa") > col("sb"), col("mb")).otherwise(col("ma")).as("loser"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // arena-style pairwise win-rate matrix over the duel fixture — one hash agg
    "pref_winrate" -> { (s, dir) =>
      Preference.winRates(duels(s, dir), "winner", "loser")
        .select(col("item_a"), col("item_b"), col("games"), col("wins_a"),
          col("wins_b"), round(col("winrate_a"), 6).as("winrate_a"))
        .orderBy("item_a", "item_b")
    },
    // leaderboard win rates with Wilson 95% intervals — one agg, closed form
    "pref_wilson_ci" -> { (s, dir) =>
      Preference.winRateCi(duels(s, dir), "winner", "loser")
        .select(col("item"), col("games"), col("wins"),
          round(col("win_rate"), 6).as("win_rate"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("item")
    },
    // DPO preference-pair prep: per prompt (order) the best-vs-worst response
    // pair with a minimum margin — two struct-extrema in ONE hash agg, no windows
    "ep14_dpo_pairs" -> { (s, dir) =>
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey").as("prompt_id"),
          (col("l_suppkey") % 50).cast("string").as("m"))
        .agg(max(col("l_extendedprice")).as("sc"))
      li.groupBy("prompt_id")
        .agg(max(struct(col("sc"), col("m"))).as("best"),
          min(struct(col("sc"), col("m"))).as("worst"),
          count(lit(1)).as("n_models"))
        .filter(col("n_models") >= 2)
        .select(col("prompt_id"), col("best.m").as("chosen"),
          col("worst.m").as("rejected"),
          round(col("best.sc") - col("worst.sc"), 6).as("margin"))
        .filter(col("margin") >= 5000.0)
        .orderBy("prompt_id")
    },
    // Bradley–Terry strengths, 10 fixed MM rounds — FULL oracle via the generated
    // iteration chain (the graph_pagerank pattern)
    "pref_bt_scores" -> { (s, dir) =>
      Preference.btScores(duels(s, dir), "winner", "loser", iters = 10)
        .select(col("item"), round(col("score"), 6).as("score"))
        .orderBy("item")
    },
    "y1_clean" -> { (s, dir) =>
      Cleaning.cleanColumns(
          cust(s, dir).select(col("c_custkey").cast("string").as("uid"),
            col("c_name").as("cleaned")),
          Seq("cleaned"))
        .orderBy("uid")
    },
    "y2_null_sentinel" -> { (s, dir) =>
      Cleaning.nullSentinel(
          cust(s, dir).select(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg")),
          Seq("seg"))
        .groupBy("seg").agg(count(lit(1)).as("cnt"))
        .orderBy("seg")
    },
    "y7_entropy_by_cluster" -> { (s, dir) =>
      import s.implicits._
      val df = cust(s, dir)
        .withColumn("cluster_id", col("c_nationkey").cast("string"))
      val ent = EntropyMetrics.datasetEntropy(df, Seq("c_mktsegment"), byCluster = true)
      Seq(("c_mktsegment", BigDecimal(ent("c_mktsegment"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("column", "mean_entropy")
    },
    "y8_ig_power_ratio" -> { (s, dir) =>
      import s.implicits._
      val df = cust(s, dir)
        .withColumn("cluster_id", col("c_nationkey").cast("string"))
        .withColumn("k", (col("c_custkey") % 10).cast("string"))
        .withColumn("c_mktsegment", col("c_mktsegment").cast("string"))
      val attrs = Seq("c_mktsegment", "k")
      val u = EntropyMetrics.maxDistinct(df, attrs).toInt
      val m = EntropyMetrics.informationGainPowerRatio(df, attrs, u)
      Seq(BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toDF("ig_power_ratio")
    },
    "y9_max_distinct" -> { (s, dir) =>
      import s.implicits._
      val df = cust(s, dir)
      Seq(EntropyMetrics.maxDistinct(df, Seq("c_mktsegment", "c_nationkey"))).toDF("u")
    },
    "y10_schema_match" -> { (s, dir) =>
      import s.implicits._
      val left = cust(s, dir).select(col("c_mktsegment"), col("c_nationkey"))
      val right = cust(s, dir).select(
        col("c_mktsegment").as("segment2"), col("c_nationkey").as("nation2"))
      SchemaMatch.pairingCounts(left, right,
          Seq("c_mktsegment", "c_nationkey"), Seq("segment2", "nation2"))
        .orderBy("left_col", "right_col")
    },
    "y20_profile_columns" -> { (s, dir) =>
      // native profile_columns: per-column counts, modal value, entropy — includes a
      // null-bearing column to exercise the non-null accounting
      val df = cust(s, dir).select(
        col("c_mktsegment"), col("c_nationkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_null"))
      Profile.profileColumns(df, Seq("c_mktsegment", "c_nationkey", "seg_null"))
        .select(col("col_name"), col("n_rows"), col("n_nonnull"), col("n_distinct"),
          col("top_value"), col("top_count"), round(col("entropy"), 6).as("entropy"))
        .orderBy("col_name")
    },
    // pairwise column association: MI / NMI / Cramér's V; the nation join plants
    // a true functional dependency (n_name → n_regionkey) next to a near-
    // independent pair (segment vs nation)
    "prof_association" -> { (s, dir) =>
      val j = cust(s, dir).join(s.read.parquet(s"$dir/nation.parquet"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("id"), col("c_mktsegment"),
          col("n_name"), col("n_regionkey"))
      graft.metrics.Association
        .pairwiseStats(j, "id", Seq("c_mktsegment", "n_name", "n_regionkey"))
        .orderBy("col_a", "col_b")
    },
    "y17_confusion_metrics" -> { (s, dir) =>
      // round-robin spread: the predict expansion otherwise runs on the single
      // scan task (see AutoLinker's repartition note); the confusion aggregation
      // is count-based, so the result is partition-layout-proof
      val df = custTruth(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val preds = FellegiSunter.predict(df, "uid", LinkageQueries.demoModel)
      val m = PairwiseMetrics.confusionMetrics(df, preds, 0.05, "uid", "truth",
        assumeUniquePairs = true) // predict output enforces uid_l < uid_r uniqueness
      m.select(col("tp"), col("fp"), col("pr"), col("rr"),
        round(col("precision"), 6).as("precision"), round(col("recall"), 6).as("recall"),
        round(col("f1_score"), 6).as("f1_score"), round(col("jaccard"), 6).as("jaccard"))
    },
    "y18_clustering_metrics" -> { (s, dir) =>
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
      val df = custTruth(s, dir)
        .withColumn("cluster_id", min("uid").over(w))
      ClusteringMetrics.metrics(df, "truth")
        .select(
          round(col("mutual_info"), 6).as("mutual_info"),
          round(col("normalized_mutual_info"), 6).as("normalized_mutual_info"),
          round(col("adjusted_rand"), 6).as("adjusted_rand"),
          round(col("rand"), 6).as("rand"),
          round(col("fowlkes_mallows"), 6).as("fowlkes_mallows"),
          round(col("homogeneity"), 6).as("homogeneity"),
          round(col("completeness"), 6).as("completeness"),
          round(col("v_measure"), 6).as("v_measure"))
    },
    "y18_bcubed" -> { (s, dir) =>
      // B-cubed precision/recall/F1 over the same clustering y18 scores: the
      // record-weighted ER audit metric (one giant wrong merge cannot hide behind
      // many small correct clusters). Pure aggregation — unlike y18's AMI there is
      // no driver-side contingency collect, so this is the variant that survives
      // contingencies too large for a driver.
      val w = Window.partitionBy("c_nationkey", "c_mktsegment")
      val df = custTruth(s, dir)
        .withColumn("cluster_id", min("uid").over(w))
      ClusteringMetrics.bcubed(df, "truth")
        .select(
          round(col("bcubed_precision"), 6).as("bcubed_precision"),
          round(col("bcubed_recall"), 6).as("bcubed_recall"),
          round(col("bcubed_f1"), 6).as("bcubed_f1"))
    },
    "j4_u_estimation" -> { (s, dir) =>
      import s.implicits._
      val df = custTruth(s, dir)
      val n = df.count()
      val u = Estimation.estimateU(df, "uid", uSpecs, targetPairs = 2 * n,
        hashShuffle = false) // uid order so the SQL oracle reproduces the pairing
      uSpecs.flatMap(spec =>
        (0 until spec.numLevels).map(g =>
          (spec.column, g, BigDecimal(u(spec.column)(g))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        .toDF("column", "gamma", "u")
        .orderBy("column", "gamma")
    },
    "j5_em_train" -> { (s, dir) =>
      import s.implicits._
      // converged EM — FULL oracle: tol-based stop over a fixed maxIter=25 cap is
      // a closed form once each unrolled iteration FREEZES after the first
      // convergent step (done-flag chain); outputs round to 6 because the
      // driver loop sums patterns in its own order, not DuckDB's aggregation
      // order, so the two differ at the ULP
      val df = custTruth(s, dir)
      val specs = Seq(
        ComparisonSpec("c_name", "levenshtein", 3),
        ComparisonSpec("c_acctbal", "levenshtein", 2))
      val (lambda, m, uEm) = Estimation.emTrain(
        df.withColumn("c_acctbal", col("c_acctbal").cast("string")),
        "uid", specs,
        graft.blocking.BlockingRule.parse(
          "l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment"),
        u = specs.map(sp => sp.column -> Estimation.DefaultU).toMap,
        initialLambda = 0.01)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      m.toSeq.sortBy(_._1).flatMap { case (c, arr) =>
        arr.zipWithIndex.map { case (v, g) =>
          (c, g, r6(v), r6(uEm(c)(g)), r6(lambda)) }
      }.toDF("column", "gamma", "m", "u", "lambda")
    })

  /** GENERATED converged-EM oracle: [[LinkageQueries]]' two-iteration chain
    * extended to the full tol-stopped loop. Each unrolled iteration carries a
    * single-row parameter CTE (λ, m, u per gamma level, done flag); once an
    * iteration's max parameter delta drops to tol = 0.01 the chain FREEZES
    * (done propagates, frozen params pass through), which replays the driver
    * loop's data-dependent early stop exactly under the fixed maxIter=25 cap.
    * Ladders, floors (1e-9), clamps, and the left-to-right E-step products
    * mirror the driver E-step and M-step of `Estimation.emSessions`.
    */
  private def emTrainChainSql(maxIter: Int): String = {
    val specs = Seq(
      ComparisonSpec("c_name", "levenshtein", 3),
      ComparisonSpec("c_acctbal", "levenshtein", 2)).zipWithIndex
    val lam0 = "0.01"
    def d(x: Double): String = graft.util.Render.sqlDouble(x)
    val gammas = specs.map { case (sp, i) =>
      s"(${LinkageQueries.gammaPairSql(s"l.${sp.column}", s"r.${sp.column}", sp)
        .replace('\n', ' ')}) AS g$i" }.mkString(",\n    ")
    val p0Cols = (s"$lam0 AS lam" +:
      specs.flatMap { case (sp, i) =>
        (0 until sp.numLevels).flatMap(g => Seq(
          s"${d(Estimation.DefaultM(g))} AS m_${i}_$g",
          s"${d(Estimation.DefaultU(g))} AS u_${i}_$g"))
      } :+ "FALSE AS done").mkString(",\n    ")
    def ladder(prev: String, a: String, p: String, i: Int, n: Int) =
      s"(CASE $a " + (0 until n).map(g => s"WHEN $g THEN $prev.${p}_${i}_$g")
        .mkString(" ") + " ELSE 1.0 END)"
    def iteration(it: Int): String = {
      val prev = s"p${it - 1}"
      val num = (s"$prev.lam" +: specs.map { case (sp, i) =>
        ladder(prev, s"g$i", "m", i, sp.numLevels) }).mkString(" * ")
      val den = (s"(1.0 - $prev.lam)" +: specs.map { case (sp, i) =>
        ladder(prev, s"g$i", "u", i, sp.numLevels) }).mkString(" * ")
      val sums = specs.flatMap { case (sp, i) =>
        (0 until sp.numLevels).flatMap(g => Seq(
          s"SUM(CASE WHEN g$i = $g THEN cnt * w ELSE 0.0 END) AS m_${i}_$g",
          s"SUM(CASE WHEN g$i = $g THEN cnt * (1.0 - w) ELSE 0.0 END) AS u_${i}_$g"))
      }.mkString(",\n    ")
      def refit(pfx: String, i: Int, g: Int, n: Int) = {
        val tot = (0 until n).map(h => s"${pfx}_${i}_$h").mkString(" + ")
        s"GREATEST(${pfx}_${i}_$g / GREATEST($tot, 1e-9), 1e-9)"
      }
      val nCols = (s"LEAST(GREATEST(sumw / total, 1e-9), 1.0 - 1e-9) AS lam" +:
        specs.flatMap { case (sp, i) =>
          (0 until sp.numLevels).flatMap(g => Seq(
            s"${refit("m", i, g, sp.numLevels)} AS m_${i}_$g",
            s"${refit("u", i, g, sp.numLevels)} AS u_${i}_$g"))
        }).mkString(",\n    ")
      val allParams = "lam" +: specs.flatMap { case (sp, i) =>
        (0 until sp.numLevels).flatMap(g => Seq(s"m_${i}_$g", s"u_${i}_$g")) }
      val frozen = allParams.map(c =>
        s"CASE WHEN d.done THEN d.$c ELSE n.$c END AS $c").mkString(",\n    ")
      val delta = allParams.map(c => s"ABS(n.$c - d.$c)").mkString("GREATEST(", ", ", ")")
      s"""w$it AS (
         |  SELECT pat.g0, pat.g1, pat.cnt, ($num) / (($num) + ($den)) AS w
         |  FROM pat, $prev
         |), s$it AS (
         |  SELECT SUM(cnt) AS total, SUM(cnt * w) AS sumw,
         |    $sums
         |  FROM w$it
         |), n$it AS (
         |  SELECT
         |    $nCols
         |  FROM s$it
         |), p$it AS MATERIALIZED (
         |  SELECT
         |    $frozen,
         |    (d.done OR $delta <= 0.01) AS done
         |  FROM $prev d, n$it n)""".stripMargin
    }
    val emit = specs.flatMap { case (sp, i) =>
      (0 until sp.numLevels).map(g =>
        s"SELECT '${sp.column}' AS \"column\", $g AS gamma, " +
          s"ROUND(m_${i}_$g, 6) AS m, ROUND(u_${i}_$g, 6) AS u, " +
          s"ROUND(lam, 6) AS lambda FROM p$maxIter")
    }.mkString("\nUNION ALL ")
    s"""WITH b AS (
       |  SELECT CAST(c_custkey AS VARCHAR) AS uid, c_name,
       |         CAST(c_acctbal AS VARCHAR) AS c_acctbal,
       |         CAST(c_nationkey AS VARCHAR) AS c_nationkey, c_mktsegment
       |  FROM customer
       |), pairs AS (
       |  SELECT
       |    $gammas
       |  FROM b l JOIN b r
       |    ON l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment
       |   AND l.uid < r.uid
       |), pat AS MATERIALIZED (
       |  SELECT g0, g1, COUNT(*)::DOUBLE AS cnt FROM pairs GROUP BY g0, g1
       |), p0 AS (
       |  SELECT
       |    $p0Cols
       |),
       |${(1 to maxIter).map(iteration).mkString(",\n")}
       |$emit
       |ORDER BY "column", gamma""".stripMargin
  }

  // ---- oracle SQL ----------------------------------------------------------

  /** Per-cluster base-0 entropy of one column, then mean across clusters. */
  private val y7Sql =
    """WITH pc AS (
      |  SELECT CAST(c_nationkey AS VARCHAR) AS cl, c_mktsegment AS v, COUNT(*)::DOUBLE AS c
      |  FROM customer GROUP BY 1, 2
      |), tot AS (
      |  SELECT cl, SUM(c) AS t, COUNT(*) AS d FROM pc GROUP BY cl
      |), e AS (
      |  SELECT pc.cl,
      |    -SUM((c/t)*LOG10(c/t)) / (CASE WHEN d<2 OR d=10 THEN 1.0 ELSE LOG10(d) END) AS ent
      |  FROM pc JOIN tot USING (cl) GROUP BY pc.cl, tot.d
      |)
      |SELECT 'c_mktsegment' AS "column", ROUND(AVG(ent), 6) AS mean_entropy FROM e""".stripMargin

  /** Entropy with explicit base b over the whole matched set and per-cluster mean, for
    * the two attribute columns of y8; matches EntropyMetrics.informationGainPowerRatio.
    * All clusters (nations) have >1 member so the matched subset is the whole table.
    */
  private val y8Sql = {
    def whole(colExpr: String, baseSql: String) =
      s"""(SELECT -SUM(p*LOG10(p))/LOG10($baseSql) FROM (
         |  SELECT COUNT(*)::DOUBLE/(SELECT COUNT(*) FROM customer) AS p
         |  FROM customer GROUP BY $colExpr))""".stripMargin
    def byCluster(colExpr: String, baseSql: String) =
      s"""(WITH pc AS (
         |  SELECT CAST(c_nationkey AS VARCHAR) AS cl, $colExpr AS v, COUNT(*)::DOUBLE AS c
         |  FROM customer GROUP BY 1, 2
         |), tot AS (SELECT cl, SUM(c) AS t FROM pc GROUP BY cl),
         |e AS (SELECT pc.cl, -SUM((c/t)*LOG10(c/t))/LOG10($baseSql) AS ent
         |      FROM pc JOIN tot USING (cl) GROUP BY pc.cl)
         |SELECT AVG(ent) FROM e)""".stripMargin
    val cNum = "(SELECT COUNT(*) FROM (SELECT c_nationkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1))"
    val uBase =
      """GREATEST((SELECT COUNT(DISTINCT c_mktsegment) FROM customer),
        |         (SELECT COUNT(DISTINCT c_custkey % 10) FROM customer))""".stripMargin
    val cols = Seq("c_mktsegment", "CAST(c_custkey % 10 AS VARCHAR)")
    val is = cols.map(c => s"(${whole(c, cNum)} - ${byCluster(c, cNum)})").mkString(" + ")
    val ia = cols.map(c => s"(${whole(c, uBase)} - ${byCluster(c, uBase)})").mkString(" + ")
    s"SELECT ROUND(POWER($is, $ia), 6) AS ig_power_ratio"
  }

  private val y10Sql = {
    def unpivot(pairs: Seq[(String, String)], alias: String) =
      pairs.map { case (name, c) =>
        s"SELECT '$name' AS $alias, lower(regexp_replace(CAST($c AS VARCHAR), '[^A-Za-z0-9 ]+', '', 'g')) AS v FROM customer"
      }.mkString(" UNION ALL ")
    s"""WITH l AS (${unpivot(Seq("c_mktsegment" -> "c_mktsegment", "c_nationkey" -> "c_nationkey"), "lc")}),
       |r AS (${unpivot(Seq("segment2" -> "c_mktsegment", "nation2" -> "c_nationkey"), "rc")}),
       |lg AS (SELECT lc, v, COUNT(*) AS n1 FROM l WHERE v IS NOT NULL GROUP BY 1, 2),
       |rg AS (SELECT rc, v, COUNT(*) AS n2 FROM r WHERE v IS NOT NULL GROUP BY 1, 2)
       |SELECT lc AS left_col, rc AS right_col, CAST(SUM(n1*n2) AS BIGINT) AS match_count
       |FROM lg JOIN rg USING (v) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val y17Sql = {
    val preds = LinkageQueries.predictPairsCte
    s"""$preds,
       |lbl AS (SELECT CAST(c_custkey AS VARCHAR) AS uid, CAST(c_custkey % 30 AS VARCHAR) AS t
       |        FROM customer),
       |cal AS (
       |  SELECT w.uid_l, w.uid_r, tl.t AS t_l, tr.t AS t_r
       |  FROM w JOIN lbl tl ON w.uid_l = tl.uid JOIN lbl tr ON w.uid_r = tr.uid
       |  WHERE POWER(2.0, mw) / (1.0 + POWER(2.0, mw)) > 0.05
       |), agg0 AS (
       |  SELECT SUM(CASE WHEN t_l = t_r THEN 1 ELSE 0 END) AS tp0,
       |         SUM(CASE WHEN t_l <> t_r THEN 1 ELSE 0 END) AS fp0,
       |         COUNT(*) AS pr0
       |  FROM cal
       |), agg AS (
       |  SELECT CAST(COALESCE(tp0, 0) AS BIGINT) AS tp, CAST(COALESCE(fp0, 0) AS BIGINT) AS fp,
       |         CAST(COALESCE(pr0, 0) AS BIGINT) AS pr
       |  FROM agg0
       |), rr AS (
       |  SELECT CAST(SUM(cnt*(cnt-1)//2) AS BIGINT) AS rr FROM
       |    (SELECT COUNT(*) AS cnt FROM lbl GROUP BY t)
       |)
       |SELECT tp, fp, pr, rr.rr AS rr,
       |  ROUND(CASE WHEN pr > 0 THEN tp::DOUBLE/pr ELSE 0 END, 6) AS precision,
       |  ROUND(CASE WHEN rr.rr > 0 THEN tp::DOUBLE/rr.rr ELSE 0 END, 6) AS recall,
       |  ROUND(CASE WHEN pr > 0 AND rr.rr > 0 AND (tp::DOUBLE/pr + tp::DOUBLE/rr.rr) > 0
       |        THEN 2*(tp::DOUBLE/pr)*(tp::DOUBLE/rr.rr)/((tp::DOUBLE/pr)+(tp::DOUBLE/rr.rr))
       |        ELSE 0 END, 6) AS f1_score,
       |  ROUND(CASE WHEN pr + fp > 0 THEN tp::DOUBLE/(pr + fp) ELSE 0 END, 6) AS jaccard
       |FROM agg, rr""".stripMargin
  }

  private val y18Sql =
    """WITH base AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS uid, CAST(c_custkey % 30 AS VARCHAR) AS t0,
      |         MIN(CAST(c_custkey AS VARCHAR))
      |           OVER (PARTITION BY c_nationkey, c_mktsegment) AS c0
      |  FROM customer
      |), masked AS (
      |  SELECT CASE WHEN COUNT(*) OVER (PARTITION BY t0) = 1 THEN '-1' ELSE t0 END AS t,
      |         CASE WHEN COUNT(*) OVER (PARTITION BY c0) = 1 THEN '-1' ELSE c0 END AS c
      |  FROM base
      |), cont AS (SELECT t, c, COUNT(*)::DOUBLE AS nij FROM masked GROUP BY 1, 2),
      |rs AS (SELECT t, SUM(nij) AS ai FROM cont GROUP BY 1),
      |cs AS (SELECT c, SUM(nij) AS bj FROM cont GROUP BY 1),
      |scal AS (
      |  SELECT (SELECT COUNT(*)::DOUBLE FROM masked) AS n,
      |    (SELECT SUM(nij*(nij-1)/2) FROM cont) AS s,
      |    (SELECT SUM(ai*(ai-1)/2) FROM rs) AS sa,
      |    (SELECT SUM(bj*(bj-1)/2) FROM cs) AS sb,
      |    (SELECT SUM((nij/(SELECT COUNT(*)::DOUBLE FROM masked)) *
      |            LN(nij*(SELECT COUNT(*)::DOUBLE FROM masked)/(ai*bj)))
      |     FROM cont JOIN rs USING (t) JOIN cs USING (c)) AS mi,
      |    (SELECT -SUM((ai/(SELECT COUNT(*)::DOUBLE FROM masked)) *
      |            LN(ai/(SELECT COUNT(*)::DOUBLE FROM masked))) FROM rs) AS ht,
      |    (SELECT -SUM((bj/(SELECT COUNT(*)::DOUBLE FROM masked)) *
      |            LN(bj/(SELECT COUNT(*)::DOUBLE FROM masked))) FROM cs) AS hc
      |)
      |SELECT ROUND(mi, 6) AS mutual_info,
      |  ROUND(CASE WHEN (ht+hc)/2 = 0 THEN 1.0 ELSE mi/((ht+hc)/2) END, 6) AS normalized_mutual_info,
      |  ROUND(CASE WHEN (sa+sb)/2 - sa*sb/(n*(n-1)/2) = 0 THEN 1.0
      |        ELSE (s - sa*sb/(n*(n-1)/2)) / ((sa+sb)/2 - sa*sb/(n*(n-1)/2)) END, 6) AS adjusted_rand,
      |  ROUND((n*(n-1)/2 + 2*s - sa - sb) / (n*(n-1)/2), 6) AS rand,
      |  ROUND(CASE WHEN sa*sb > 0 THEN s/SQRT(sa*sb) ELSE 0 END, 6) AS fowlkes_mallows,
      |  ROUND(CASE WHEN ht = 0 THEN 1.0 ELSE mi/ht END, 6) AS homogeneity,
      |  ROUND(CASE WHEN hc = 0 THEN 1.0 ELSE mi/hc END, 6) AS completeness,
      |  ROUND(CASE WHEN (CASE WHEN ht = 0 THEN 1.0 ELSE mi/ht END) +
      |                  (CASE WHEN hc = 0 THEN 1.0 ELSE mi/hc END) = 0 THEN 0.0
      |        ELSE 2*(CASE WHEN ht = 0 THEN 1.0 ELSE mi/ht END)*
      |               (CASE WHEN hc = 0 THEN 1.0 ELSE mi/hc END)/
      |             ((CASE WHEN ht = 0 THEN 1.0 ELSE mi/ht END) +
      |              (CASE WHEN hc = 0 THEN 1.0 ELSE mi/hc END)) END, 6) AS v_measure
      |FROM scal""".stripMargin

  private val j4Sql = {
    val gName = LinkageQueries.gammaPairSql("nl", "nr", uSpecs(0))
    val gSeg = LinkageQueries.gammaPairSql("sl", "sr", uSpecs(1))
    s"""WITH b AS (
       |  SELECT CAST(c_custkey AS VARCHAR) AS uid, c_name, c_mktsegment FROM customer
       |), idx AS (
       |  SELECT uid, c_name, c_mktsegment, ROW_NUMBER() OVER (ORDER BY uid) - 1 AS rn FROM b
       |), pairs AS (
       |  SELECT l.c_name AS nl, r.c_name AS nr, l.c_mktsegment AS sl, r.c_mktsegment AS sr
       |  FROM idx l JOIN idx r ON r.rn = (l.rn + 1) % (SELECT COUNT(*) FROM customer)
       |  UNION ALL
       |  SELECT l.c_name, r.c_name, l.c_mktsegment, r.c_mktsegment
       |  FROM idx l JOIN idx r ON r.rn = (l.rn + 2) % (SELECT COUNT(*) FROM customer)
       |), g AS (
       |  SELECT ($gName) AS g_name, ($gSeg) AS g_seg FROM pairs
       |), lvls AS (SELECT * FROM (VALUES (0), (1), (2)) v(gamma)),
       |cols AS (SELECT 'c_name' AS "column" UNION ALL SELECT 'c_mktsegment'),
       |cnt AS (
       |  SELECT 'c_name' AS "column", g_name AS gamma, COUNT(*)::DOUBLE AS c FROM g GROUP BY 2
       |  UNION ALL
       |  SELECT 'c_mktsegment', g_seg, COUNT(*)::DOUBLE FROM g GROUP BY 2
       |), tot AS (SELECT "column", SUM(c) AS t FROM cnt WHERE gamma >= 0 GROUP BY 1)
       |SELECT cols."column", lvls.gamma,
       |  ROUND(COALESCE(cnt.c / tot.t, 0.0), 6) AS u
       |FROM cols CROSS JOIN lvls
       |LEFT JOIN cnt ON cnt."column" = cols."column" AND cnt.gamma = lvls.gamma
       |JOIN tot ON tot."column" = cols."column"
       |ORDER BY cols."column", lvls.gamma""".stripMargin
  }

  private val associationSql =
    """WITH j AS (SELECT c_custkey AS id, c_mktsegment, n_name, n_regionkey
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |lf AS (
      |  SELECT id, 'c_mktsegment' AS c,
      |    COALESCE(c_mktsegment::VARCHAR, '<null>') AS v FROM j
      |  UNION ALL SELECT id, 'n_name', COALESCE(n_name::VARCHAR, '<null>') FROM j
      |  UNION ALL SELECT id, 'n_regionkey',
      |    COALESCE(n_regionkey::VARCHAR, '<null>') FROM j),
      |pr AS (SELECT a.c AS col_a, b.c AS col_b, a.v AS va, b.v AS vb
      |       FROM lf a JOIN lf b ON a.id = b.id AND a.c < b.c),
      |cell AS (SELECT col_a, col_b, va, vb, COUNT(*) AS nxy FROM pr
      |         GROUP BY 1, 2, 3, 4),
      |ma AS (SELECT col_a, col_b, va, SUM(nxy)::BIGINT AS nx FROM cell
      |       GROUP BY 1, 2, 3),
      |mb AS (SELECT col_a, col_b, vb, SUM(nxy)::BIGINT AS ny FROM cell
      |       GROUP BY 1, 2, 3),
      |tot AS (SELECT col_a, col_b, SUM(nxy)::BIGINT AS n,
      |          COUNT(DISTINCT va) AS r, COUNT(DISTINCT vb) AS c FROM cell
      |        GROUP BY 1, 2),
      |sc AS (SELECT cell.col_a, cell.col_b,
      |    SUM((nxy / n) * LN(n * nxy / (nx * ny))) AS mi_raw,
      |    SUM(POWER(nxy - nx * ny / n, 2) / (nx * ny / n) - nx * ny / n)
      |      AS chi2_obs
      |  FROM cell
      |  JOIN ma ON ma.col_a = cell.col_a AND ma.col_b = cell.col_b
      |         AND ma.va = cell.va
      |  JOIN mb ON mb.col_a = cell.col_a AND mb.col_b = cell.col_b
      |         AND mb.vb = cell.vb
      |  JOIN tot ON tot.col_a = cell.col_a AND tot.col_b = cell.col_b
      |  GROUP BY 1, 2),
      |ha AS (SELECT ma.col_a, ma.col_b,
      |         SUM(-(nx / n) * LN(nx / n)) AS h_a
      |       FROM ma JOIN tot ON tot.col_a = ma.col_a AND tot.col_b = ma.col_b
      |       GROUP BY 1, 2),
      |hb AS (SELECT mb.col_a, mb.col_b,
      |         SUM(-(ny / n) * LN(ny / n)) AS h_b
      |       FROM mb JOIN tot ON tot.col_a = mb.col_a AND tot.col_b = mb.col_b
      |       GROUP BY 1, 2)
      |SELECT tot.col_a, tot.col_b, tot.n,
      |  ROUND(mi_raw, 6) AS mi,
      |  ROUND(CASE WHEN h_a <= 0 OR h_b <= 0 THEN 0.0
      |        ELSE mi_raw / SQRT(h_a * h_b) END, 6) AS nmi,
      |  ROUND(CASE WHEN LEAST(r, c) <= 1 THEN 0.0
      |        ELSE SQRT(GREATEST((chi2_obs + n) / (n * (LEAST(r, c) - 1)), 0.0))
      |        END, 6) AS cramers_v
      |FROM tot
      |JOIN sc ON sc.col_a = tot.col_a AND sc.col_b = tot.col_b
      |JOIN ha ON ha.col_a = tot.col_a AND ha.col_b = tot.col_b
      |JOIN hb ON hb.col_a = tot.col_a AND hb.col_b = tot.col_b
      |ORDER BY tot.col_a, tot.col_b""".stripMargin

  /** The duel fixture as DuckDB CTEs (must mirror [[duels]] exactly). */
  private val duelCtes =
    """li AS MATERIALIZED (
      |  SELECT l_orderkey AS o, CAST(l_suppkey % 50 AS VARCHAR) AS m,
      |         MAX(l_extendedprice) AS sc
      |  FROM lineitem GROUP BY 1, 2),
      |duel AS MATERIALIZED (
      |  SELECT CASE WHEN a.sc > b.sc THEN a.m ELSE b.m END AS w,
      |         CASE WHEN a.sc > b.sc THEN b.m ELSE a.m END AS l
      |  FROM li a JOIN li b ON a.o = b.o AND a.m < b.m WHERE a.sc <> b.sc)""".stripMargin

  /** Generated Bradley–Terry MM chain (ε = 0.5 ghost games, sum-normalized to N
    * each round) — replays [[graft.metrics.Preference.btScores]] at fixed `iters`.
    */
  private def btChainSql(iters: Int): String = {
    val steps = (0 until iters).map { t =>
      s"""d$t AS (
         |  SELECT g.i, SUM(g.nij / (si.score + sj.score)) AS denom
         |  FROM g JOIN s$t si ON si.item = g.i JOIN s$t sj ON sj.item = g.j
         |  GROUP BY g.i),
         |raw$t AS (
         |  SELECT w.item, (w.wi + 0.5) /
         |    (COALESCE(d$t.denom, 0.0) + 1.0 / (s$t.score + 1.0)) AS sraw
         |  FROM wins w LEFT JOIN d$t ON d$t.i = w.item
         |  JOIN s$t ON s$t.item = w.item),
         |tot$t AS (SELECT SUM(sraw) AS tt FROM raw$t),
         |s${t + 1} AS MATERIALIZED (
         |  SELECT item, sraw * nn.n / tot$t.tt AS score
         |  FROM raw$t CROSS JOIN nn CROSS JOIN tot$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $duelCtes,
       |g AS MATERIALIZED (
       |  SELECT i, j, COUNT(*)::DOUBLE AS nij FROM (
       |    SELECT w AS i, l AS j FROM duel UNION ALL SELECT l, w FROM duel)
       |  GROUP BY 1, 2),
       |items AS MATERIALIZED (SELECT DISTINCT i AS item FROM g),
       |nn AS (SELECT COUNT(*)::DOUBLE AS n FROM items),
       |wc AS (SELECT w AS item, COUNT(*)::DOUBLE AS c FROM duel GROUP BY 1),
       |wins AS MATERIALIZED (
       |  SELECT items.item, COALESCE(wc.c, 0.0) AS wi
       |  FROM items LEFT JOIN wc USING (item)),
       |s0 AS MATERIALIZED (SELECT item, 1.0 AS score FROM items),
       |$steps
       |SELECT item, ROUND(score, 6) AS score FROM s$iters ORDER BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "pref_winrate" ->
      s"""WITH $duelCtes
         |SELECT LEAST(w, l) AS item_a, GREATEST(w, l) AS item_b,
         |  CAST(COUNT(*) AS BIGINT) AS games,
         |  CAST(SUM(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
         |  CAST(SUM(CASE WHEN w < l THEN 0 ELSE 1 END) AS BIGINT) AS wins_b,
         |  ROUND(SUM(CASE WHEN w < l THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         |    AS winrate_a
         |FROM duel GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pref_bt_scores" -> btChainSql(10),
    "pref_wilson_ci" -> {
      val z = 1.959963984540054
      val z2 = z * z
      s"""WITH $duelCtes,
         |g AS (SELECT w AS item, 1 AS win FROM duel
         |      UNION ALL SELECT l, 0 FROM duel),
         |a AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS games,
         |        CAST(SUM(win) AS BIGINT) AS wins FROM g GROUP BY 1),
         |c AS (SELECT item, games, wins,
         |        wins::DOUBLE / games AS p, games::DOUBLE AS n FROM a)
         |SELECT item, games, wins, ROUND(p, 6) AS win_rate,
         |  ROUND((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n) -
         |    ($z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6)
         |    AS ci_lo,
         |  ROUND((p + $z2 / (2.0 * n)) / (1.0 + $z2 / n) +
         |    ($z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n))) / (1.0 + $z2 / n), 6)
         |    AS ci_hi
         |FROM c ORDER BY item""".stripMargin
    },
    "ep14_dpo_pairs" ->
      """WITH li AS (
        |  SELECT l_orderkey AS prompt_id, CAST(l_suppkey % 50 AS VARCHAR) AS m,
        |         MAX(l_extendedprice) AS sc
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT prompt_id, m, sc,
        |        ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY sc DESC, m DESC) AS rb,
        |        ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY sc ASC, m ASC) AS rw,
        |        COUNT(*) OVER (PARTITION BY prompt_id) AS nm
        |      FROM li),
        |b AS (SELECT prompt_id, m AS chosen, sc AS sc_b FROM r WHERE rb = 1 AND nm >= 2),
        |w AS (SELECT prompt_id, m AS rejected, sc AS sc_w FROM r WHERE rw = 1)
        |SELECT prompt_id, chosen, rejected, ROUND(sc_b - sc_w, 6) AS margin
        |FROM b JOIN w USING (prompt_id)
        |WHERE ROUND(sc_b - sc_w, 6) >= 5000.0
        |ORDER BY prompt_id""".stripMargin,
    "j5_em_train" -> emTrainChainSql(25),
    "prof_association" -> associationSql,
    "y1_clean" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS uid,
        |  lower(regexp_replace(c_name, '[^A-Za-z0-9 ]+', '', 'g')) AS cleaned
        |FROM customer ORDER BY uid""".stripMargin,
    "y2_null_sentinel" ->
      """SELECT COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'null_') AS seg, COUNT(*) AS cnt
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "y7_entropy_by_cluster" -> y7Sql,
    "y8_ig_power_ratio" -> y8Sql,
    "y9_max_distinct" ->
      """SELECT GREATEST(
        |  (SELECT COUNT(DISTINCT c_mktsegment) FROM customer),
        |  (SELECT COUNT(DISTINCT c_nationkey) FROM customer)) AS u""".stripMargin,
    "y10_schema_match" -> y10Sql,
    "y20_profile_columns" ->
      """WITH long AS (
        |  SELECT 'c_mktsegment' AS col_name, c_mktsegment::VARCHAR AS value FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', c_nationkey::VARCHAR FROM customer
        |  UNION ALL
        |  SELECT 'seg_null', NULLIF(c_mktsegment, 'BUILDING') FROM customer
        |),
        |c AS (SELECT col_name, value, COUNT(*) AS n FROM long GROUP BY 1, 2),
        |agg AS (
        |  SELECT col_name,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COALESCE(SUM(CASE WHEN value IS NOT NULL THEN n END), 0) AS BIGINT)
        |      AS n_nonnull,
        |    CAST(COUNT(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
        |    ROUND(LN(SUM(CASE WHEN value IS NOT NULL THEN n END))
        |      - SUM(CASE WHEN value IS NOT NULL THEN n * LN(n) END)
        |        / SUM(CASE WHEN value IS NOT NULL THEN n END), 6) AS entropy
        |  FROM c GROUP BY col_name),
        |top AS (
        |  SELECT col_name, value AS top_value, CAST(n AS BIGINT) AS top_count,
        |    ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY n DESC, value DESC) AS rn
        |  FROM c WHERE value IS NOT NULL)
        |SELECT a.col_name, a.n_rows, a.n_nonnull, a.n_distinct,
        |  t.top_value, t.top_count, a.entropy
        |FROM agg a JOIN top t ON a.col_name = t.col_name AND t.rn = 1
        |ORDER BY a.col_name""".stripMargin,
    "y17_confusion_metrics" -> y17Sql,
    "y18_clustering_metrics" -> y18Sql,
    "y18_bcubed" ->
      """WITH base AS (
        |  SELECT CAST(c_custkey % 30 AS VARCHAR) AS t,
        |         MIN(CAST(c_custkey AS VARCHAR))
        |           OVER (PARTITION BY c_nationkey, c_mktsegment) AS c
        |  FROM customer
        |), cont AS (SELECT t, c, COUNT(*)::DOUBLE AS nij FROM base GROUP BY 1, 2),
        |sized AS (
        |  SELECT nij,
        |    SUM(nij) OVER (PARTITION BY c) AS size_c,
        |    SUM(nij) OVER (PARTITION BY t) AS size_t
        |  FROM cont
        |), a AS (
        |  SELECT SUM(nij * nij / size_c) / SUM(nij) AS p,
        |         SUM(nij * nij / size_t) / SUM(nij) AS r
        |  FROM sized
        |)
        |SELECT ROUND(p, 6) AS bcubed_precision, ROUND(r, 6) AS bcubed_recall,
        |  ROUND(2.0 * p * r / (p + r), 6) AS bcubed_f1
        |FROM a""".stripMargin,
    "j4_u_estimation" -> j4Sql)
}
