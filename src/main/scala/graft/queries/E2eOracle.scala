package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.ConnectedComponents
import graft.model.ComparisonSpec
import graft.score.FellegiSunter
import graft.train.Estimation

/** EP1 — FULL oracle for the flagship fixed-parameter end-to-end dedupe pipeline
  * (`PipelineQueries.e2eDedupe`, SURVEY §7; reference AutoLinker trial body,
  * autolinker.py:527-580): clean → block → gammas → train (J3 prior + J4
  * ring-paired u + one J5 EM session with TWO free columns) → J6 predict → J7
  * cluster → cluster sizes, as ONE generated DuckDB statement.
  *
  * The only non-SQL piece of the flagship is the xxhash64 u-pair shuffle; the
  * pinned twin orders the ring pairing by uid (`uHashShuffle = false` — same
  * estimator, SQL-reproducible pairing) and sizes `uTargetPairs = 4N` so the
  * offset count is the constant 4 at every scale factor. Everything else is the
  * flagship's exact arithmetic: the 25-step freeze-on-convergence EM chain over
  * the 2-D agreement-pattern table (the `j5_em_train` done-flag chain, with λ0 =
  * 1/N and the sampled u as the session's starting point), `Estimation.train`'s
  * sampled/session u averaging, `FellegiSunter.score`'s log2 weight ladder, the
  * 0.5 serve threshold, and min-uid connected-component labels.
  */
object E2eOracle {

  private val Specs = Seq(
    ComparisonSpec("c_name", "levenshtein", 3),
    ComparisonSpec("k", "levenshtein", 1))
  private val Rule = "l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment"
  private val RuleCols = Seq("c_nationkey", "c_mktsegment")
  private val Threshold = 0.5
  private val MaxIter = 25
  private val Attrs = Seq("c_name", "k")

  /** The Spark side: the flagship pipeline verbatim, with the uid-ordered u
    * pairing and 4N target pairs that make the SQL replay exact.
    */
  def pinnedQuery(s: SparkSession, dir: String): DataFrame = {
    // round-robin spread before the pipeline: the EM pattern aggregation and the
    // predict scan are expansion joins whose parallelism is the stream side's
    // partitioning — a single-file source otherwise grinds them on ONE task
    // (see AutoLinker's spread note; all downstream aggregates here are
    // count-based, so the result is partition-layout-proof). Conditional (r12):
    // a naturally wide scan skips the shuffle entirely.
    val df = graft.util.Partitioning.spreadNarrowScan(
      Fixtures.cust(s, dir)
        .withColumn("uid", col("c_custkey").cast("string"))
        .withColumn("c_nationkey", col("c_nationkey").cast("string"))
        .withColumn("k", (col("c_custkey") % 100).cast("string")))
    val n = df.count()
    val model = Estimation.train(
      df, "uid", Specs,
      blockingRules = Seq(Rule), trainingRules = Seq(Rule),
      uTargetPairs = 4 * n, uHashShuffle = false, nRows = Some(n))
    val preds = FellegiSunter.predict(df, "uid", model)
    val edges = preds.filter(col("match_probability") >= Threshold)
      .select(col("uid_l").as("src"), col("uid_r").as("dst"))
    ConnectedComponents.assignClusters(df, "uid", edges)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .orderBy(desc("cluster_size"), asc("cluster_id"))
  }

  // ---- generated DuckDB oracle --------------------------------------------

  private def d(x: Double): String = graft.util.Render.sqlDouble(x)
  private val G = 3

  val pinnedSql: String = {
    val pairCond = RuleCols.map(c => s"l.$c = r.$c").mkString(" AND ") + " AND l.uid < r.uid"
    // J4: uid-ordered ring pairs, offsets 1..4 (uTargetPairs = 4N)
    val offsets = (1 to 4).map { off =>
      val sel = Attrs.flatMap(c => Seq(s"l.$c AS ${c}_l", s"r.$c AS ${c}_r")).mkString(", ")
      s"""  SELECT $sel
         |  FROM ur l CROSS JOIN nr JOIN ur r ON r.rn = (l.rn + $off) % nr.n""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val ringGammas = Attrs.zipWithIndex.map { case (c, i) =>
      s"(${LinkageQueries.gammaPairSql(s"${c}_l", s"${c}_r", Specs(i)).replace('\n', ' ')}) AS g$i"
    }.mkString(",\n    ")
    val uCols = Attrs.indices.flatMap { i =>
      (0 until G).map { g =>
        s"GREATEST(SUM(CASE WHEN g$i = $g THEN 1 ELSE 0 END)::DOUBLE / " +
          s"GREATEST(SUM(CASE WHEN g$i >= 0 THEN 1 ELSE 0 END)::DOUBLE, 1.0), 1e-9) AS u_${i}_$g"
      }
    }.mkString(",\n    ")
    // J5: 2-D pattern table + freeze-on-convergence chain (both spec columns free)
    val patGammas = Attrs.zipWithIndex.map { case (c, i) =>
      s"(${LinkageQueries.gammaPairSql(s"l.$c", s"r.$c", Specs(i)).replace('\n', ' ')}) AS g$i"
    }.mkString(",\n    ")
    val p0Cols = ("(SELECT 1.0 / n FROM nr) AS lam" +:
      Attrs.indices.flatMap { i =>
        (0 until G).flatMap(g => Seq(
          s"${d(Estimation.DefaultM(g))} AS m_${i}_$g",
          s"(SELECT u_${i}_$g FROM us) AS u_${i}_$g"))
      } :+ "FALSE AS done").mkString(",\n    ")
    def ladder(prev: String, i: Int, p: String) =
      s"(CASE g$i " + (0 until G).map(g => s"WHEN $g THEN $prev.${p}_${i}_$g")
        .mkString(" ") + " ELSE 1.0 END)"
    def iteration(it: Int): String = {
      val prev = s"p${it - 1}"
      val num = (s"$prev.lam" +: Attrs.indices.map(i => ladder(prev, i, "m"))).mkString(" * ")
      val den = (s"(1.0 - $prev.lam)" +: Attrs.indices.map(i => ladder(prev, i, "u"))).mkString(" * ")
      val sums = Attrs.indices.flatMap { i =>
        (0 until G).flatMap(g => Seq(
          s"SUM(CASE WHEN g$i = $g THEN cnt * w ELSE 0.0 END) AS m_${i}_$g",
          s"SUM(CASE WHEN g$i = $g THEN cnt * (1.0 - w) ELSE 0.0 END) AS u_${i}_$g"))
      }.mkString(",\n    ")
      def refit(pfx: String, i: Int, g: Int) = {
        val tot = (0 until G).map(h => s"${pfx}_${i}_$h").mkString(" + ")
        s"GREATEST(${pfx}_${i}_$g / GREATEST($tot, 1e-9), 1e-9)"
      }
      val nCols = (s"LEAST(GREATEST(sumw / total, 1e-9), 1.0 - 1e-9) AS lam" +:
        Attrs.indices.flatMap { i =>
          (0 until G).flatMap(g => Seq(
            s"${refit("m", i, g)} AS m_${i}_$g",
            s"${refit("u", i, g)} AS u_${i}_$g"))
        }).mkString(",\n    ")
      val allParams = "lam" +: Attrs.indices.flatMap(i =>
        (0 until G).flatMap(g => Seq(s"m_${i}_$g", s"u_${i}_$g")))
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
    // final model: session m, (sampled + session)/2 u, session λ
    val fpCols = ("(SELECT lam FROM p25) AS lam" +:
      Attrs.indices.flatMap { i =>
        (0 until G).flatMap(g => Seq(
          s"(SELECT m_${i}_$g FROM p25) AS m_${i}_$g",
          s"((SELECT u_${i}_$g FROM us) + (SELECT u_${i}_$g FROM p25)) / 2.0 AS u_${i}_$g"))
      }).mkString(",\n    ")
    // J6 weights exactly as FellegiSunter.score
    val bfs = Attrs.indices.map { i =>
      "(CASE pp.g" + i + " " +
        (0 until G).map(g =>
          s"WHEN $g THEN LN(fp.m_${i}_$g / fp.u_${i}_$g) / LN(2.0)").mkString(" ") +
        " ELSE 0.0 END)"
    }
    val weight = (s"(LN(fp.lam / (1.0 - fp.lam)) / LN(2.0))" +: bfs).mkString(" + ")
    s"""WITH RECURSIVE b AS MATERIALIZED (
       |  SELECT CAST(c_custkey AS VARCHAR) AS uid, c_name,
       |         CAST(c_custkey % 100 AS VARCHAR) AS k,
       |         CAST(c_nationkey AS VARCHAR) AS c_nationkey, c_mktsegment
       |  FROM customer
       |), nr AS (SELECT COUNT(*)::BIGINT AS n FROM b
       |), ur AS MATERIALIZED (
       |  SELECT uid, ${Attrs.mkString(", ")}, ROW_NUMBER() OVER (ORDER BY uid) - 1 AS rn
       |  FROM b
       |), up AS MATERIALIZED (
       |$offsets
       |), ug AS MATERIALIZED (
       |  SELECT
       |    $ringGammas
       |  FROM up
       |), us AS MATERIALIZED (
       |  SELECT
       |    $uCols
       |  FROM ug
       |), pat AS MATERIALIZED (
       |  SELECT g0, g1, COUNT(*)::DOUBLE AS cnt FROM (
       |    SELECT
       |      $patGammas
       |    FROM b l JOIN b r ON $pairCond
       |  ) GROUP BY g0, g1
       |), p0 AS (
       |  SELECT
       |    $p0Cols
       |),
       |${(1 to MaxIter).map(iteration).mkString(",\n")},
       |fp AS (
       |  SELECT
       |    $fpCols
       |), pp AS MATERIALIZED (
       |  SELECT l.uid AS uid_l, r.uid AS uid_r,
       |    $patGammas
       |  FROM b l JOIN b r ON $pairCond
       |), m AS MATERIALIZED (
       |  SELECT uid_l, uid_r FROM pp, fp
       |  WHERE 1.0 / (1.0 + POWER(2.0, -($weight))) >= ${d(Threshold)}
       |), edges AS (
       |  SELECT uid_l AS ea, uid_r AS eb FROM m
       |  UNION ALL
       |  SELECT uid_r, uid_l FROM m
       |), reach(node, r) AS (
       |  SELECT uid, uid FROM b
       |  UNION
       |  SELECT e.eb, reach.r FROM reach JOIN edges e ON e.ea = reach.node
       |), cl AS MATERIALIZED (
       |  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
       |FROM cl GROUP BY cluster_id
       |ORDER BY cluster_size DESC, cluster_id""".stripMargin
  }
}
