package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.auto.AutoLinker
import graft.model.ComparisonSpec
import graft.schemamatch.SchemaMatch
import graft.train.Estimation

/** EP1/Y16 — FULL oracles for the trained auto-link search loop (reference:
  * AutoLinker.auto_link, autolinker.py:688-847), two trials end-to-end, in BOTH
  * dedupe mode ([[twoTrialsQuery]]) and two-table link mode
  * ([[twoTrialsLinkQuery]], reference autolinker.py:688-707,961-1020).
  *
  * The only reason the trained loop ever lacked a SQL form is the seeded RNG and
  * the data-dependent candidate-rule list. Both collapse for a ≤3-trial search:
  * every strategy draws UNIFORMLY during the warmup, so with an explicit
  * candidate-rule list the whole draw sequence (comparison specs, blocking rule,
  * Y6 training rules per trial) depends on the seed alone —
  * [[AutoLinker.warmupDraws]] replays it without data, and this generator embeds
  * the drawn constants. Everything DATA-dependent is recomputed by the SQL
  * itself, per trial:
  *
  *   - J3 prior λ0 = 1/N (N = the union count in link mode);
  *   - J4 u-estimation over the shared uid-ordered ring pairing (offsets 1..4 —
  *     `uTargetPairs = min(4N, 100000)` gives exactly 4 for N ≤ 25 000, which
  *     covers the driver's sf0.01 check and the sf0.1 bench);
  *   - J5 EM per training rule: 25 freeze-on-convergence iterations (the
  *     `j5_em_train` done-flag chain), λ chained across the trial's three
  *     sessions, empty-block sessions passing through their inputs exactly as
  *     `Estimation.emSessions` does; link-mode pattern pairs CROSS the two tables
  *     only (no `uid_l < uid_r` — the `l-`/`r-` uid prefixes keep sides disjoint);
  *   - the m/u averaging `Estimation.train` applies across sessions and the
  *     sampled u;
  *   - J6 predict under the drawn blocking rule with weights computed from the
  *     TRAINED parameter CTEs (not constants);
  *   - J7 clustering via the recursive transitive closure at the serve threshold
  *     (over the two-table union in link mode);
  *   - Y8 information-gain power-ratio trial metric and the best-trial argmax
  *     (first trial wins ties, as the loop's strict `>` does).
  *
  * Link mode additionally pins Y10: the greedy column mapping the loop actually
  * used is rendered into every output row, and the oracle recomputes it from the
  * raw tables (unpivot → value join → ranked greedy pick) — a drifted mapping
  * breaks the hash compare. The embedded draw constants assume the mapping order
  * `name_prefix, segment, nation`; the rendered mapping proves it held.
  */
object AutoLinkOracle {

  private[queries] val Seed = 7L
  private[queries] val Attrs = Seq("c_name", "c_mktsegment", "c_nationkey")
  private[queries] val RuleChoices = Seq(
    "l.c_nationkey = r.c_nationkey AND l.c_mktsegment = r.c_mktsegment",
    "l.c_nationkey = r.c_nationkey")
  private val NTrials = 2
  private val Threshold = 0.5

  private[queries] val LinkSeed = 7L
  private[queries] val LinkAttrs = Seq("name_prefix", "segment", "nation")
  private[queries] val LinkRuleChoices = Seq(
    "l.nation = r.nation AND l.segment = r.segment",
    "l.nation = r.nation")

  /** The Spark side: the REAL `autoLink` loop, two trials, with the two
    * oracle-enabling knobs (explicit candidate rules, uid-ordered u pairing) and
    * cleaning off so the SQL replays raw columns.
    */
  def twoTrialsQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every-3rd-customer slice: the replay's value is pinning the LOOP — the
    // slice keeps two full trials ~O(seconds) at sf0.1 while the operators'
    // own queries carry the scale burden (low-threshold giant-closure behavior
    // is pinned by j7_threshold_sweep; here the serve threshold is 0.5)
    val df = Fixtures.cust(s, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").cast("string").as("uid"),
        col("c_name"), col("c_mktsegment"),
        col("c_nationkey").cast("string").as("c_nationkey"))
    val res = AutoLinker.autoLink(df, uidCol = "uid",
      attributeColumns = Some(Attrs), maxEvals = NTrials, seed = Seed,
      clusterThreshold = Threshold, cleaningMode = "none",
      candidateRuleOverride = Some(RuleChoices), uDeterministicOrder = true)
    trialsDf(s, res)
  }

  /** The Spark side of link mode: the REAL `autoLinkTables` loop — Y10 schema
    * matching included — on the odd/even halves of customer with renamed right
    * columns. The mapping the loop used is re-derived with the same call and
    * attached to every row, so the oracle's SQL-computed mapping must agree.
    */
  def twoTrialsLinkQuery(s: SparkSession, dir: String): DataFrame = {
    // same every-3rd slice as twoTrialsQuery (parity split stays mixed: %3=0
    // custkeys alternate even/odd)
    val c = Fixtures.cust(s, dir)
      .filter(col("c_custkey") % 3 === 0)
    val left = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").cast("string").as("id"),
        substring(col("c_name"), 1, 12).as("name_prefix"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("string").as("nation"))
    val right = c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey").cast("string").as("id"),
        substring(col("c_name"), 1, 12).as("prefix"),
        col("c_mktsegment").as("mkt"),
        col("c_nationkey").cast("string").as("nat"))
    val mapping = SchemaMatch.greedyMapping(left, right,
      Seq("name_prefix", "segment", "nation"), Seq("prefix", "mkt", "nat"))
    val mapStr = mapping.map { case (lc, rc, n) => s"$lc<$rc:$n" }.mkString(",")
    val res = AutoLinker.autoLinkTables(left, right, uidCol = "id",
      leftAttributes = Some(Seq("name_prefix", "segment", "nation")),
      rightAttributes = Some(Seq("prefix", "mkt", "nat")),
      maxEvals = NTrials, seed = LinkSeed, clusterThreshold = Threshold,
      cleaningMode = "none", candidateRuleOverride = Some(LinkRuleChoices),
      uDeterministicOrder = true, mappingOverride = Some(mapping))
    trialsDf(s, res).withColumn("mapping", lit(mapStr))
  }

  private def trialsDf(s: SparkSession, res: AutoLinker.Result): DataFrame = {
    import s.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    res.trials.zipWithIndex.map { case (t, i) =>
      (i + 1L, t.blockingRule, r6(t.model.lambda), r6(t.metric),
        t.asInstanceOf[AnyRef] eq res.best.asInstanceOf[AnyRef])
    }.toDF("trial", "blocking_rule", "lambda", "trial_metric", "is_best")
  }

  // ---- generated DuckDB oracle --------------------------------------------

  private def d(x: Double): String = graft.util.Render.sqlDouble(x)
  private val G = 3 // gamma levels 0..2 (−1 = null handled by the ladders' ELSE)

  private case class SessionPlan(blocked: Seq[String], freeIdx: Int)
  private case class TrialPlan(
      t: Int,
      specs: Seq[ComparisonSpec],
      rule: String,
      ruleCols: Seq[String],
      sessions: Seq[SessionPlan])

  /** Everything mode-specific: the record CTE(s), the base CTE for clustering /
    * entropy (the union in link mode), and the pair-generating FROM clause.
    */
  private case class Mode(base: String, pairFrom: String => String)

  private val DedupeMode =
    Mode("b", cond => s"b l JOIN b r ON $cond AND l.uid < r.uid")
  private val LinkMode =
    Mode("u", cond => s"bl l JOIN br r ON $cond")

  private def makePlans(
      attrs: Seq[String],
      draws: Seq[(Seq[ComparisonSpec], String, Seq[String])]): Seq[TrialPlan] =
    draws.zipWithIndex.map { case ((specs, rule, trules), i) =>
      val parsed = graft.blocking.BlockingRule.parse(rule)
      require(parsed.branches.size == 1, "oracle covers single-branch rules only")
      val sessions = trules.map { tr =>
        val blocked = graft.blocking.BlockingRule.parse(tr).columns
        val free = attrs.indices.filter(ix => !blocked.contains(attrs(ix)))
        require(free.size == 1,
          s"oracle expects exactly one free column per training rule, got $free for $tr")
        SessionPlan(blocked, free.head)
      }
      TrialPlan(i + 1, specs, rule, parsed.branches.head, sessions)
    }

  /** J4: per-trial sampled-u one-row CTE `u_t(u_<col>_<gamma> …)` over the shared
    * ring pairing, with `estimateUFromPairs`' exact floors (cnt / max(total, 1),
    * then the 1e-9 floor).
    */
  private def uCtes(attrs: Seq[String], p: TrialPlan): String = {
    val gs = attrs.zipWithIndex.map { case (c, i) =>
      s"(${LinkageQueries.gammaPairSql(s"${c}_l", s"${c}_r", p.specs(i)).replace('\n', ' ')}) AS g$i"
    }.mkString(",\n    ")
    val cols = attrs.indices.flatMap { i =>
      (0 until G).map { g =>
        s"GREATEST(SUM(CASE WHEN g$i = $g THEN 1 ELSE 0 END)::DOUBLE / " +
          s"GREATEST(SUM(CASE WHEN g$i >= 0 THEN 1 ELSE 0 END)::DOUBLE, 1.0), 1e-9) AS u_${i}_$g"
      }
    }.mkString(",\n    ")
    s"""ug_${p.t} AS MATERIALIZED (
       |  SELECT
       |    $gs
       |  FROM up
       |), u_${p.t} AS MATERIALIZED (
       |  SELECT
       |    $cols
       |  FROM ug_${p.t}
       |)""".stripMargin
  }

  private def lam0Expr(t: Int, k: Int): String =
    if (k == 1) "(SELECT 1.0 / n FROM nr)" else s"(SELECT lam FROM e_${t}_${k - 1})"

  /** J5: one EM session — pattern table over the training-rule block, a 25-step
    * freeze-on-convergence chain, and the `Estimation.emSessions` empty-block
    * pass-through.
    */
  private def sessionCtes(attrs: Seq[String], mode: Mode, p: TrialPlan, k: Int): String = {
    val sp = p.sessions(k - 1)
    val f = sp.freeIdx
    val id = s"${p.t}_$k"
    val joinCond = sp.blocked.map(c => s"l.$c = r.$c").mkString(" AND ")
    val gammaExpr = LinkageQueries
      .gammaPairSql(s"l.${attrs(f)}", s"r.${attrs(f)}", p.specs(f)).replace('\n', ' ')
    val pat =
      s"""pat_$id AS MATERIALIZED (
         |  SELECT ($gammaExpr) AS g0, COUNT(*)::DOUBLE AS cnt
         |  FROM ${mode.pairFrom(joinCond)}
         |  GROUP BY 1
         |), pc_$id AS (SELECT COUNT(*) AS npat FROM pat_$id)""".stripMargin
    val p0 = {
      val ms = (0 until G).map(g => s"${d(Estimation.DefaultM(g))} AS m_$g").mkString(", ")
      val us = (0 until G).map(g => s"(SELECT u_${f}_$g FROM u_${p.t}) AS u_$g").mkString(", ")
      s"""p_${id}_0 AS (
         |  SELECT ${lam0Expr(p.t, k)} AS lam, $ms, $us, FALSE AS done
         |)""".stripMargin
    }
    def iter(j: Int): String = {
      val pv = s"p_${id}_${j - 1}"
      def ladder(pfx: String) = "(CASE pat.g0 " +
        (0 until G).map(g => s"WHEN $g THEN p.${pfx}_$g").mkString(" ") + " ELSE 1.0 END)"
      val sums = (0 until G).flatMap(g => Seq(
        s"SUM(CASE WHEN g0 = $g THEN cnt * (num / (num + den)) ELSE 0.0 END) AS mw_$g",
        s"SUM(CASE WHEN g0 = $g THEN cnt * (1.0 - num / (num + den)) ELSE 0.0 END) AS uw_$g"))
        .mkString(",\n    ")
      def refit(pfx: String, out: String) = {
        val tot = (0 until G).map(g => s"${pfx}_$g").mkString(" + ")
        (0 until G).map(g =>
          s"GREATEST(${pfx}_$g / GREATEST($tot, 1e-9), 1e-9) AS ${out}_$g").mkString(",\n    ")
      }
      val allParams = "lam" +: (0 until G).flatMap(g => Seq(s"m_$g", s"u_$g"))
      val frozen = allParams.map(c =>
        s"CASE WHEN d.done THEN d.$c ELSE n.$c END AS $c").mkString(",\n    ")
      val delta = allParams.map(c => s"ABS(n.$c - d.$c)").mkString("GREATEST(", ", ", ")")
      s"""w_${id}_$j AS (
         |  SELECT pat.g0, pat.cnt,
         |    (p.lam * ${ladder("m")}) AS num,
         |    ((1.0 - p.lam) * ${ladder("u")}) AS den
         |  FROM pat_$id pat, $pv p
         |), s_${id}_$j AS (
         |  SELECT SUM(cnt) AS total, SUM(cnt * (num / (num + den))) AS sumw,
         |    $sums
         |  FROM w_${id}_$j
         |), n_${id}_$j AS (
         |  SELECT LEAST(GREATEST(sumw / total, 1e-9), 1.0 - 1e-9) AS lam,
         |    ${refit("mw", "m")},
         |    ${refit("uw", "u")}
         |  FROM s_${id}_$j
         |), p_${id}_$j AS MATERIALIZED (
         |  SELECT
         |    $frozen,
         |    (d.done OR $delta <= 0.01) AS done
         |  FROM $pv d, n_${id}_$j n
         |)""".stripMargin
    }
    val eCte = {
      val guard = s"(SELECT npat FROM pc_$id) = 0"
      val ms = (0 until G).map(g =>
        s"CASE WHEN $guard THEN ${d(Estimation.DefaultM(g))} ELSE p.m_$g END AS m_$g")
      val us = (0 until G).map(g =>
        s"CASE WHEN $guard THEN (SELECT u_${f}_$g FROM u_${p.t}) ELSE p.u_$g END AS u_$g")
      val lam = s"CASE WHEN $guard THEN ${lam0Expr(p.t, k)} ELSE p.lam END AS lam"
      s"""e_$id AS (
         |  SELECT ${(lam +: ms) ++ us mkString ",\n    "}
         |  FROM p_${id}_25 p
         |)""".stripMargin
    }
    (Seq(pat, p0) ++ (1 to 25).map(iter) :+ eCte).mkString(",\n")
  }

  /** `Estimation.train`'s averaging: per column, m over the sessions that freed it
    * (DefaultM when none), u over the sampled estimate plus those sessions.
    */
  private def modelCte(attrs: Seq[String], p: TrialPlan): String = {
    val cols = attrs.indices.flatMap { i =>
      val ks = p.sessions.zipWithIndex.collect { case (s, k0) if s.freeIdx == i => k0 + 1 }
      (0 until G).flatMap { g =>
        val mExpr =
          if (ks.isEmpty) d(Estimation.DefaultM(g))
          else ks.map(k => s"(SELECT m_$g FROM e_${p.t}_$k)")
            .mkString("(", " + ", s") / ${d(ks.size.toDouble)}")
        val uExpr = (s"(SELECT u_${i}_$g FROM u_${p.t})" +:
          ks.map(k => s"(SELECT u_$g FROM e_${p.t}_$k)"))
          .mkString("(", " + ", s") / ${d((ks.size + 1).toDouble)}")
        Seq(s"$mExpr AS m_${i}_$g", s"$uExpr AS u_${i}_$g")
      }
    }
    s"""fp_${p.t} AS (
       |  SELECT (SELECT lam FROM e_${p.t}_${p.sessions.size}) AS lam,
       |    ${cols.mkString(",\n    ")}
       |)""".stripMargin
  }

  /** J6 predict + J7 closure + Y8 metric for one trial, parameters read from the
    * trained CTEs. Weight arithmetic mirrors `FellegiSunter.score` exactly:
    * log2(λ/(1−λ)) + Σ log2(m[γ]/u[γ]) with γ∈{−1, unmatched} contributing 0, and
    * p = 1/(1+2^−w).
    */
  private def trialTail(attrs: Seq[String], mode: Mode, p: TrialPlan): String = {
    val t = p.t
    val base = mode.base
    val gammas = attrs.zipWithIndex.map { case (c, i) =>
      s"(${LinkageQueries.gammaPairSql(s"l.$c", s"r.$c", p.specs(i)).replace('\n', ' ')}) AS g$i"
    }.mkString(",\n    ")
    val joinCond = p.ruleCols.map(c => s"l.$c = r.$c").mkString(" AND ")
    val bfs = attrs.indices.map { i =>
      "(CASE pp.g" + i + " " +
        (0 until G).map(g =>
          s"WHEN $g THEN LN(fp.m_${i}_$g / fp.u_${i}_$g) / LN(2.0)").mkString(" ") +
        " ELSE 0.0 END)"
    }
    val weight = (s"(LN(fp.lam / (1.0 - fp.lam)) / LN(2.0))" +: bfs).mkString(" + ")
    // NULLIF keeps LOG10 off zero when a trial yields NO non-singleton clusters
    // (cNum = 0): the NULL rides through is/ia and POWER, and the final COALESCE
    // lands 1.0 — exactly the driver's pow(0, 0) for an all-singleton clustering
    // (empty-aggregation entropies read back as 0.0 in informationGainPowerRatio).
    def whole(c: String, b2: String) =
      s"""((SELECT -COALESCE(SUM(pr*LOG10(pr)), 0.0) FROM (
         |  SELECT COUNT(*)::DOUBLE/(SELECT COUNT(*) FROM matched_$t) AS pr
         |  FROM matched_$t GROUP BY $c)) / LOG10(NULLIF($b2, 0.0)))""".stripMargin
    def byCl(c: String, b2: String) =
      s"""((WITH pc AS (SELECT cluster_id, $c AS v, COUNT(*)::DOUBLE AS cc
         |  FROM matched_$t GROUP BY 1, 2),
         |tot AS (SELECT cluster_id, SUM(cc) AS tt FROM pc GROUP BY 1),
         |e AS (SELECT pc.cluster_id, -SUM((cc/tt)*LOG10(cc/tt)) AS ent
         |      FROM pc JOIN tot USING (cluster_id) GROUP BY 1)
         |SELECT AVG(ent) FROM e) / LOG10(NULLIF($b2, 0.0)))""".stripMargin
    val cNum = s"(SELECT COUNT(*)::DOUBLE FROM sz_$t WHERE szc > 1)"
    val uBase = attrs.map(c => s"(SELECT COUNT(DISTINCT $c) FROM $base)")
      .mkString("GREATEST(", ", ", ")::DOUBLE")
    val is = attrs.map(c => s"(${whole(c, cNum)} - ${byCl(c, cNum)})").mkString(" + ")
    val ia = attrs.map(c => s"(${whole(c, uBase)} - ${byCl(c, uBase)})").mkString(" + ")
    s"""pp_$t AS MATERIALIZED (
       |  SELECT l.uid AS uid_l, r.uid AS uid_r,
       |    $gammas
       |  FROM ${mode.pairFrom(joinCond)}
       |), pw_$t AS (
       |  SELECT uid_l, uid_r, ($weight) AS mw
       |  FROM pp_$t pp, fp_$t fp
       |), m_$t AS MATERIALIZED (
       |  SELECT uid_l, uid_r FROM pw_$t
       |  WHERE 1.0 / (1.0 + POWER(2.0, -mw)) >= ${d(Threshold)}
       |), edges_$t AS (
       |  SELECT uid_l AS ea, uid_r AS eb FROM m_$t
       |  UNION ALL
       |  SELECT uid_r, uid_l FROM m_$t
       |), reach_$t(node, r) AS (
       |  SELECT uid, uid FROM $base
       |  UNION
       |  SELECT e.eb, reach_$t.r FROM reach_$t JOIN edges_$t e ON e.ea = reach_$t.node
       |), cl_$t AS MATERIALIZED (
       |  SELECT node, MIN(r) AS cluster_id FROM reach_$t GROUP BY node
       |), sz_$t AS (
       |  SELECT cluster_id, COUNT(*) AS szc FROM cl_$t GROUP BY cluster_id
       |), matched_$t AS MATERIALIZED (
       |  SELECT cl.cluster_id, ${attrs.map(c => s"$base.$c").mkString(", ")}
       |  FROM cl_$t cl JOIN $base ON $base.uid = cl.node
       |  JOIN sz_$t sz ON sz.cluster_id = cl.cluster_id
       |  WHERE sz.szc > 1
       |), sm_$t AS (
       |  SELECT (SELECT lam FROM fp_$t) AS lam,
       |    COALESCE(POWER($is, $ia), 1.0) AS metric_raw
       |)""".stripMargin
  }

  /** Ring-pair CTE (`up`) + the shared prefix, given the mode's record CTEs. */
  private def ringCtes(attrs: Seq[String], base: String): String = {
    val offsets = (1 to 4).map { off =>
      val sel = attrs.flatMap(c => Seq(s"l.$c AS ${c}_l", s"r.$c AS ${c}_r"))
        .mkString(", ")
      s"""  SELECT $sel
         |  FROM ur l CROSS JOIN nr JOIN ur r ON r.rn = (l.rn + $off) % nr.n""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""nr AS (SELECT COUNT(*)::BIGINT AS n FROM $base
       |), ur AS MATERIALIZED (
       |  SELECT uid, ${attrs.mkString(", ")}, ROW_NUMBER() OVER (ORDER BY uid) - 1 AS rn
       |  FROM $base
       |), up AS MATERIALIZED (
       |$offsets
       |)""".stripMargin
  }

  private def sqlStr(s: String) = s.replace("'", "''")

  private def trialSelect(
      plans: Seq[TrialPlan],
      extraCols: String,
      extraOrder: String): String =
    s"""SELECT CAST(1 AS BIGINT) AS trial, '${sqlStr(plans(0).rule)}' AS blocking_rule,
       |  ROUND(s1.lam, 6) AS lambda, ROUND(s1.metric_raw, 6) AS trial_metric,
       |  (s1.metric_raw >= s2.metric_raw) AS is_best$extraCols
       |FROM sm_1 s1, sm_2 s2$extraOrder
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), '${sqlStr(plans(1).rule)}',
       |  ROUND(s2.lam, 6), ROUND(s2.metric_raw, 6),
       |  (s2.metric_raw > s1.metric_raw)$extraCols
       |FROM sm_1 s1, sm_2 s2$extraOrder
       |ORDER BY trial""".stripMargin

  private def perTrialCtes(attrs: Seq[String], mode: Mode, plans: Seq[TrialPlan]): String =
    plans.map { p =>
      (Seq(uCtes(attrs, p)) ++
        (1 to p.sessions.size).map(k => sessionCtes(attrs, mode, p, k)) ++
        Seq(modelCte(attrs, p), trialTail(attrs, mode, p))).mkString(",\n")
    }.mkString(",\n")

  /** The full generated dedupe-mode statement. */
  val twoTrialsSql: String = {
    val plans = makePlans(Attrs, AutoLinker.warmupDraws(Seed, Attrs, RuleChoices, NTrials))
    s"""WITH RECURSIVE b AS MATERIALIZED (
       |  SELECT CAST(c_custkey AS VARCHAR) AS uid, c_name, c_mktsegment,
       |         CAST(c_nationkey AS VARCHAR) AS c_nationkey
       |  FROM customer WHERE c_custkey % 3 = 0
       |), ${ringCtes(Attrs, "b")},
       |${perTrialCtes(Attrs, DedupeMode, plans)}
       |${trialSelect(plans, "", "")}""".stripMargin
  }

  /** The full generated link-mode statement: Y10 mapping recomputed from the raw
    * halves (unpivot → value join → greedy pick — here the ranked pairings have
    * pairwise-distinct columns, so the rank-anti-join equals the greedy walk),
    * then the two-trial chain over the aligned `bl`/`br`/union CTEs.
    */
  val twoTrialsLinkSql: String = {
    val plans = makePlans(LinkAttrs,
      AutoLinker.warmupDraws(LinkSeed, LinkAttrs, LinkRuleChoices, NTrials))
    val clean = (e: String) => s"lower(regexp_replace($e, '[^A-Za-z0-9 ]+', '', 'g'))"
    val lExprs = Seq("name_prefix" -> "substr(c_name, 1, 12)",
      "segment" -> "c_mktsegment", "nation" -> "CAST(c_nationkey AS VARCHAR)")
    val rNames = Map("name_prefix" -> "prefix", "segment" -> "mkt", "nation" -> "nat")
    def unpivot(side: String, parity: Int, nameOf: String => String) =
      lExprs.map { case (lc, e) =>
        s"SELECT '${nameOf(lc)}' AS $side, ${clean(e)} AS v FROM customer " +
          s"WHERE c_custkey % 3 = 0 AND c_custkey % 2 = $parity"
      }.mkString("\n  UNION ALL\n  ")
    val sel = lExprs.map { case (c, e) => s"$e AS $c" }.mkString(", ")
    s"""WITH RECURSIVE bl AS MATERIALIZED (
       |  SELECT 'l-' || CAST(c_custkey AS VARCHAR) AS uid, $sel
       |  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 = 0
       |), br AS MATERIALIZED (
       |  SELECT 'r-' || CAST(c_custkey AS VARCHAR) AS uid, $sel
       |  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 = 1
       |), u AS MATERIALIZED (
       |  SELECT * FROM bl UNION ALL SELECT * FROM br
       |), lm AS (
       |  ${unpivot("lc", 0, identity)}
       |), rm AS (
       |  ${unpivot("rc", 1, rNames)}
       |), lg AS (SELECT lc, v, COUNT(*) AS n1 FROM lm WHERE v IS NOT NULL GROUP BY 1, 2),
       |rg AS (SELECT rc, v, COUNT(*) AS n2 FROM rm WHERE v IS NOT NULL GROUP BY 1, 2),
       |mp AS (SELECT lc, rc, CAST(SUM(n1*n2) AS BIGINT) AS mc FROM lg JOIN rg USING (v) GROUP BY 1, 2),
       |mr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY mc DESC, lc, rc) AS rk FROM mp),
       |mpick AS (
       |  SELECT * FROM mr r1 WHERE NOT EXISTS (
       |    SELECT 1 FROM mr r2 WHERE r2.rk < r1.rk AND (r2.lc = r1.lc OR r2.rc = r1.rc))
       |), mstr AS (
       |  SELECT string_agg(lc || '<' || rc || ':' || mc, ',' ORDER BY rk) AS mapping FROM mpick
       |), ${ringCtes(LinkAttrs, "u")},
       |${perTrialCtes(LinkAttrs, LinkMode, plans)}
       |${trialSelect(plans, ",\n  ms.mapping AS mapping", ", mstr ms")}""".stripMargin
  }
}
