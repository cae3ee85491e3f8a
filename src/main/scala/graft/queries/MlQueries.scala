package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.{Evaluation, GenEval}
import graft.textops.{QualityClassifier, TextOps}
import graft.queries.Fixtures.docs

/** SparkEntry query + oracle entries for the quality classifier: scoring with a fixed
  * pretrained weight vector is DuckDB-oracle-checked (identical feature arithmetic and
  * left-associative dot product on both sides); training is iterative and rows-only,
  * pinned by CurationSpec accuracy/loss tests.
  */
object MlQueries {

  /** Feature names, index-aligned with [[QualityClassifier.textFeatures]]. */
  private val FeatureNames: Seq[String] =
    Seq("bias", "len_sat", "punct_ratio", "stop_ratio") ++
      TextOps.LangMarkers.map { case (lang, _) => s"marker_$lang" }

  /** A fixed "pretrained" quality model: rewards stopword/English-marker density and
    * length, penalizes punctuation and non-English markers.
    */
  private val ScoreWeights: Array[Double] =
    Array(-3.0, 1.0, -2.0, 4.0, 3.0, -2.0, -2.0, -2.0, -2.0)

  /** (candidate, reference) pairs for the generation-eval metrics: each doc against
    * its successor, except every 10th doc paired with itself (exercising the
    * perfect-score branch of every metric). Pair ids are unique by construction.
    */
  private def genPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.as("a")
      .join(d.as("b"),
        col("b.doc_id") === when(col("a.doc_id") % 10 === 0, col("a.doc_id"))
          .otherwise(col("a.doc_id") + 1))
      .select(col("a.doc_id").as("pair_id"),
        col("a.text").as("cand"), col("b.text").as("ref"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sentence BLEU-4 (Papineni 2002, add-one smoothing on n>=2) per pair
    "eval_bleu" -> { (s, dir) =>
      GenEval.bleu(genPairs(s, dir), col("pair_id"), col("cand"), col("ref"), maxN = 4)
        .select(col("pair_id"), col("cand_len"), col("ref_len"),
          round(col("bp"), 6).as("bp"), round(col("bleu"), 6).as("bleu"))
        .orderBy("pair_id")
    },
    // corpus-level BLEU per language (sacrebleu semantics: counts summed first,
    // unsmoothed closed form on the integer totals — partitioning-invariant)
    "eval_corpus_bleu" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val pairs = d.as("a")
        .join(d.as("b"),
          col("b.doc_id") === when(col("a.doc_id") % 10 === 0, col("a.doc_id"))
            .otherwise(col("a.doc_id") + 1))
        .select(col("a.lang").as("lang"),
          col("a.text").as("cand"), col("b.text").as("ref"))
      GenEval.corpusBleu(pairs, col("lang"), col("cand"), col("ref"))
        .select(col("group").as("lang"), col("n_pairs"), col("cand_len"),
          col("ref_len"), round(col("bp"), 6).as("bp"),
          round(col("bleu"), 6).as("bleu"))
        .orderBy("lang")
    },
    // ROUGE-1/2 clipped precision/recall/F1 per pair
    "eval_rouge_n" -> { (s, dir) =>
      GenEval.rougeN(genPairs(s, dir), col("pair_id"), col("cand"), col("ref"), Seq(1, 2))
        .select(col("pair_id"), col("n"), col("matched"),
          round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("rec"),
          round(col("f1"), 6).as("f1"))
        .orderBy("pair_id", "n")
    },
    // chrF2 (Popović 2015): char 1..4-gram F with beta=2 per pair
    "eval_chrf" -> { (s, dir) =>
      GenEval.chrF(genPairs(s, dir), col("pair_id"), col("cand"), col("ref"))
        .select(col("pair_id"),
          round(col("chr_p"), 6).as("chr_p"),
          round(col("chr_r"), 6).as("chr_r"),
          round(col("chrf"), 6).as("chrf"))
        .orderBy("pair_id")
    },
    // ROUGE-L (LCS) precision/recall/F per pair — one row-local DP projection
    "eval_rouge_l" -> { (s, dir) =>
      GenEval.rougeL(genPairs(s, dir), col("pair_id"), col("cand"), col("ref"))
        .select(col("pair_id"), col("lcs"), col("cand_len"), col("ref_len"),
          round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("rec"),
          round(col("f1"), 6).as("f1"))
        .orderBy("pair_id")
    },
    // SQuAD-style token F1 + exact match per pair
    "eval_token_f1" -> { (s, dir) =>
      GenEval.tokenF1(genPairs(s, dir), col("pair_id"), col("cand"), col("ref"))
        .select(col("pair_id"), col("exact_match"), col("matched"),
          round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("rec"),
          round(col("f1"), 6).as("f1"))
        .orderBy("pair_id")
    },
    // distinct-n diversity (Li 2016) of the corpus per language, n = 1..3
    "eval_distinct_n" -> { (s, dir) =>
      GenEval.distinctN(docs(s, dir), col("lang"), col("text"), Seq(1, 2, 3))
        .select(col("group").as("lang"), col("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          round(col("distinct_ratio"), 6).as("distinct_ratio"))
        .orderBy("lang", "n")
    },
    // unbiased pass@k (Chen et al. 2021 eq. 1) over a deterministic sampled-
    // generations fixture: task = custkey bucket, pass = order finished
    "eval_pass_at_k" -> { (s, dir) =>
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select((col("o_custkey") % 100).cast("string").as("task"),
          (col("o_orderstatus") === "F").as("passed"))
      Evaluation.passAtK(o, col("task"), col("passed"), Seq(1, 5, 10))
        .select(col("task"), col("n"), col("c"),
          round(col("pass_at_1"), 6).as("pass_at_1"),
          round(col("pass_at_5"), 6).as("pass_at_5"),
          round(col("pass_at_10"), 6).as("pass_at_10"))
        .orderBy("task")
    },
    // self-consistency majority vote: modal answer per task (ties → smallest),
    // agreement share — one struct-MIN argmax, no sort window
    "eval_majority_vote" -> { (s, dir) =>
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select((col("o_custkey") % 100).cast("string").as("task"),
          col("o_orderpriority").as("ans"))
      Evaluation.majorityVote(o, col("task"), col("ans"))
        .select(col("task"), col("answer"), col("votes"), col("n"),
          round(col("agreement"), 6).as("agreement"))
        .orderBy("task")
    },
    "ml_quality_score" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          round(QualityClassifier.score(
            QualityClassifier.textFeatures(col("text")), ScoreWeights), 6)
            .as("p_quality"))
        .orderBy("doc_id")
    },
    "ml_quality_newton_agg" -> { (s, dir) =>
      // the distributed core of ONE Newton/IRLS iteration, pinned cell-exactly (the
      // j5_em_one_iter pattern): at the fixed pretrained weights w0=ScoreWeights,
      // emit the normalized gradient, Hessian upper triangle, and logistic loss the
      // driver solve consumes. The LU solve itself is driver-side commons-math
      // (deterministic, CurationSpec-pinned); the expensive distributed part is
      // exactly this aggregation, and a DuckDB replay checks every cell.
      import s.implicits._
      val dim = FeatureNames.length
      val scored = docs(s, dir).select(
          (TextOps.qualityScore(col("text")) >= 0.54).cast("double").as("y"),
          QualityClassifier.textFeatures(col("text")).as("x"))
        .withColumn("p", QualityClassifier.score(col("x"), ScoreWeights))
      val upper = for (j <- 0 until dim; l <- j until dim) yield (j, l)
      val pc = least(greatest(col("p"), lit(1e-12)), lit(1.0 - 1e-12))
      val aggs =
        (0 until dim).map(j =>
          sum((col("p") - col("y")) * element_at(col("x"), j + 1)).as(s"g$j")) ++
        upper.map { case (j, l) =>
          sum(col("p") * (lit(1.0) - col("p")) *
            element_at(col("x"), j + 1) * element_at(col("x"), l + 1)).as(s"h${j}_$l")
        } ++
        Seq(sum(-(col("y") * log(pc) + (lit(1.0) - col("y")) * log(lit(1.0) - pc)))
          .as("loss"),
          count(lit(1)).as("n"))
      val row = scored.agg(aggs.head, aggs.tail: _*).first()
      val n = row.getLong(aggs.size - 1).toDouble
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val stats =
        (0 until dim).map(j => (s"g$j", r6(row.getDouble(j) / n))) ++
        upper.zipWithIndex.map { case ((j, l), i) =>
          (s"h${j}_$l", r6(row.getDouble(dim + i) / n)) } ++
        Seq(("loss", r6(row.getDouble(aggs.size - 2) / n)), ("n", n))
      stats.toDF("stat", "value").orderBy("stat")
    },
    // operating-point picker: PR curve of the pretrained quality model at 20
    // thresholds — bucket-collapse + bounded explode, the same (p, y) pair as AUC
    "ml_pr_curve" -> { (s, dir) =>
      val scored = docs(s, dir).select(
        QualityClassifier.score(
          QualityClassifier.textFeatures(col("text")), ScoreWeights).as("p"),
        (TextOps.qualityScore(col("text")) >= 0.54).cast("double").as("y"))
      Evaluation.prCurve(scored, col("p"), col("y"), bins = 20)
        .select(round(col("threshold"), 6).as("threshold"),
          col("predicted_pos"), col("tp"),
          round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("rec"),
          round(col("f1"), 6).as("f1"))
        .orderBy("threshold")
    },
    "ml_eval_auc" -> { (s, dir) =>
      // evaluation gate for the pretrained quality model: tie-aware ROC-AUC +
      // Brier against the rule-based label — the same (p, y) pair the Newton agg
      // pins. AUC's rank sums are exact half-integer arithmetic and Brier is a
      // per-row scaled-integer sum, so both reproduce bit-for-bit across engines
      // and partitionings; only the final divisions are floating-point.
      val scored = docs(s, dir).select(
        QualityClassifier.score(
          QualityClassifier.textFeatures(col("text")), ScoreWeights).as("p"),
        (TextOps.qualityScore(col("text")) >= 0.54).cast("double").as("y"))
      Evaluation.rocAuc(scored, col("p"), col("y"))
        .select(round(col("auc"), 6).as("auc"), round(col("brier_e6"), 6).as("brier"),
          col("n_pos"), col("n_neg"))
    },
    "ml_calibration_bins" -> { (s, dir) =>
      // reliability diagram for the same model: per probability decile, support,
      // mean prediction, observed positive rate — the systematic-gap view that
      // tells an operator whether the score can be thresholded as a probability
      val scored = docs(s, dir).select(
        QualityClassifier.score(
          QualityClassifier.textFeatures(col("text")), ScoreWeights).as("p"),
        (TextOps.qualityScore(col("text")) >= 0.54).cast("double").as("y"))
      Evaluation.calibrationBins(scored, col("p"), col("y"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("mean_p"), 6).as("mean_p"), round(col("frac_pos"), 6).as("frac_pos"))
        .orderBy("bin")
    },
    "ml_uncertainty_sample" -> { (s, dir) =>
      // active-learning batch selection: the 20 documents the quality model is
      // least sure about (smallest |p − 0.5|) — the rows a labeling budget buys
      // first. Global top-k rides ONE TakeOrdered job (per-partition top-k +
      // driver merge), never a global sort; ordering on the ROUNDED margin with
      // doc_id tiebreak is engine-exact.
      val scored = docs(s, dir).select(col("doc_id"),
        round(QualityClassifier.score(
          QualityClassifier.textFeatures(col("text")), ScoreWeights), 6).as("p"))
      scored
        .withColumn("margin", round(abs(col("p") - 0.5), 6))
        .orderBy(col("margin"), col("doc_id"))
        .limit(20)
        .select("doc_id", "p", "margin")
    },
    "stream_auc" -> { (s, dir) =>
      // the SAME evaluation maintained against a document FEED: a streaming
      // aggregation holds (n, n_pos) per 3dp-rounded-score bin (≤1001 rows of
      // state), and AUC/Brier are closed forms over that state — the DuckDB
      // oracle replays the batch equivalent on the same rounded score
      val bins = graft.streaming.StreamOps.streamingAucBins(s,
        s"$dir/documents.parquet",
        t => QualityClassifier.score(QualityClassifier.textFeatures(t), ScoreWeights),
        t => (TextOps.qualityScore(t) >= 0.54).cast("double"))
      val groups = bins.select(col("s"),
        col("n").cast("double").as("cnt"),
        col("n_pos").cast("double").as("pos"),
        (col("n_pos") * round((col("s") - 1.0) * (col("s") - 1.0) * 1e6).cast("long") +
          (col("n") - col("n_pos")) * round(col("s") * col("s") * 1e6).cast("long"))
          .as("bsum"))
      Evaluation.rocAucFromCounts(groups)
        .select(round(col("auc"), 6).as("auc"), round(col("brier_e6"), 6).as("brier"),
          col("n_pos"), col("n_neg"))
    },
    "ml_quality_train" -> { (s, dir) =>
      // distill the rule-based quality score into a logistic model (the label is a
      // linear threshold over the features, so IRLS separates it) — FULL oracle:
      // 8 fixed Newton steps replayed by a generated aggregate/solve chain
      val d = docs(s, dir)
      val model = QualityClassifier.fit(d,
        QualityClassifier.textFeatures(col("text")),
        (TextOps.qualityScore(col("text")) >= 0.54).cast("int"),
        dim = FeatureNames.length, iters = 8)
      import s.implicits._
      FeatureNames.zip(model.weights).toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 3).as("weight"))
        .orderBy("feature")
    })

  // ---- oracle SQL ----------------------------------------------------------

  private def toksSql(textExpr: String) = TextQueries.toksSql(textExpr)

  private def inList(words: Seq[String]) = TextQueries.inList(words)

  private def ratioSql(words: Seq[String]) =
    s"""CASE WHEN len(toks) = 0 THEN 0.0
       |ELSE len(list_filter(toks, t -> t IN ${inList(words)}))::DOUBLE / len(toks) END"""
      .stripMargin.replace("\n", " ")

  /** DuckDB renderings of [[QualityClassifier.textFeatures]], index-aligned. */
  private val featSqls: Seq[String] = Seq(
    "1.0",
    "LEAST(1.0, len(toks)::DOUBLE / 100.0)",
    """CASE WHEN length(text) = 0 THEN 0.0
      |ELSE length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) END"""
      .stripMargin.replace("\n", " "),
    ratioSql(TextOps.EnglishStopwords)) ++
    TextOps.LangMarkers.map { case (_, ms) => ratioSql(ms) }

  /** Shared CTE chain ending in `s(p, y)` — the scored/labeled view both eval
    * oracles read; identical feature arithmetic to the newton-agg oracle.
    */
  private val scoredCte: String = {
    val dot = ScoreWeights.indices.map(j => s"(${ScoreWeights(j)}) * f$j").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       |f0 AS (
       |  SELECT ${featSqls.zipWithIndex.map { case (f, j) => s"($f) AS f$j" }.mkString(",\n    ")}
       |  FROM t
       |), s AS (
       |  SELECT 1.0 / (1.0 + exp(-($dot))) AS p,
       |    CASE WHEN 0.4 * f1 + 0.3 * (1.0 - f2) + 0.3 * f3 >= 0.54
       |         THEN 1.0 ELSE 0.0 END AS y
       |  FROM f0
       |)""".stripMargin
  }

  /** GENERATED full IRLS training oracle: 8 fixed Newton iterations from w=0,
    * each one scored pass (σ of the weight-CTE dot), one normalized
    * gradient/Hessian aggregate (the cell-pinned newton-agg shapes), a
    * ridge-augmented 9×10 matrix, and an UNROLLED pivot-free Gaussian
    * elimination + back-substitution. The Spark side solves with commons-math
    * partial-pivot LU; on the ridge-regularized SPD Hessian both solvers agree
    * to ~1e-12 per step, and the emitted weights round to 3 decimals — so the
    * solver difference is far inside the compare tolerance. Every matrix CTE is
    * MATERIALIZED (scalar lookups would otherwise re-expand the chain).
    */
  private def mlQualityTrainSql(iters: Int): String = {
    val dim = FeatureNames.length
    val upper = for (j <- 0 until dim; l <- j until dim) yield (j, l)
    def h(r: Int, c: Int) = if (r <= c) s"h${r}_$c" else s"h${c}_$r"
    def iteration(i: Int): String = {
      val dot = (0 until dim)
        .map(j => s"(SELECT v FROM w${i - 1} WHERE j = $j) * f$j").mkString(" + ")
      val ghCols = ((0 until dim).map(j =>
          s"SUM((p - y) * f$j) / COUNT(*) AS g$j") ++
        upper.map { case (j, l) =>
          s"SUM(p * (1.0 - p) * f$j * f$l) / COUNT(*) AS h${j}_$l" }).mkString(",\n    ")
      val augRows = (for (r <- 0 until dim; c <- 0 to dim) yield {
        val v =
          if (c == dim) s"g$r"
          else if (r == c) s"${h(r, c)} + 0.0001"
          else h(r, c)
        s"SELECT $r AS r, $c AS c, $v AS v FROM gh$i"
      }).mkString(" UNION ALL ")
      val elim = (0 until dim - 1).map { k =>
        s"""a${i}_${k + 1} AS MATERIALIZED (
           |  SELECT a.r, a.c,
           |    CASE WHEN a.r > $k THEN a.v - cl.v / pv.v * rw.v ELSE a.v END AS v
           |  FROM a${i}_$k a
           |  JOIN a${i}_$k cl ON cl.r = a.r AND cl.c = $k
           |  JOIN a${i}_$k rw ON rw.r = $k AND rw.c = a.c
           |  CROSS JOIN (SELECT v FROM a${i}_$k WHERE r = $k AND c = $k) pv(v))""".stripMargin
      }.mkString(",\n")
      val fin = s"a${i}_${dim - 1}"
      val backs = (dim - 1 to 0 by -1).map { k =>
        val terms = (k + 1 until dim).map(l =>
          s"(SELECT v FROM $fin WHERE r = $k AND c = $l) * (SELECT v FROM x${i}_$l)")
        val sub = if (terms.isEmpty) "" else s" - (${terms.mkString(" + ")})"
        s"""x${i}_$k AS MATERIALIZED (
           |  SELECT $k AS j,
           |    ((SELECT v FROM $fin WHERE r = $k AND c = $dim)$sub) /
           |      (SELECT v FROM $fin WHERE r = $k AND c = $k) AS v)""".stripMargin
      }.mkString(",\n")
      val xs = (0 until dim).map(k => s"SELECT j, v FROM x${i}_$k").mkString(" UNION ALL ")
      s"""s$i AS (SELECT f.*, 1.0 / (1.0 + exp(-($dot))) AS p FROM f),
         |gh$i AS MATERIALIZED (
         |  SELECT $ghCols
         |  FROM s$i),
         |a${i}_0 AS MATERIALIZED ($augRows),
         |$elim,
         |$backs,
         |w$i AS MATERIALIZED (
         |  SELECT w.j, w.v - x.v AS v FROM w${i - 1} w
         |  JOIN ($xs) x USING (j))""".stripMargin
    }
    val names = FeatureNames.zipWithIndex
      .map { case (n, j) => s"($j, '$n')" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
       |f AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN 0.4 * f1 + 0.3 * (1.0 - f2) + 0.3 * f3 >= 0.54
       |         THEN 1.0 ELSE 0.0 END AS y
       |  FROM (SELECT ${featSqls.zipWithIndex.map { case (fx, j) => s"($fx) AS f$j" }.mkString(",\n    ")}
       |        FROM t)),
       |w0 AS MATERIALIZED (SELECT unnest(range(0, $dim)) AS j, 0.0 AS v),
       |${(1 to iters).map(iteration).mkString(",\n")}
       |SELECT fn.feature, ROUND(w.v, 3) + 0.0 AS weight
       |FROM w$iters w JOIN (VALUES $names) AS fn(j, feature) USING (j)
       |ORDER BY fn.feature""".stripMargin
  }

  /** pass@k factors in the same fixed left-associated product order as
    * [[Evaluation.passAtK]].
    */
  private def passAtKSql(ks: Seq[Int]): String = {
    val cols = ks.map { k =>
      val prod = (0 until k)
        .map(j => s"((n - c - $j)::DOUBLE / (n - $j))").mkString(" * ")
      s"""CASE WHEN n < $k THEN NULL
         |       WHEN n - c < $k THEN 1.0
         |       ELSE ROUND(1.0 - $prod, 6) END AS pass_at_$k""".stripMargin
    }.mkString(",\n  ")
    s"""WITH s AS (
       |  SELECT CAST(o_custkey % 100 AS VARCHAR) AS task,
       |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
       |  FROM orders),
       |a AS (SELECT task, COUNT(*) AS n, CAST(SUM(p) AS BIGINT) AS c FROM s GROUP BY 1)
       |SELECT task, n, c,
       |  $cols
       |FROM a ORDER BY task""".stripMargin
  }

  /** The gen-eval pair fixture CTE `p(pair_id, cand, ref)` — mirrors [[genPairs]]. */
  private val genPairsCte: String =
    """p AS (
      |  SELECT a.doc_id AS pair_id, a.text AS cand, b.text AS ref
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = CASE WHEN a.doc_id % 10 = 0 THEN a.doc_id
      |                       ELSE a.doc_id + 1 END)""".stripMargin

  /** Char n-gram SQL over the whitespace-stripped string — replays
    * [[graft.expressions.CharShingles]] (the `[ \t\n\r\f]` class is the
    * expression's explicit whitespace set; RE2 reads the escapes).
    */
  private def charShinglesSql(textExpr: String, n: Int): String = {
    val s = s"regexp_replace($textExpr, '[ \\t\\n\\r\\f]+', '', 'g')"
    s"(CASE WHEN length($s) < $n THEN [] ELSE " +
      s"list_transform(range(1, length($s) - ${n - 2}), i -> substr($s, i, $n)) END)"
  }

  /** The clipped n-gram stats chain `st(pair_id, n, m, tc, tr)` over the pair CTE
    * `p` — replays [[GenEval.clippedNgramStats]] (grid left-joins give explicit
    * zeros for gram-less sides).
    */
  private def clippedCtes(ns: Seq[Int], gramSql: (String, Int) => String): String = {
    def grams(side: String) = ns
      .map(n => s"SELECT pair_id, $n AS n, unnest(${gramSql(side, n)}) AS gram FROM p")
      .mkString("\n       UNION ALL ")
    val nvals = ns.map(n => s"($n)").mkString(", ")
    s"""cg AS (${grams("cand")}),
       |rg AS (${grams("ref")}),
       |cc AS (SELECT pair_id, n, gram, COUNT(*) AS cnt FROM cg GROUP BY 1, 2, 3),
       |rc AS (SELECT pair_id, n, gram, COUNT(*) AS cnt FROM rg GROUP BY 1, 2, 3),
       |ct AS (SELECT pair_id, n, SUM(cnt) AS tc FROM cc GROUP BY 1, 2),
       |rt AS (SELECT pair_id, n, SUM(cnt) AS tr FROM rc GROUP BY 1, 2),
       |mm AS (SELECT pair_id, n, SUM(LEAST(cc.cnt, rc.cnt)) AS m
       |       FROM cc JOIN rc USING (pair_id, n, gram) GROUP BY 1, 2),
       |grid AS (SELECT pair_id, v.n FROM p CROSS JOIN (VALUES $nvals) v(n)),
       |st AS (SELECT grid.pair_id, grid.n,
       |         COALESCE(mm.m, 0) AS m, COALESCE(ct.tc, 0) AS tc, COALESCE(rt.tr, 0) AS tr
       |       FROM grid LEFT JOIN ct USING (pair_id, n) LEFT JOIN rt USING (pair_id, n)
       |       LEFT JOIN mm USING (pair_id, n))""".stripMargin
  }

  private def wordShinglesSql(textExpr: String, n: Int): String =
    TextQueries.shinglesSqlN(textExpr, n)

  val oracleSql: Map[String, String] = Map(
    "eval_bleu" -> {
      val logs = (1 to 4).map(k => s"LN(GREATEST(p$k, 1e-300))").mkString(" + ")
      s"""WITH $genPairsCte,
         |${clippedCtes(1 to 4, wordShinglesSql)},
         |pn AS (SELECT pair_id, n,
         |         CASE WHEN n = 1 THEN CASE WHEN tc = 0 THEN 0.0 ELSE m::DOUBLE / tc END
         |              ELSE (m + 1)::DOUBLE / (tc + 1) END AS pv, tc, tr FROM st),
         |ag AS (SELECT pair_id,
         |         CAST(SUM(CASE WHEN n = 1 THEN tc END) AS BIGINT) AS cand_len,
         |         CAST(SUM(CASE WHEN n = 1 THEN tr END) AS BIGINT) AS ref_len,
         |         MAX(CASE WHEN n = 1 THEN pv END) AS p1,
         |         MAX(CASE WHEN n = 2 THEN pv END) AS p2,
         |         MAX(CASE WHEN n = 3 THEN pv END) AS p3,
         |         MAX(CASE WHEN n = 4 THEN pv END) AS p4
         |       FROM pn GROUP BY 1),
         |bpc AS (SELECT *,
         |         CASE WHEN cand_len = 0 THEN 0.0
         |              WHEN cand_len >= ref_len THEN 1.0
         |              ELSE EXP(1.0 - ref_len::DOUBLE / cand_len) END AS bp
         |        FROM ag)
         |SELECT pair_id, cand_len, ref_len, ROUND(bp, 6) AS bp,
         |  ROUND(CASE WHEN p1 = 0 THEN 0.0
         |        ELSE bp * EXP(($logs) / 4) END, 6) AS bleu
         |FROM bpc ORDER BY pair_id""".stripMargin
    },
    "eval_corpus_bleu" -> {
      val logs = (1 to 4)
        .map(k => s"LN(GREATEST(m$k::DOUBLE / t$k, 1e-300))").mkString(" + ")
      val zero = (1 to 4).map(k => s"m$k = 0 OR t$k = 0").mkString(" OR ")
      val pivots = (1 to 4).flatMap(k => Seq(
        s"MAX(CASE WHEN n = $k THEN m END) AS m$k",
        s"MAX(CASE WHEN n = $k THEN tc END) AS t$k")).mkString(",\n  ")
      s"""WITH $genPairsCte,
         |${clippedCtes(1 to 4, wordShinglesSql)},
         |lg AS (SELECT doc_id AS pair_id, lang FROM documents),
         |g AS (SELECT lg.lang, st.n, CAST(SUM(st.m) AS BIGINT) AS m,
         |        CAST(SUM(st.tc) AS BIGINT) AS tc, CAST(SUM(st.tr) AS BIGINT) AS tr
         |      FROM st JOIN lg USING (pair_id) GROUP BY 1, 2),
         |np AS (SELECT lg.lang, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM p JOIN lg USING (pair_id) GROUP BY 1),
         |a AS (SELECT lang,
         |  $pivots,
         |  MAX(CASE WHEN n = 1 THEN tr END) AS ref_len
         |  FROM g GROUP BY lang),
         |b AS (SELECT a.*, np.n_pairs,
         |        CASE WHEN t1 = 0 THEN 0.0
         |             WHEN t1 >= ref_len THEN 1.0
         |             ELSE EXP(1.0 - ref_len::DOUBLE / t1) END AS bp
         |      FROM a JOIN np USING (lang))
         |SELECT lang, n_pairs, t1 AS cand_len, ref_len, ROUND(bp, 6) AS bp,
         |  ROUND(CASE WHEN $zero THEN 0.0
         |        ELSE bp * EXP(($logs) / 4) END, 6) AS bleu
         |FROM b ORDER BY lang""".stripMargin
    },
    "eval_rouge_n" ->
      s"""WITH $genPairsCte,
         |${clippedCtes(Seq(1, 2), wordShinglesSql)},
         |pr AS (SELECT pair_id, n, CAST(m AS BIGINT) AS matched,
         |         CASE WHEN tc = 0 THEN 0.0 ELSE m::DOUBLE / tc END AS pv,
         |         CASE WHEN tr = 0 THEN 0.0 ELSE m::DOUBLE / tr END AS rv FROM st)
         |SELECT pair_id, n, matched,
         |  ROUND(pv, 6) AS prec, ROUND(rv, 6) AS rec,
         |  ROUND(CASE WHEN pv + rv = 0 THEN 0.0
         |        ELSE 2.0 * pv * rv / (pv + rv) END, 6) AS f1
         |FROM pr ORDER BY pair_id, n""".stripMargin,
    "eval_chrf" ->
      s"""WITH $genPairsCte,
         |${clippedCtes(1 to 4, charShinglesSql)},
         |pr AS (SELECT pair_id, n,
         |         CASE WHEN tc = 0 THEN 0.0 ELSE m::DOUBLE / tc END AS pv,
         |         CASE WHEN tr = 0 THEN 0.0 ELSE m::DOUBLE / tr END AS rv FROM st),
         |ag AS (SELECT pair_id,
         |         MAX(CASE WHEN n = 1 THEN pv END) AS p1,
         |         MAX(CASE WHEN n = 2 THEN pv END) AS p2,
         |         MAX(CASE WHEN n = 3 THEN pv END) AS p3,
         |         MAX(CASE WHEN n = 4 THEN pv END) AS p4,
         |         MAX(CASE WHEN n = 1 THEN rv END) AS r1,
         |         MAX(CASE WHEN n = 2 THEN rv END) AS r2,
         |         MAX(CASE WHEN n = 3 THEN rv END) AS r3,
         |         MAX(CASE WHEN n = 4 THEN rv END) AS r4
         |       FROM pr GROUP BY 1),
         |fin AS (SELECT pair_id,
         |          (((p1 + p2) + p3) + p4) / 4 AS chr_p,
         |          (((r1 + r2) + r3) + r4) / 4 AS chr_r FROM ag)
         |SELECT pair_id, ROUND(chr_p, 6) AS chr_p, ROUND(chr_r, 6) AS chr_r,
         |  ROUND(CASE WHEN chr_p + chr_r = 0 THEN 0.0
         |        ELSE 5.0 * chr_p * chr_r / (4.0 * chr_p + chr_r) END, 6) AS chrf
         |FROM fin ORDER BY pair_id""".stripMargin,
    // The LCS DP replayed in pure SQL: the accumulator is the DP row dp[i-1][0..m]
    // carried through a list_reduce over candidate tokens (struct-wrapped so the
    // initial zero row can ride as the prepended first element — DuckDB's
    // list_reduce has no initial-value form). The row update uses the prefix-max
    // identity dp[i][j] = max_{k<=j} max(dp[i-1][k], dp[i-1][k-1] + eq_k), which
    // removes the sequential dp[i][j-1] dependency a flat lambda can't express.
    "eval_rouge_l" -> {
      val lcs =
        """list_reduce(
          |    list_prepend(
          |      {'row': list_transform(range(0, len(rt) + 1), z -> 0), 'tok': ''},
          |      list_transform(ct, c -> {'row': []::INT[], 'tok': c})),
          |    (acc, x) -> {
          |      'row': list_prepend(0,
          |        list_transform(range(1, len(rt) + 1), j ->
          |          list_max(list_transform(range(1, j + 1), i ->
          |            GREATEST(acc.row[i + 1],
          |              acc.row[i] + CASE WHEN x.tok = rt[i] THEN 1 ELSE 0 END))))),
          |      'tok': ''
          |    })""".stripMargin
      s"""WITH $genPairsCte,
         |tk AS (SELECT pair_id, ${toksSql("cand")} AS ct, ${toksSql("ref")} AS rt FROM p),
         |d AS (SELECT pair_id, len(ct) AS cand_len, len(rt) AS ref_len,
         |        ($lcs).row[len(rt) + 1] AS lcs
         |      FROM tk),
         |pr AS (SELECT pair_id, CAST(lcs AS INT) AS lcs,
         |         CAST(cand_len AS INT) AS cand_len, CAST(ref_len AS INT) AS ref_len,
         |         CASE WHEN cand_len = 0 THEN 0.0 ELSE lcs::DOUBLE / cand_len END AS pv,
         |         CASE WHEN ref_len = 0 THEN 0.0 ELSE lcs::DOUBLE / ref_len END AS rv
         |       FROM d)
         |SELECT pair_id, lcs, cand_len, ref_len,
         |  ROUND(pv, 6) AS prec, ROUND(rv, 6) AS rec,
         |  ROUND(CASE WHEN pv + rv = 0 THEN 0.0
         |        ELSE 2.0 * pv * rv / (pv + rv) END, 6) AS f1
         |FROM pr ORDER BY pair_id""".stripMargin
    },
    "eval_token_f1" ->
      s"""WITH p0 AS (
         |  SELECT a.doc_id AS pair_id, a.text AS cand, b.text AS ref
         |  FROM documents a JOIN documents b
         |    ON b.doc_id = CASE WHEN a.doc_id % 10 = 0 THEN a.doc_id
         |                       ELSE a.doc_id + 1 END),
         |p AS (SELECT pair_id, lower(cand) AS cand, lower(ref) AS ref FROM p0),
         |${clippedCtes(Seq(1), wordShinglesSql)},
         |em AS (SELECT pair_id,
         |         (${toksSql("cand")} = ${toksSql("ref")}) AS exact_match FROM p),
         |pr AS (SELECT pair_id, CAST(m AS BIGINT) AS matched,
         |         CASE WHEN tc = 0 THEN 0.0 ELSE m::DOUBLE / tc END AS pv,
         |         CASE WHEN tr = 0 THEN 0.0 ELSE m::DOUBLE / tr END AS rv
         |       FROM st WHERE n = 1)
         |SELECT pair_id, exact_match, matched,
         |  ROUND(pv, 6) AS prec, ROUND(rv, 6) AS rec,
         |  ROUND(CASE WHEN pv + rv = 0 THEN 0.0
         |        ELSE 2.0 * pv * rv / (pv + rv) END, 6) AS f1
         |FROM pr JOIN em USING (pair_id) ORDER BY pair_id""".stripMargin,
    "eval_distinct_n" -> {
      val grams = Seq(1, 2, 3)
        .map(n =>
          s"SELECT lang, $n AS n, unnest(${TextQueries.shinglesSqlN("text", n)}) AS gram FROM documents")
        .mkString("\n  UNION ALL ")
      s"""WITH g AS ($grams),
         |c AS (SELECT lang, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3)
         |SELECT lang, n, CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
         |  CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
         |  ROUND(COUNT(*)::DOUBLE / SUM(cnt), 6) AS distinct_ratio
         |FROM c GROUP BY 1, 2 ORDER BY lang, n""".stripMargin
    },
    "eval_pass_at_k" -> passAtKSql(Seq(1, 5, 10)),
    "eval_majority_vote" ->
      """WITH s AS (
        |  SELECT CAST(o_custkey % 100 AS VARCHAR) AS task, o_orderpriority AS answer
        |  FROM orders),
        |cnt AS (SELECT task, answer, COUNT(*) AS votes FROM s GROUP BY 1, 2),
        |best AS (
        |  SELECT task, answer, votes,
        |    ROW_NUMBER() OVER (PARTITION BY task ORDER BY votes DESC, answer) AS rn,
        |    SUM(votes) OVER (PARTITION BY task) AS n
        |  FROM cnt)
        |SELECT task, answer, CAST(votes AS BIGINT) AS votes, CAST(n AS BIGINT) AS n,
        |  ROUND(votes::DOUBLE / n, 6) AS agreement
        |FROM best WHERE rn = 1 ORDER BY task""".stripMargin,
    "ml_pr_curve" ->
      s"""$scoredCte,
         |bk AS (SELECT CAST(LEAST(FLOOR(p * 20), 20) AS INT) AS b,
         |         COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
         |       FROM s GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS total_pos FROM bk),
         |pk AS (SELECT unnest(range(1, LEAST(b, 20) + 1)) AS k, n, n_pos
         |       FROM bk WHERE b >= 1),
         |ag AS (SELECT k, CAST(SUM(n) AS BIGINT) AS pp, CAST(SUM(n_pos) AS BIGINT) AS tp
         |       FROM pk GROUP BY 1),
         |grid AS (SELECT unnest(range(1, 21)) AS k),
         |j AS (SELECT grid.k, COALESCE(ag.pp, 0) AS pp, COALESCE(ag.tp, 0) AS tp,
         |        tot.total_pos
         |      FROM grid LEFT JOIN ag USING (k) CROSS JOIN tot),
         |pr AS (SELECT k, pp, tp, total_pos,
         |         CASE WHEN pp = 0 THEN NULL ELSE tp::DOUBLE / pp END AS pv,
         |         CASE WHEN total_pos = 0 THEN 0.0 ELSE tp::DOUBLE / total_pos END AS rv
         |       FROM j)
         |SELECT ROUND(k::DOUBLE / 20, 6) AS threshold,
         |  pp AS predicted_pos, tp,
         |  ROUND(pv, 6) AS prec, ROUND(rv, 6) AS rec,
         |  ROUND(CASE WHEN COALESCE(pv, 0.0) + rv = 0 THEN 0.0
         |        ELSE 2.0 * COALESCE(pv, 0.0) * rv / (COALESCE(pv, 0.0) + rv) END, 6)
         |    AS f1
         |FROM pr ORDER BY threshold""".stripMargin,
    "ml_eval_auc" ->
      s"""$scoredCte,
         |g AS (
         |  SELECT p AS sv, COUNT(*)::DOUBLE AS cnt, SUM(y) AS pos,
         |    SUM(CAST(ROUND((p - y) * (p - y) * 1e6) AS BIGINT)) AS bsum
         |  FROM s GROUP BY p
         |), r AS (
         |  SELECT *, COALESCE(SUM(cnt) OVER (
         |    ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM g
         |), a AS (
         |  SELECT SUM(pos) AS np, SUM(cnt - pos) AS nn,
         |    SUM(pos * (cum_before + (cnt + 1.0) / 2.0)) AS rank_pos,
         |    SUM(bsum) AS bsum, SUM(cnt) AS n
         |  FROM r
         |)
         |SELECT ROUND((rank_pos - np * (np + 1.0) / 2.0) / (np * nn), 6) AS auc,
         |  ROUND(bsum / 1e6 / n, 6) AS brier,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM a""".stripMargin,
    "ml_uncertainty_sample" -> {
      val dot = ScoreWeights.zip(featSqls)
        .map { case (w, f) => s"($w) * ($f)" }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, ROUND(1.0 / (1.0 + exp(-($dot))), 6) AS p FROM t)
         |SELECT doc_id, p, ROUND(ABS(p - 0.5), 6) AS margin FROM p
         |ORDER BY margin, doc_id LIMIT 20""".stripMargin
    },
    "stream_auc" ->
      s"""$scoredCte,
         |g AS (
         |  SELECT ROUND(p, 3) AS sv, COUNT(*)::DOUBLE AS cnt, SUM(y) AS pos,
         |    SUM(y) * CAST(ROUND((ROUND(p, 3) - 1.0) * (ROUND(p, 3) - 1.0) * 1e6) AS BIGINT)
         |      + (COUNT(*) - SUM(y)) * CAST(ROUND(ROUND(p, 3) * ROUND(p, 3) * 1e6) AS BIGINT)
         |      AS bsum
         |  FROM s GROUP BY ROUND(p, 3)
         |), r AS (
         |  SELECT *, COALESCE(SUM(cnt) OVER (
         |    ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM g
         |), a AS (
         |  SELECT SUM(pos) AS np, SUM(cnt - pos) AS nn,
         |    SUM(pos * (cum_before + (cnt + 1.0) / 2.0)) AS rank_pos,
         |    SUM(bsum) AS bsum, SUM(cnt) AS n
         |  FROM r
         |)
         |SELECT ROUND((rank_pos - np * (np + 1.0) / 2.0) / (np * nn), 6) AS auc,
         |  ROUND(bsum / 1e6 / n, 6) AS brier,
         |  CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
         |FROM a""".stripMargin,
    "ml_calibration_bins" ->
      s"""$scoredCte
         |SELECT CAST(LEAST(FLOOR(p * 10), 9) AS INT) AS bin,
         |  COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         |  ROUND(SUM(CAST(ROUND(p * 1e6) AS BIGINT)) / 1e6 / COUNT(*), 6) AS mean_p,
         |  ROUND(SUM(y) / COUNT(*), 6) AS frac_pos
         |FROM s GROUP BY 1 ORDER BY bin""".stripMargin,
    "ml_quality_score" -> {
      // left-associative sum, same accumulation order as the ArrayDot loop
      val dot = ScoreWeights.zip(featSqls)
        .map { case (w, f) => s"($w) * ($f)" }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents)
         |SELECT doc_id, ROUND(1.0 / (1.0 + exp(-($dot))), 6) AS p_quality
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "ml_quality_train" -> mlQualityTrainSql(8),
    "ml_quality_train" -> mlQualityTrainSql(8),
    "ml_quality_newton_agg" -> {
      val dim = FeatureNames.length
      val dot = ScoreWeights.indices.map(j => s"(${ScoreWeights(j)}) * f$j").mkString(" + ")
      val upper = for (j <- 0 until dim; l <- j until dim) yield (j, l)
      val statRows =
        (0 until dim).map(j =>
          s"SELECT 'g$j' AS stat, ROUND(SUM((p - y) * f$j) / COUNT(*), 6) AS value FROM s") ++
        upper.map { case (j, l) =>
          s"SELECT 'h${j}_$l', ROUND(SUM(p * (1.0 - p) * f$j * f$l) / COUNT(*), 6) FROM s" } ++
        Seq("SELECT 'loss', ROUND(SUM(-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))) / COUNT(*), 6) FROM s",
          "SELECT 'n', COUNT(*)::DOUBLE FROM s")
      s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
         |f0 AS (
         |  SELECT ${featSqls.zipWithIndex.map { case (f, j) => s"($f) AS f$j" }.mkString(",\n    ")}
         |  FROM t
         |), f AS (
         |  -- label = UNROUNDED qualityScore >= 0.54; the score is exactly
         |  -- 0.4*len_sat + 0.3*(1-punct) + 0.3*stop, i.e. a function of f1..f3,
         |  -- with the same left-associative order as the Scala column expression
         |  SELECT *,
         |    CASE WHEN 0.4 * f1 + 0.3 * (1.0 - f2) + 0.3 * f3 >= 0.54
         |         THEN 1.0 ELSE 0.0 END AS y
         |  FROM f0
         |), s AS (
         |  SELECT *, 1.0 / (1.0 + exp(-($dot))) AS p,
         |    LEAST(GREATEST(1.0 / (1.0 + exp(-($dot))), 1e-12), 1.0 - 1e-12) AS pc
         |  FROM f
         |)
         |${statRows.mkString("\nUNION ALL ")}
         |ORDER BY stat""".stripMargin
    })
}
