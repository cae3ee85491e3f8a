package graft.train

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.blocking.{BlockingRule, PairGenerator}
import graft.compare.Comparisons
import graft.model.{ColumnParams, ComparisonSpec, TrainedModel}

/** J3/J4/J5 — parameter estimation for the Fellegi-Sunter model.
  *
  * J3: prior λ = 1/N (reference: autolinker.py:555).
  * J4: u-probabilities from random record pairs assumed non-matches
  *     (reference: `estimate_u_using_random_sampling(target_rows=N)`, autolinker.py:556).
  * J5: m-probabilities (and λ) by expectation-maximisation per training blocking rule
  *     (reference: autolinker.py:557-558, convergence 0.01 at :544).
  */
object Estimation {

  /** λ0 = 1/N, clamped to [1e-9, 1 − 1e-9] as the EM loop clamps λ: a single row
    * would otherwise give λ = 1 and an infinite prior weight.
    */
  def prior(rowCount: Long): Double = math.min(math.max(1.0 / rowCount, Floor), 1 - Floor)

  val DefaultM: Array[Double] = Array(0.1, 0.3, 0.6)   // gamma 0, 1, 2
  val DefaultU: Array[Double] = Array(0.8, 0.15, 0.05)
  private val Floor = 1e-9
  /** EM convergence: the parameter change that ends a session (autolinker.py:544). */
  private val Tol = 0.01

  /** J4 — u[col][gamma] from deterministically sampled record pairs.
    *
    * Rows are ranked by a salted hash of the uid (a deterministic shuffle — adjacent
    * rows of sorted input files are correlated, and pairing them would inflate u with
    * true matches), then row `i` is paired with rows `i+offset (mod N)` for
    * `offset = 1..max(1, floor(targetPairs/N))` (at most N − 1) — reproducible and
    * uniformly spread. Tables larger than ~2·targetPairs are seeded-sampled down to
    * ~targetPairs rows first, so the ranking and pairing stay O(targetPairs) whatever
    * the corpus size.
    *
    * @param hashShuffle disable only for oracle tests that need a SQL-reproducible order
    *                    (uid order) at the cost of the adjacency bias above; the uid
    *                    order pairs the whole table on the driver, so it takes at most
    *                    2·(targetPairs + 1) rows.
    */
  def estimateU(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      targetPairs: Long = 100000L,
      hashShuffle: Boolean = true,
      seed: Long = 42L): Map[String, Array[Double]] =
    estimateUFromPairs(uSamplePairs(df, uid, specs.map(_.column), targetPairs,
      hashShuffle, seed), specs)

  /** The spec-independent half of [[estimateU]]: the deterministically sampled,
    * ranked, offset-paired record pairs `uid_l`, `<attr>_l`…, `uid_r`, `<attr>_r`…
    * as one local table. Build ONCE and reuse across trials whose comparison specs
    * differ — it depends only on (data, uid, targetPairs, seed).
    *
    * The work is driver-sized, so it runs on the driver: [[uPoolProbe]] reads the
    * pool at [[uPoolCap]]`(targetPairs)` rows, and [[uPairsFromProbe]] pairs it.
    */
  def uSamplePairs(
      df: DataFrame,
      uid: String,
      attrs: Seq[String],
      targetPairs: Long,
      hashShuffle: Boolean,
      seed: Long): DataFrame = {
    val cap = uPoolCap(targetPairs)
    uPairsFromProbe(df, uid, attrs, uPoolProbe(df, uid, attrs, seed, cap).collect(), cap,
      targetPairs, hashShuffle, seed)
  }

  /** The rows u pairing reads in full: 2·(targetPairs + 1). */
  private[graft] def uPoolCap(targetPairs: Long): Int =
    math.min(2 * (targetPairs + 1), Int.MaxValue - 1L).toInt

  /** The u pool as [[uPairsFromProbe]] reads it: `_rank = xxhash64(uid, seed)`, then
    * the uid and `attrs` as strings.
    */
  private def uPool(df: DataFrame, uid: String, attrs: Seq[String], seed: Long)
      : DataFrame = {
    val base = df.select((col(uid).cast("string").as("uid") +:
      attrs.map(a => col(a).cast("string").as(a))): _*)
    base.select((xxhash64(col("uid"), lit(seed)).as("_rank") +: base.columns.map(col)): _*)
  }

  /** The u pool's bounded probe: at most `cap + 1` rows of [[uPool]], one collect with
    * no count. The limit runs as the collect, outside generated code, as long as `df`
    * is not a union (Spark pushes a limit into a union's branches, and a pushed
    * limit's generated code carries a counter name unique to the plan): read a
    * union's records from its cached table.
    */
  private[graft] def uPoolProbe(
      df: DataFrame,
      uid: String,
      attrs: Seq[String],
      seed: Long,
      cap: Int): DataFrame =
    uPool(df, uid, attrs, seed).limit(cap + 1)

  /** [[uSamplePairs]] from the collected [[uPoolProbe]] of `df` at `cap`. A probe
    * within the cap is the whole pool. A pool past it is counted (unless `count` is
    * given), seeded-sampled to ~1.2·(targetPairs+1) rows and the sample collected.
    * The rows are ranked by `_rank` (uids are unique, the sort stable). The
    * `hashShuffle = false` oracle path ranks the whole pool by uid in Spark's string
    * order, nulls first; it is for driver-sized inputs and rejects a pool past the
    * probe. Row `i` then pairs with row `(i + off) mod n` for `off = 1..offsets`; a
    * single row has no partner.
    */
  private[graft] def uPairsFromProbe(
      df: DataFrame,
      uid: String,
      attrs: Seq[String],
      probe: Array[org.apache.spark.sql.Row],
      cap: Int,
      targetPairs: Long,
      hashShuffle: Boolean,
      seed: Long,
      count: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val drawn =
      if (probe.length <= cap) probe
      else {
        require(hashShuffle, s"uid-ordered u pairing (hashShuffle = false) pairs the " +
          s"whole pool on the driver: it takes at most 2·(targetPairs + 1) = $cap rows")
        val nAll = count.getOrElse(df.count())
        val fraction = math.min(1.0, 1.2 * (targetPairs + 1) / nAll)
        uPool(df.sample(withReplacement = false, fraction, seed), uid, attrs, seed).collect()
      }
    val rows: IndexedSeq[Row] =
      (if (hashShuffle) drawn.toIndexedSeq.sortBy(_.getLong(0))
       else drawn.toIndexedSeq
         .sortBy(r => Option(r.getString(1)))(Ordering.Option(graft.util.Utf8Order)))
        .map(r => Row.fromSeq(r.toSeq.tail))
    val n = rows.length.toLong
    // a single row has no partner: 0 offsets (offset 1 mod 1 would pair it with itself)
    val offsets = math.max(0L, math.min(n - 1, math.max(1L, targetPairs / math.max(n, 1L))))
      .toInt
    val pairs = for (off <- 1 to offsets; i <- rows.indices)
      yield Row.fromSeq(rows(i).toSeq ++ rows((i + off) % rows.length).toSeq)
    val schema = StructType(Seq("_l", "_r").flatMap(side =>
      ("uid" +: attrs).map(c => StructField(c + side, StringType))))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(pairs.asJava, schema)
  }

  /** [[uSamplePairs]] for callers that pass a checkpoint tracker: the builder holds
    * no checkpoint of its own, so `tracker` is left untouched. Kept for linkbench's
    * replay; it goes with that replay (ROADMAP item 2).
    */
  @deprecated("tracker is unused; call the 6-argument form", "0.1.0")
  def uSamplePairs(
      df: DataFrame,
      uid: String,
      attrs: Seq[String],
      targetPairs: Long,
      hashShuffle: Boolean,
      seed: Long,
      tracker: graft.util.CheckpointTracker): DataFrame =
    uSamplePairs(df, uid, attrs, targetPairs, hashShuffle, seed)

  /** u[col][gamma] from a prebuilt pair table (see [[uSamplePairs]]). [[train]] takes
    * the same counts from its EM pattern pass instead.
    */
  def estimateUFromPairs(
      pairs: DataFrame,
      specs: Seq[ComparisonSpec]): Map[String, Array[Double]] =
    uFromCounts(gammaCounts(Comparisons.withGammas(pairs, specs), specs, lit(1L)), specs)

  /** u[col][gamma] from per-column gamma counts: each level's share of the non-null
    * (gamma ≥ 0) pairs, floored.
    */
  private def uFromCounts(
      counts: Map[String, Map[Int, Long]],
      specs: Seq[ComparisonSpec]): Map[String, Array[Double]] =
    specs.map { s =>
      val byGamma = counts.getOrElse(s.column, Map.empty)
      val total = byGamma.collect { case (g, c) if g >= 0 => c }.sum.toDouble
      val u = (0 until s.numLevels).map { g =>
        math.max(byGamma.getOrElse(g, 0L) / math.max(total, 1.0), Floor)
      }.toArray
      s.column -> u
    }.toMap

  /** J5 — EM over pairs blocked by `trainingRule`. Columns appearing in the training
    * rule are held fixed for this round (their gammas are saturated by construction —
    * Splink excludes them, reference autolinker.py:557-558). Both m and u are
    * re-estimated (Splink's default: `fix_u_probabilities=False`); [[train]] averages
    * the per-session u with the random-sampling estimate.
    *
    * The reference caps huge training-pair sets with a sample; here the agreement-
    * pattern aggregation makes that unnecessary — EM cost scales with DISTINCT gamma
    * patterns, not pairs, so every blocked pair feeds one aggregation pass (a cap
    * would still have scanned them all just to count). Quadratic blow-ups are guarded
    * where they must be: at rule selection, by the E8 cost estimate.
    *
    * The one-rule case of [[emSessions]].
    *
    * @return (λ estimate, updated m per column, updated u per column)
    */
  def emTrain(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      trainingRule: BlockingRule,
      u: Map[String, Array[Double]],
      initialLambda: Double,
      tol: Double = Tol,
      maxIter: Int = 25,
      linkRight: Option[DataFrame] = None)
      : (Double, Map[String, Array[Double]], Map[String, Array[Double]]) =
    emSessions(df, uid, specs, Seq(trainingRule), Left(u), initialLambda, tol, maxIter,
      linkRight)._2.head

  private type Probs = Map[String, Array[Double]]

  private val MaxDriverPatterns = 100000L

  /** Pattern-table tag of the u-pair rows. */
  private val URows = -1

  /** One EM session per training rule, in order, λ chained from each session to the
    * next (reference autolinker.py:555-558). Rules blocking on every compared column
    * have nothing to estimate and pass λ through.
    *
    * Agreement-pattern aggregation (the same trick Splink's EM uses): the E- and
    * M-steps depend only on the gamma VECTOR, so ONE Spark pass collapses every
    * rule's pairs to (rule, gamma vector, count) rows — at most 4^K per rule for K
    * compared columns, usually a handful. When that table has at most
    * `maxDriverPatterns` rows per estimating rule, one probe collects it, each rule
    * is marginalized to its free columns (summing over the blocked columns' gammas
    * is exactly a per-rule aggregation over the free ones) and iterated as pure
    * driver arithmetic. Otherwise the table is checkpointed once and each rule's
    * slice runs one distributed aggregation per iteration.
    *
    * `u` is either given (`Left`) or estimated (`Right`: the sampled u pairs of
    * [[uSamplePairs]]). Estimated, the u pairs ride the same pass tagged
    * `_rule_idx = -1`, and u is their per-column gamma marginal with
    * [[estimateUFromPairs]]' floors — integer counts, so the same bits, without a
    * pass of its own.
    *
    * @param maxDriverPatterns pattern rows per estimating rule (and at most as many
    *                          u rows) the driver collects; 0 forces the distributed
    *                          backend
    * @return (the u the sessions started from, one (λ, m, u) per rule)
    */
  private[graft] def emSessions(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      rules: Seq[BlockingRule],
      u: Either[Probs, DataFrame],
      initialLambda: Double,
      tol: Double,
      maxIter: Int,
      linkRight: Option[DataFrame],
      maxDriverPatterns: Long = MaxDriverPatterns)
      : (Probs, Seq[(Double, Probs, Probs)]) = {
    val freeIdx =
      rules.map(r => specs.indices.filterNot(i => r.columns.contains(specs(i).column)))
    val active = rules.indices.filter(i => freeIdx(i).nonEmpty)
    val uPairs = u.toOption
    val tracker = new graft.util.CheckpointTracker(df.sparkSession)
    try {
      // (u, per estimating rule: (Σ pattern counts, E-step)) — and no Spark job at
      // all when u is given and no rule estimates anything
      val (u0, backend): (Probs, Int => (Double, EStep)) = u match {
        case Left(given) if active.isEmpty => (given, Map.empty)
        case _ =>
          val patterns = patternTable(df, uid, specs, rules, active, uPairs, linkRight)
          // one collect with a limit probe: a row past the cap proves the table is
          // too wide without counting it. The u rows are at most one per gamma
          // vector ((levels + 1)^K with the null level), so they get their own share.
          val emCap =
            if (active.isEmpty) 0L
            else math.min(maxDriverPatterns, (Int.MaxValue - 1L) / active.size) * active.size
          val uCap =
            if (uPairs.isEmpty) 0L
            else math.min(maxDriverPatterns, specs.foldLeft(1L)((acc, s) =>
              math.min(acc * (s.numLevels + 1), Int.MaxValue.toLong)))
          val cap = math.min(emCap + uCap, Int.MaxValue - 1L).toInt
          val probe = patterns.limit(cap + 1).collect()
          if (probe.length <= cap) {
            val byRule = probe.groupBy(_.getInt(0)).map { case (i, rows) =>
              i -> rows.map(r => (specs.indices.map(k => r.getInt(k + 1)).toArray,
                r.getLong(specs.length + 1)))
            }
            def rowsOf(i: Int) = byRule.getOrElse(i, Array.empty[(Array[Int], Long)])
            val u0 = u.left.getOrElse(uFromCounts(specs.indices.map { k =>
              specs(k).column -> rowsOf(URows).groupMapReduce(_._1(k))(_._2)(_ + _)
            }.toMap, specs))
            (u0, i => {
              val pats = rowsOf(i)
                .groupBy { case (g, _) => freeIdx(i).map(g).toSeq }
                .map { case (key, rows) => (key.toArray, rows.map(_._2).sum) }
                .toArray
              (pats.map(_._2).sum.toDouble, driverEStep(pats, freeIdx(i).map(specs)))
            })
          } else {
            val table = tracker.rotate(patterns)
            val u0 = u.left.getOrElse(uFromCounts(
              gammaCounts(table.filter(col("_rule_idx") === URows), specs, col("cnt")),
              specs))
            val totals = table.groupBy("_rule_idx").agg(sum("cnt")).collect()
              .map(r => r.getInt(0) -> r.getLong(1).toDouble).toMap
            (u0, i => (totals.getOrElse(i, 0.0), distributedEStep(
              table.filter(col("_rule_idx") === i), freeIdx(i).map(specs))))
          }
      }
      var lambda = initialLambda
      val sessions = rules.indices.map { i =>
        val session: (Double, Probs, Probs) =
          if (freeIdx(i).isEmpty) (lambda, Map.empty, Map.empty)
          else {
            val (total, eStep) = backend(i)
            emLoop(freeIdx(i).map(specs), total, u0, lambda, tol, maxIter, eStep)
          }
        lambda = session._1
        session
      }
      (u0, sessions)
    } finally tracker.close() // all estimates are driver-side; free the pattern blocks
  }

  /** The tagged agreement-pattern table of the `active` rules in one Spark pass:
    * the rules' pairs come from one join ([[PairGenerator.rulePairs]]) keyed by the
    * rule index `_rule_idx`, and feed a single gamma aggregation over ALL spec
    * columns; the u pairs, when given, ride along tagged `_rule_idx = -1`.
    */
  private[graft] def patternTable(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      rules: Seq[BlockingRule],
      active: Seq[Int],
      uPairs: Option[DataFrame],
      linkRight: Option[DataFrame]): DataFrame = {
    // the gamma ladders read only the compared columns' two sides
    val sides = specs.flatMap(s => Seq(col(s"${s.column}_l"), col(s"${s.column}_r")))
    val tagged = Some(active).filter(_.nonEmpty).map(a => PairGenerator.rulePairs(df,
        linkRight, uid, specs.map(_.column), a.map(i => i -> rules(i)))
      .select((col("_rule_idx") +: sides): _*)).toSeq ++
      uPairs.map(_.select((lit(URows).as("_rule_idx") +: sides): _*))
    val gammaCols = specs.map(s => col(s"gamma_${s.column}"))
    Comparisons.withGammas(tagged.reduce(_ unionByName _), specs)
      .groupBy((col("_rule_idx") +: gammaCols): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** One E-step from the current (λ, m, u): count-weighted match and non-match sums
    * per free column and gamma level, and Σw over all patterns.
    */
  private type EStep = (Double, Probs, Probs) => (Probs, Probs, Double)

  /** The EM iterations shared by both backends: the M-step refit, the 1e-9 floors,
    * the λ clamp and the convergence delta. An empty block (`total` 0) passes the
    * initial parameters through.
    */
  private def emLoop(
      freeSpecs: Seq[ComparisonSpec],
      total: Double,
      u0: Probs,
      initialLambda: Double,
      tol: Double,
      maxIter: Int,
      eStep: EStep): (Double, Probs, Probs) = {
    var lambda = initialLambda
    var m = freeSpecs.map(s => s.column -> DefaultM.clone).toMap
    var uEst = freeSpecs.map(s => s.column -> u0(s.column).clone).toMap
    def refit(sums: Probs): Probs =
      freeSpecs.map { s =>
        val arr = sums(s.column)
        val tot = arr.sum
        s.column -> arr.map(x => math.max(x / math.max(tot, Floor), Floor))
      }.toMap
    var delta = Double.MaxValue
    var iter = 0
    while (total > 0 && delta > tol && iter < maxIter) {
      val (mw, uw, sumW) = eStep(lambda, m, uEst)
      val newM = refit(mw)
      val newU = refit(uw)
      val newLambda = math.min(math.max(sumW / total, Floor), 1 - Floor)
      delta = math.max(
        math.abs(newLambda - lambda),
        freeSpecs.flatMap(s =>
          (0 until s.numLevels).map(g =>
            math.max(math.abs(newM(s.column)(g) - m(s.column)(g)),
              math.abs(newU(s.column)(g) - uEst(s.column)(g))))).max)
      lambda = newLambda
      m = newM
      uEst = newU
      iter += 1
    }
    (lambda, m, uEst)
  }

  /** Driver E-step over a collected (gamma vector, count) table: one tight pass, no
    * Spark jobs.
    */
  private def driverEStep(pats: Array[(Array[Int], Long)], freeSpecs: Seq[ComparisonSpec])
      : EStep = (lambda, m, uEst) => {
    val k = freeSpecs.length
    val mw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
    val uw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
    var sumW = 0.0
    pats.foreach { case (gs, cnt) =>
      // P(match | pattern); gamma −1 (null) contributes factor 1 to both sides
      var num = lambda
      var den = 1.0 - lambda
      var i = 0
      while (i < k) {
        val g = gs(i)
        if (g >= 0) {
          val c = freeSpecs(i).column
          num *= m(c)(g)
          den *= uEst(c)(g)
        }
        i += 1
      }
      val w = num / (num + den)
      sumW += cnt * w
      i = 0
      while (i < k) {
        val g = gs(i)
        if (g >= 0) {
          val c = freeSpecs(i).column
          mw(c)(g) += cnt * w
          uw(c)(g) += cnt * (1.0 - w)
        }
        i += 1
      }
    }
    (mw, uw, sumW)
  }

  /** Distributed E-step over one rule's slice of the pattern table: one unpivoted
    * count-weighted aggregation per iteration. A synthetic '__all__' stack entry with
    * constant gamma 0 makes the same aggregation yield Σw.
    */
  private def distributedEStep(patterns: DataFrame, freeSpecs: Seq[ComparisonSpec])
      : EStep = (lambda, m, uEst) => {
    val rows = patterns
      .withColumn("w", matchProbability(freeSpecs, lambda, m, uEst))
      .select(col("w"), col("cnt"),
        expr(s"stack(${freeSpecs.length + 1}, " +
          (freeSpecs.map(s => s"'${s.column}', gamma_${s.column}") :+ "'__all__', 0")
            .mkString(", ") +
          ") as (column, gamma)"))
      .filter(col("gamma") >= 0)
      .groupBy("column", "gamma")
      .agg(sum(col("w") * col("cnt")).as("mw"),
        sum((lit(1.0) - col("w")) * col("cnt")).as("uw"))
      .collect()
    val mw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
    val uw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
    var sumW = 0.0
    rows.foreach { r =>
      if (r.getString(0) == "__all__") sumW = r.getDouble(2)
      else {
        mw(r.getString(0))(r.getInt(1)) = r.getDouble(2)
        uw(r.getString(0))(r.getInt(1)) = r.getDouble(3)
      }
    }
    (mw, uw, sumW)
  }

  /** P(match | gammas) as a column expression from literal parameters. */
  def matchProbability(
      specs: Seq[ComparisonSpec],
      lambda: Double,
      m: Map[String, Array[Double]],
      u: Map[String, Array[Double]]): Column = {
    def prodExpr(params: Map[String, Array[Double]]): Column =
      specs.map { s =>
        val g = col(s"gamma_${s.column}")
        val p = params(s.column)
        (0 until s.numLevels).foldLeft(when(g === lit(-1), lit(1.0))) { (acc, lvl) =>
          acc.when(g === lit(lvl), lit(p(lvl)))
        }.otherwise(lit(1.0))
      }.reduceOption(_ * _).getOrElse(lit(1.0))
    val num = lit(lambda) * prodExpr(m)
    val den = num + lit(1.0 - lambda) * prodExpr(u)
    num / den
  }

  /** Full training pipeline: J3 prior + J4 u + J5 EM per training rule, averaging m
    * across rounds for columns estimated more than once (Splink combines estimates).
    * J4's gamma counts over the sampled u pairs come from the EM pattern pass
    * ([[emSessions]]), so u costs no Spark pass of its own.
    *
    * `linkRight` switches to link mode (Splink link_only): u pairs come from
    * [[PairGenerator.recordPool]], EM pairs from [[PairGenerator.rulePairs]].
    */
  def train(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      blockingRules: Seq[String],
      trainingRules: Seq[String],
      uTargetPairs: Long = 100000L,
      linkRight: Option[DataFrame] = None,
      uPairs: Option[DataFrame] = None,
      uHashShuffle: Boolean = true,
      nRows: Option[Long] = None): TrainedModel = {
    val uSource = PairGenerator.recordPool(df, linkRight)
    // a search loop calling train per trial passes the loop-invariant row count
    // (nRows) — the prior λ0 = 1/N needs N once, not one count job per trial
    val n = nRows.getOrElse(uSource.count())
    val lambda0 = prior(n)
    // a search loop training many candidate models passes the prebuilt sampled
    // pair table (uPairs) — the sample/rank/pair build is spec-independent and
    // re-running it per trial is pure waste. Either way u's gamma counts ride the
    // EM pattern pass (emSessions), not a pass of their own.
    val (uSampled, sessions) = emSessions(df, uid, specs,
      trainingRules.map(BlockingRule.parse),
      Right(uPairs.getOrElse(uSamplePairs(uSource, uid, specs.map(_.column),
        uTargetPairs, uHashShuffle, seed = 42L))),
      lambda0, Tol, 25, linkRight)

    val mEstimates = scala.collection.mutable.Map[String, List[Array[Double]]]()
    val uEstimates = scala.collection.mutable.Map[String, List[Array[Double]]](
      specs.map(s => s.column -> List(uSampled(s.column))): _*)
    sessions.foreach { case (_, m, uEm) =>
      m.foreach { case (c, arr) =>
        mEstimates(c) = arr :: mEstimates.getOrElse(c, Nil)
      }
      uEm.foreach { case (c, arr) =>
        uEstimates(c) = arr :: uEstimates.getOrElse(c, Nil)
      }
    }
    def average(lists: List[Array[Double]], levels: Int): Array[Double] =
      (0 until levels).map(g => lists.map(_(g)).sum / lists.length).toArray
    val params = specs.map { s =>
      val ms = mEstimates.getOrElse(s.column, List(DefaultM))
      s.column -> ColumnParams(
        average(ms, s.numLevels),
        average(uEstimates(s.column), s.numLevels))
    }.toMap
    TrainedModel(sessions.lastOption.fold(lambda0)(_._1), specs, params, blockingRules)
  }

  /** Per-column gamma counts over `gammas` rows, each row counted `weight` times. */
  private def gammaCounts(
      gammas: DataFrame,
      specs: Seq[ComparisonSpec],
      weight: Column): Map[String, Map[Int, Long]] = {
    val stacked = gammas.select(weight.as("_w"),
      expr(s"stack(${specs.length}, " +
        specs.map(s => s"'${s.column}', gamma_${s.column}").mkString(", ") +
        ") as (column, gamma)"))
    stacked.groupBy("column", "gamma").agg(sum("_w")).collect()
      .groupBy(_.getString(0))
      .map { case (c, rows) =>
        c -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
      }
  }
}
