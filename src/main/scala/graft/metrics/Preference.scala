package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference aggregation — the RLHF / model-eval data-prep step that turns
  * a table of A-beat-B judgments (human preference labels, LLM-judge verdicts,
  * arena battles) into per-item strength scores and win-rate matrices.
  *
  * [[btScores]] fits the Bradley–Terry model P(i beats j) = s_i/(s_i+s_j) by the
  * classic MM (minorization–maximization) update (Hunter, Annals of Statistics
  * 2004): with w_i = total wins of i and n_ij = games between i and j,
  *
  *   s_i ← (w_i + ε) / ( Σ_j n_ij/(s_i+s_j) + 2ε/(s_i+1) )
  *
  * then sum-normalized to Σ s_i = N each round. The ε term is the standard
  * ghost-opponent regularization: every item plays 2ε virtual games (winning ε)
  * against a fixed strength-1 opponent, which keeps the comparison graph connected
  * and every score finite even for items with zero wins or zero losses.
  *
  * Scale design: n_ij is aggregated ONCE up front (raw judgment rows never
  * re-enter the loop). The loop itself is two-mode on the aggregated matrix size:
  * preference aggregation almost always compares FEW items (models, annotators)
  * over MANY judgments, so when the game matrix fits the bounded-driver-boundary
  * class (Lloyd centroids, vocab tables — default cap 1M pair rows) it is
  * collected once and iterated driver-side in fixed order, zero per-round Spark
  * jobs. Above the cap the loop runs distributed PageRank-style: two item-keyed
  * equi-joins of the score vector against the matrix + one map-side-combined
  * aggregation per round, a lazy 1-row broadcast normalizer, and the vector
  * materialized via rotating localCheckpoints.
  */
object Preference {

  /** Symmetric per-pair win/game counts from a (winner, loser) judgment log:
    * one row per UNordered item pair `(item_a < item_b)` with total games and
    * each side's wins — the arena-style win-rate matrix. One hash aggregation.
    */
  /** Per-item overall win rate with a Wilson score interval (Wilson 1927) — the
    * leaderboard column pair next to [[btScores]]: unlike a normal-approximation
    * CI, Wilson stays inside [0,1] and behaves at small n / extreme p. One
    * two-row-per-judgment projection + ONE hash aggregation; the interval is a
    * fixed closed-form expression (sqrt is IEEE-exact, so the bounds replay
    * bit-for-bit in any engine).
    *
    * Output: `(item, games, wins, win_rate, ci_lo, ci_hi)`.
    */
  def winRateCi(
      pairs: DataFrame,
      winnerCol: String,
      loserCol: String,
      z: Double = 1.959963984540054): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val w = pairs.select(col(winnerCol).cast("string").as("item"), lit(1L).as("win"))
    val l = pairs.select(col(loserCol).cast("string").as("item"), lit(0L).as("win"))
    val agg = w.unionByName(l).groupBy("item")
      .agg(count(lit(1)).as("games"), sum("win").as("wins"))
    val n = col("games").cast("double")
    val p = col("wins").cast("double") / n
    val z2 = z * z
    val denom = lit(1.0) + lit(z2) / n
    val center = (p + lit(z2) / (lit(2.0) * n)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / n +
      lit(z2) / (lit(4.0) * n * n))) / denom
    agg.select(col("item"), col("games"), col("wins"),
      p.as("win_rate"),
      (center - half).as("ci_lo"),
      (center + half).as("ci_hi"))
  }

  def winRates(pairs: DataFrame, winnerCol: String, loserCol: String): DataFrame = {
    val canon = pairs.select(
      col(winnerCol).cast("string").as("w"), col(loserCol).cast("string").as("l"))
      .filter(col("w") =!= col("l"))
      .select(least(col("w"), col("l")).as("item_a"),
        greatest(col("w"), col("l")).as("item_b"),
        (col("w") < col("l")).cast("long").as("a_win"))
    canon.groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("games"), sum("a_win").as("wins_a"))
      .select(col("item_a"), col("item_b"), col("games"), col("wins_a"),
        (col("games") - col("wins_a")).as("wins_b"),
        (col("wins_a").cast("double") / col("games")).as("winrate_a"))
  }

  /** Bradley–Terry strengths by `iters` MM rounds (see object doc). Returns
    * `(item, score)` with Σ score = number of distinct items.
    *
    * @param pairs   judgment log: one row per comparison, winner/loser item ids
    *                (any string-castable type); self-pairs are dropped
    * @param epsilon ghost-opponent regularization weight (0 disables — then the
    *                comparison graph must be strongly connected for convergence)
    */
  def btScores(
      pairs: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 20,
      epsilon: Double = 0.5,
      localMatrixCap: Long = 1L << 20): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(epsilon >= 0, s"epsilon must be >= 0, got $epsilon")
    val spark = pairs.sparkSession
    import spark.implicits._
    import graft.util.Caching.CacheSyntax
    val log = pairs.select(
      col(winnerCol).cast("string").as("w"), col(loserCol).cast("string").as("l"))
      .filter(col("w") =!= col("l"))
    // ONE pass over the judgment log: the directional win-count matrix is the
    // sufficient statistic — games, wins and items all derive from it, so the
    // (possibly expensive) upstream never recomputes
    val dir = log.groupBy(col("w").as("i"), col("l").as("j"))
      .agg(count(lit(1)).as("nw")).scopedPersist()
    val games = dir.select(col("i"), col("j"), col("nw"))
      .unionByName(dir.select(col("j").as("i"), col("i").as("j"), col("nw")))
      .groupBy("i", "j").agg(sum("nw").as("nij")).scopedPersist()
    val wins = dir.groupBy("i").agg(sum("nw").as("wi"))
    val gRows = games.count() // the ONE action before the mode split
    if (gRows == 0)
      return spark.emptyDataFrame
        .withColumn("item", lit("")).withColumn("score", lit(0.0)).limit(0)
    if (gRows <= localMatrixCap) {
      // small-matrix fast path: collect the matrix once, iterate driver-side
      // (zero Spark jobs per round — a distributed round costs ~1 s of pure
      // scheduling); every item appears in the symmetric matrix, so items and
      // win totals come from the two collected tables, no further joins
      val gCollected = games.as[(String, String, Long)].collect()
      val idx = gCollected.iterator.map(_._1).toArray
        .distinct.sorted.zipWithIndex.toMap
      val nn = idx.size
      val gArr = gCollected.map { case (i, j, c) => (idx(i), idx(j), c.toDouble) }
      val wArr = new Array[Double](nn)
      wins.as[(String, Long)].collect()
        .foreach { case (it, c) => wArr(idx(it)) = c.toDouble }
      var s = Array.fill(nn)(1.0)
      (1 to iters).foreach { _ =>
        val denom = new Array[Double](nn)
        gArr.foreach { case (i, j, c) => denom(i) += c / (s(i) + s(j)) }
        val raw = Array.tabulate(nn)(i =>
          (wArr(i) + epsilon) / (denom(i) + 2 * epsilon / (s(i) + 1.0)))
        val tot = raw.sum
        s = raw.map(_ * nn / tot)
      }
      val inv = idx.map(_.swap)
      return (0 until nn).map(i => (inv(i), s(i))).toDF("item", "score")
    }
    val items = games.select(col("i").as("item")).distinct().scopedPersist()
    val n = items.count()
    // zero-win items need an explicit wi = 0 row (left join + coalesce)
    val w = items.join(wins, items("item") === wins("i"), "left")
      .select(col("item"), coalesce(col("wi"), lit(0L)).as("wi")).scopedPersist()
    val tracker = new graft.util.CheckpointTracker(spark)
    var s: DataFrame = items.select(col("item"), lit(1.0).as("score"))
    // score-vector-sized loop shuffles (util.Partitioning — the PageRank note)
    graft.util.Sessions.withShufflePartitions(spark,
      graft.util.Partitioning.adaptive(spark, n)) {
      (1 to iters).foreach { _ =>
        val denom = games
          .join(s.select(col("item").as("j"), col("score").as("sj")), Seq("j"))
          .join(s.select(col("item").as("i"), col("score").as("si")), Seq("i"))
          .groupBy("i").agg(sum(col("nij") / (col("si") + col("sj"))).as("denom"))
        val raw = w
          .join(denom, w("item") === denom("i"), "left")
          .join(s.select(col("item"), col("score").as("sPrev")), Seq("item"))
          .select(col("item"),
            ((col("wi") + lit(epsilon)) /
              (coalesce(col("denom"), lit(0.0)) +
                lit(2 * epsilon) / (col("sPrev") + lit(1.0)))).as("sraw"))
        // sum-normalize via a LAZY broadcast 1-row aggregate (the PageRank pattern)
        val tot = raw.agg(sum("sraw").as("_tot")).withColumn("_k", lit(1))
        s = raw.withColumn("_k", lit(1))
          .join(broadcast(tot), Seq("_k"))
          .select(col("item"), (col("sraw") * lit(n.toDouble) / col("_tot")).as("score"))
        s = tracker.rotate(s)
      }
    }
    s
  }
}
