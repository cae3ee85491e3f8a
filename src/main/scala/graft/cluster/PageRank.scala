package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by power iteration — the canonical link-graph quality prior
  * a web-scale curation pipeline attaches to documents (host/page authority as a
  * mixing or filtering signal).
  *
  * Semantics (the standard formulation with uniform teleport and dangling-mass
  * redistribution): with N nodes, damping d, out-degree deg(u),
  *
  *   rank_{t+1}(v) = (1−d)/N + d·( Σ_{u→v} rank_t(u)/deg(u) + D_t/N )
  *
  * where D_t = Σ over dangling nodes (no out-edges) of rank_t — so Σ rank = 1 holds
  * exactly at every iteration (spec-pinned).
  *
  * Scale design: each iteration is ONE edge-keyed equi-join + ONE aggregation (the
  * contribution sum, map-side combined) — the same shuffle pattern GraphX/Pregel
  * lowers to, declared relationally so AQE handles skewed hubs; the dangling mass
  * is a 1-row aggregate per iteration (the bounded driver boundary every published
  * PageRank has); the rank vector is materialized (rotating localCheckpoint) EVERY
  * iteration — it is N rows, trivially cheap — because the lazy subtree of iteration
  * t is referenced twice by iteration t+1 (the dangling-mass branch and the
  * contribution branch), so an un-materialized chain re-evaluates prior iterations
  * exponentially between rotations. Rotation also truncates lineage (unbounded
  * iterative DAGs are the classic driver OOM). Multi-edges are honored (u→v twice
  * contributes twice, deg counts both).
  */
object PageRank {

  def pageRank(
      edges: DataFrame,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    import graft.util.Caching.CacheSyntax
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).scopedPersist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().scopedPersist()
    val n = nodes.count()
    if (n == 0) return spark.emptyDataFrame
      .withColumn("node", lit("")).withColumn("rank", lit(0.0)).limit(0)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).scopedPersist()
    val tracker = new graft.util.CheckpointTracker(spark)
    var ranks: DataFrame = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    // loop shuffles sized from the rank vector, not the machine (util.Partitioning:
    // the 10-iteration loop otherwise launches its ~30 micro-stages at the session
    // constant — measured ~9 jobs × 32+ tasks per iteration of a 100k-node graph)
    graft.util.Sessions.withShufflePartitions(
      spark, graft.util.Partitioning.adaptive(spark, n)) {
      (1 to iters).foreach { i =>
        val withDeg = ranks
          .join(outDeg, ranks("node") === outDeg("src"), "left")
          .select(col("node"), col("rank"), col("deg"))
        // dangling mass stays a LAZY broadcast 1-row aggregate (equi-joined on a
        // constant key → BroadcastHashJoin): ranks is materialized below, so both
        // this branch and the contribution branch read the same checkpointed blocks
        val dangling = withDeg.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dmass"))
          .withColumn("_k", lit(1))
        val contrib = e
          .join(withDeg.filter(col("deg").isNotNull)
            .select(col("node").as("src"), (col("rank") / col("deg")).as("c")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum("c").as("contrib"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .withColumn("_k", lit(1))
          .join(broadcast(dangling), Seq("_k"))
          .select(col("node"),
            (lit((1.0 - damping) / n) + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) + col("_dmass") / n)).as("rank"))
        ranks = tracker.rotate(ranks)
      }
    }
    // the final rotate materialized the result; freeing its blocks is the caller's
    // GC concern — ranks is now a plain checkpointed DataFrame
    ranks
  }

  /** Personalized (topic-sensitive) PageRank (Haveliwala, WWW 2002): teleport mass
    * returns to a SEED set instead of the uniform vector — the "trust propagation"
    * signal web-scale curation uses to rank pages by proximity to a vetted set of
    * quality seeds (the Ceccarelli/GWB "seed sites" recipe):
    *
    *   rank_{t+1}(v) = (1−d)·s(v) + d·( Σ_{u→v} rank_t(u)/deg(u) + D_t·s(v) )
    *
    * with s(v) = 1/|S| for seeds, 0 otherwise, and dangling mass D_t redistributed
    * over the seeds — so Σ rank = 1 holds exactly at every iteration. Non-seed
    * nodes unreachable from the seeds converge to rank 0.
    *
    * Scale shape is identical to [[pageRank]]: one edge-keyed equi-join + one
    * map-side-combined aggregation per iteration, the seed indicator joined as a
    * (broadcastable) one-column table, the rank vector materialized every
    * iteration by rotating localCheckpoints.
    *
    * @param seeds one string-castable column `node`; entries absent from the graph
    *        are ignored; at least one seed must be a graph node
    */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.util.Caching.CacheSyntax
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).scopedPersist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().scopedPersist()
    val seedNodes = seeds.select(col("node").cast("string").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi").scopedPersist()
    val nSeeds = seedNodes.count()
    require(nSeeds > 0, "personalizedPageRank: no seed is a graph node")
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg")).scopedPersist()
    // s(v) rides as a column: 1/|S| on seeds, 0 elsewhere
    val withS = nodes.join(seedNodes.withColumn("_s", lit(1.0 / nSeeds)), Seq("node"), "left")
      .select(col("node"), coalesce(col("_s"), lit(0.0)).as("s"))
      .scopedPersist()
    val tracker = new graft.util.CheckpointTracker(edges.sparkSession)
    var ranks: DataFrame = withS.select(col("node"), col("s").as("rank"))
    // rank-vector-sized loop shuffles, as in [[pageRank]]
    graft.util.Sessions.withShufflePartitions(edges.sparkSession,
      graft.util.Partitioning.adaptive(edges.sparkSession, nodes.count())) {
      (1 to iters).foreach { _ =>
        val withDeg = ranks
          .join(outDeg, ranks("node") === outDeg("src"), "left")
          .select(col("node"), col("rank"), col("deg"))
        val dangling = withDeg.filter(col("deg").isNull)
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("_dmass"))
          .withColumn("_k", lit(1))
        val contrib = e
          .join(withDeg.filter(col("deg").isNotNull)
            .select(col("node").as("src"), (col("rank") / col("deg")).as("c")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum("c").as("contrib"))
        ranks = withS.join(contrib, Seq("node"), "left")
          .withColumn("_k", lit(1))
          .join(broadcast(dangling), Seq("_k"))
          .select(col("node"),
            (lit(1.0 - damping) * col("s") + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) + col("_dmass") * col("s"))).as("rank"))
        ranks = tracker.rotate(ranks)
      }
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) by synchronous power iteration:
    *
    *   a_{t+1}(v) = Σ_{u→v} h_t(u),   then L2-normalize a
    *   h_{t+1}(u) = Σ_{u→v} a_{t+1}(v), then L2-normalize h
    *
    * initialized from h = 1. Authorities rank pages many good hubs point AT,
    * hubs rank pages that point at many good authorities — the directional
    * complement to PageRank's single score (a link DIRECTORY is a great hub and a
    * poor authority; PageRank conflates the two roles).
    *
    * Scale shape mirrors [[pageRank]]: each half-step is one edge-keyed equi-join
    * + one map-side-combined aggregation; the L2 norm is a 1-row aggregate whose
    * scalar rides a broadcast join. Two lessons are load-bearing here:
    *
    *   - materialize the RAW half-step sums (rotating localCheckpoint), not the
    *     normalized vectors: the norm is a second consumer of the same frame, so
    *     checkpointing AFTER normalization evaluates the edge join + aggregation
    *     TWICE per half-step (once for the broadcast norm job, once for the main
    *     pass) — measured 2× the suite's task time at sf0.1;
    *   - iterate SPARSE (only nodes with a nonzero sum ride the loop): zero
    *     entries contribute nothing to either half-step or the norm, so the
    *     dense per-node vector — authority 0 for no-in-edge nodes, hub 0 for
    *     no-out-edge nodes — is assembled ONCE at the end.
    */
  def hits(edges: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.util.Caching.CacheSyntax
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).scopedPersist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().scopedPersist()
    // one tracker PER vector: a shared tracker would free the authority blocks
    // when the hub vector rotates, while the final assembly still reads both
    val aTracker = new graft.util.CheckpointTracker(edges.sparkSession)
    val hTracker = new graft.util.CheckpointTracker(edges.sparkSession)
    // scalar scale over an already-checkpointed frame: the norm job re-reads
    // cached blocks, never re-runs the join
    def l2normalized(df: DataFrame, valueCol: String): DataFrame = {
      val norm = df.agg(sqrt(sum(col(valueCol) * col(valueCol))).as("_n"))
        .withColumn("_k", lit(1))
      df.withColumn("_k", lit(1))
        .join(broadcast(norm), Seq("_k"))
        .select(col("node"),
          when(col("_n") > 0, col(valueCol) / col("_n")).otherwise(lit(0.0))
            .as(valueCol))
    }
    var hubsN: DataFrame = nodes.select(col("node"), lit(1.0).as("hub"))
    var authN: DataFrame = null
    // vector-sized loop shuffles, as in [[pageRank]]
    graft.util.Sessions.withShufflePartitions(edges.sparkSession,
      graft.util.Partitioning.adaptive(edges.sparkSession, nodes.count())) {
      (1 to iters).foreach { _ =>
        val aRaw = aTracker.rotate(
          e.join(hubsN.select(col("node").as("src"), col("hub")), Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum("hub").as("authority")))
        authN = l2normalized(aRaw, "authority")
        val hRaw = hTracker.rotate(
          e.join(authN.select(col("node").as("dst"), col("authority")), Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum("authority").as("hub")))
        hubsN = l2normalized(hRaw, "hub")
      }
    }
    nodes
      .join(hubsN, Seq("node"), "left")
      .join(authN, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("authority"), lit(0.0)).as("authority"))
  }

  /** Degree profile of a link graph — the first diagnostic a curation pipeline runs
    * before trusting any graph signal: per-node in/out/total degree plus whether
    * the node is dangling (no out-edges) or a source (no in-edges). Multi-edges
    * count; one symmetric aggregation, no windows.
    */
  def degreeStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .withColumn("total_deg", col("in_deg") + col("out_deg"))
      .withColumn("is_dangling", col("out_deg") === 0)
      .withColumn("is_source", col("in_deg") === 0)
  }
}
