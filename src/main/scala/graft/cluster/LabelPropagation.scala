package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (Raghavan, Albert &
  * Kumara 2007; the `labelPropagation` GraphX/GraphFrames ships) — the cheap
  * community signal a web-scale curation pipeline uses to group documents or
  * hosts into topical neighborhoods without choosing k.
  *
  * Deterministic variant: every node starts labeled with its own id; each
  * iteration every node adopts the most frequent label among its neighbors
  * (ties → lexicographically smallest label; isolated nodes keep their label).
  * Updates are SYNCHRONOUS — iteration t+1 reads only iteration t's labels — so
  * the result is independent of visit order, unlike the randomized asynchronous
  * original.
  *
  * Scale design: one iteration = one edge⋈label equi-join + a (node, label) count
  * aggregation + the per-node argmax as ONE lexicographic struct-MIN hash
  * aggregation `min(struct(-n, label))` — map-side combined, no sort window, no
  * join-back (the [[graft.score.FellegiSunter.mutualBestPairs]] reduction). The label
  * vector is MATERIALIZED every iteration (rotating localCheckpoint) because the
  * next iteration reads it from two branches — the PageRank r7 lesson: an
  * un-materialized iterative chain re-evaluates prior iterations exponentially.
  */
object LabelPropagation {

  /** @param edges two string-castable columns `src`, `dst`, treated UNDIRECTED
    * @return (node, label) for every node appearing on an edge
    */
  def run(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import graft.util.Caching.CacheSyntax
    val e0 = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
      .filter(col("src") =!= col("dst")) // a node is not its own neighbor
    val sym = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().scopedPersist()
    val nodes = sym.select(col("src").as("node")).distinct().scopedPersist()
    val tracker = new graft.util.CheckpointTracker(edges.sparkSession)
    var labels = nodes.select(col("node"), col("node").as("label"))
    // label-vector-sized loop shuffles (util.Partitioning — the PageRank note)
    graft.util.Sessions.withShufflePartitions(edges.sparkSession,
      graft.util.Partitioning.adaptive(edges.sparkSession, nodes.count())) {
      (1 to iters).foreach { _ =>
        val neighborLabels = sym
          .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src").as("node"), col("label"))
          .agg(count(lit(1)).as("n"))
        val newLabel = neighborLabels
          .groupBy("node")
          .agg(min(struct((-col("n")).as("negN"), col("label"))).as("best"))
          .select(col("node"), col("best.label").as("label"))
        labels = tracker.rotate(newLabel)
      }
    }
    labels
  }
}
