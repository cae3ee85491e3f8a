package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Utf8Order

/** J7 — connected components over record pairs, as an iterative DataFrame algorithm
  * (reference semantics: Splink's `cluster_pairwise_predictions_at_threshold`, called at
  * autolinker.py:604,1065; algorithm: alternating large-star/small-star from
  * Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC 2014).
  *
  * Node ids are strings ordered lexicographically; each component resolves to its
  * minimum id. Singletons keep their own id.
  *
  * Scale design: both steps are aggregate+join (no per-node adjacency lists collected),
  * so a skewed giant component never materializes one huge row; `localCheckpoint` per
  * iteration cuts lineage growth; convergence is detected with an O(1)-row aggregate
  * (count + order-independent hash sum) instead of a full `except`. Small edge sets
  * (bounded by `localThreshold`) short-circuit to a driver union-find — ~log(diameter)
  * rounds of shuffles are pure overhead when the deduped graph fits in tens of MB.
  */
object ConnectedComponents {

  /** Cap on the distributed loop's large-star/small-star rounds. */
  private val MaxIter = 30

  /** Rows a driver-side probe collects at most before its operator falls back to the
    * distributed path (~50 MB of short string rows): this object's edge probe, the
    * auto-link trial probe and the information-gain probe all use it.
    */
  val LocalCap = 500000

  /** @param edges two string columns `src`, `dst` (one row per predicted matching pair)
    * @param localThreshold deduped edge sets at or below this size short-circuit to a
    *        driver union-find (the count is already paid by the first checkpoint; the
    *        collect is bounded by this parameter). Identical output: component
    *        minimum ids either way. At cluster scale the loop runs distributed; the
    *        fallback only removes ~log(diameter) rounds of tiny shuffles when the
    *        graph is small anyway.
    * @return mapping `node` → `cluster_id` covering every node present in `edges`
    *         (callers left-join records and default missing nodes to their own id)
    */
  def run(edges: DataFrame, localThreshold: Long = LocalCap): DataFrame = {
    val dedup = edges
      .select(col("src").cast("string"), col("dst").cast("string"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // ONE limit-probe job decides local vs distributed AND, in the local case,
    // already holds every edge: the former checkpoint + count + collect triple
    // paid three jobs and a full checkpoint write just to reach the driver
    // union-find (r12). A probe row past the threshold proves the set is too big
    // without counting it; at or under the threshold the probe IS the complete
    // deduped edge set (collect order does not matter — union-find output is
    // order-independent). The distributed path recomputes `dedup` into its first
    // rotation, as any over-threshold graph must pay its edge materialization anyway.
    val cap = math.min(localThreshold, Int.MaxValue.toLong - 1).toInt
    val probe = dedup.limit(cap + 1).collect()
    if (probe.length <= cap) {
      val spark = edges.sparkSession
      import spark.implicits._
      return components(probe.map(r => (r.getString(0), r.getString(1))))
        .toDF("node", "cluster_id")
    }

    val tracker = new graft.util.CheckpointTracker(edges.sparkSession)
    var e = tracker.rotate(dedup)

    var converged = false
    var iter = 0
    var prevSig = signature(e)
    while (!converged && iter < MaxIter) {
      // rotate frees the previous round's blocks once this round is materialized;
      // the FINAL checkpoint stays alive for the caller (freed by harness cleanup)
      val next = tracker.rotate(smallStar(largeStar(e)))
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      e = next
      iter += 1
    }
    // After convergence edges form stars src→min; every node maps to its root.
    val asMember = e.select(col("src").as("node"), col("dst").as("cluster_id"))
    val asRoot = e.select(col("dst").as("node"), col("dst").as("cluster_id"))
    asMember.union(asRoot).groupBy("node").agg(min("cluster_id").as("cluster_id"))
  }

  /** Driver union-find (path compression + union by rank) over a bounded edge list:
    * `(node, cluster_id)` for every node, in order of first appearance, with cluster
    * id = the component's minimum node id in Spark's string order — exactly what the
    * distributed fixpoint produces. Duplicate and self edges are harmless.
    */
  private[graft] def components(pairs: collection.Seq[(String, String)])
      : IndexedSeq[(String, String)] = {
    val index = scala.collection.mutable.HashMap.empty[String, Int]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
    def idOf(s: String): Int = index.getOrElseUpdate(s, { nodes += s; nodes.length - 1 })
    pairs.foreach { case (a, b) => idOf(a); idOf(b) }
    val parent = Array.tabulate(nodes.length)(identity)
    val rank = new Array[Int](nodes.length)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idOf(a)), find(idOf(b)))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    val minOfRoot = scala.collection.mutable.HashMap.empty[Int, String]
    nodes.indices.foreach { i =>
      val r = find(i)
      val s = nodes(i)
      if (!minOfRoot.get(r).exists(m => Utf8Order.compare(m, s) <= 0)) minOfRoot(r) = s
    }
    nodes.indices.map(i => (nodes(i), minOfRoot(find(i))))
  }

  /** Incremental connected components: fold a batch of NEW edges into an existing
    * `node → cluster_id` assignment without re-clustering the corpus (the day-2 shape
    * of entity resolution: yesterday's clustering + today's predicted pairs).
    *
    * Exactness: because every cluster id is the lexicographic MINIMUM member id, the
    * merged component's minimum equals the minimum over its constituent cluster ids
    * and new node ids — so contracting each endpoint to its current cluster id,
    * running CC over the contracted graph, and remapping reproduces exactly what a
    * full [[run]] over (base edges ∪ new edges) would output.
    *
    * Scale design: the contracted graph is bounded by the NEW batch (≤ 2·|newEdges|
    * nodes) regardless of corpus size, so the CC fixpoint cost is proportional to the
    * day's delta, never the corpus; the corpus is touched by exactly one equi-join
    * against the broadcast-size remap table (and the remap join only REWRITES rows
    * whose cluster representative changed).
    *
    * @param base existing assignment, columns `node`, `cluster_id` (cluster_id = the
    *        component's minimum node id, as [[run]]/[[assignClusters]] produce)
    * @param newEdges new pair rows `src`, `dst`; endpoints absent from `base` are
    *        treated as fresh singleton nodes
    * @return updated `node → cluster_id` covering base nodes ∪ new-edge endpoints
    */
  def incremental(base: DataFrame, newEdges: DataFrame): DataFrame = {
    val b = base.select(col("node").cast("string").as("node"),
      col("cluster_id").cast("string").as("cluster_id"))
    val e = newEdges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    // contract: each endpoint collapses to its current cluster representative
    // (itself when unseen); edges internal to one existing cluster vanish here
    val bSrc = b.select(col("node").as("src"), col("cluster_id").as("c_src"))
    val bDst = b.select(col("node").as("dst"), col("cluster_id").as("c_dst"))
    val contracted = e
      .join(bSrc, Seq("src"), "left")
      .join(bDst, Seq("dst"), "left")
      .select(coalesce(col("c_src"), col("src")).as("src"),
        coalesce(col("c_dst"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // CC over the contracted graph: work ∝ batch size, never corpus size
    val remap = run(contracted)
    // remap is bounded by the batch's endpoints — broadcast it so the corpus-size
    // base is never shuffled (at extreme batch sizes AQE would fall back to a
    // shuffled hash join on the same plan shape)
    val updatedBase = b
      .join(broadcast(remap.select(col("node").as("cluster_id"),
        col("cluster_id").as("_new_cid"))), Seq("cluster_id"), "left")
      .select(col("node"), coalesce(col("_new_cid"), col("cluster_id")).as("cluster_id"))
    // endpoints never seen before: assigned by the contracted CC, or themselves when
    // their only edges collapsed (impossible for truly new nodes, kept for safety)
    val newNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .join(b.select("node"), Seq("node"), "left_anti")
    val newAssigned = newNodes
      .join(broadcast(remap), Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))
    updatedBase.unionByName(newAssigned)
  }

  /** Attaches records: adds `cluster_id` (own uid for singletons) — the reference's
    * output shape (input ∪ cluster_id, autolinker.py:133,195-196).
    */
  def assignClusters(records: DataFrame, uid: String, edges: DataFrame): DataFrame =
    attach(records, uid, run(edges))

  /** [[assignClusters]] from a computed `node` → `cluster_id` mapping. */
  private[graft] def attach(records: DataFrame, uid: String, mapping: DataFrame): DataFrame =
    records
      .join(mapping, records(uid).cast("string") === mapping("node"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(uid).cast("string")))
      .drop("node")

  /** Per-cluster audit stats over an assignment and its edge set — Splink's cluster
    * metrics natively: node count, distinct undirected edge count, and graph density
    * `2e / (n(n−1))` (singletons → 0.0). A sparse low-density cluster is the classic
    * ER red flag (a chain of borderline matches bridging two real entities), so this
    * is the post-clustering quality report. Two cluster-keyed aggregations + one
    * broadcast-able join; edges orient canonically first so each counts once.
    */
  def clusterStats(assignments: DataFrame, uid: String, edges: DataFrame): DataFrame = {
    val a = assignments.select(col(uid).cast("string").as("node"), col("cluster_id"))
    val e = edges
      .select(least(col("src").cast("string"), col("dst").cast("string")).as("ea"),
        greatest(col("src").cast("string"), col("dst").cast("string")).as("eb"))
      .filter(col("ea") =!= col("eb")).distinct()
    // both endpoints share a cluster by construction — resolve through one side
    val ec = e.join(a.withColumnRenamed("node", "ea"), Seq("ea"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    a.groupBy("cluster_id").agg(count(lit(1)).as("n_nodes"))
      .join(ec, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        round(when(col("n_nodes") > 1,
          lit(2.0) * coalesce(col("n_edges"), lit(0L)) /
            (col("n_nodes") * (col("n_nodes") - lit(1)))).otherwise(lit(0.0)), 6)
          .as("density"))
  }

  /** large-star: connect every neighbor larger than u to u's local minimum. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src")
      .agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: orient edges large→small, connect all small neighbors to the minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = oriented.groupBy("src")
      .agg(min("dst").as("m"))
    oriented.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Order-independent convergence signature: (edge count, xor of per-edge hashes) —
    * xor instead of sum so ANSI mode can't overflow. Each round's signature is
    * computed once and compared against the remembered previous value.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val row = e.select(xxhash64(col("src"), col("dst")).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(h)"), lit(0L)).as("x"))
      .collect()(0)
    (row.getLong(0), row.getLong(1))
  }
}
