package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope smoke test for the candidate-generation-heavy operators.
  *
  * Usage: `runMain graft.tools.ScaleSmoke [sizes...]` (default 100000 400000).
  *
  * Generates a synthetic corpus of N md5-token documents (near-dup-free by
  * construction) plus planted near-dups for every 101st doc, and N unit vectors,
  * then times MinHash-LSH, 64-bit SimHash banded hamming, embedding LSH, and
  * connected components at each size. A scale-safe operator's wall time must grow
  * ~linearly in N (candidate pairs stay bounded by true collisions); a quadratic
  * blowup shows up immediately as a super-linear slope between the two sizes.
  */
object ScaleSmoke {

  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    // 40 pseudo-random 4-hex-char words per doc: distinct docs share almost no
    // shingles, so candidate pairs ≈ planted pairs only
    val words = (0 until 40).map(j =>
      substring(md5(concat(col("id").cast("string"), lit(s":$j"))), 1, 4))
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
    base.unionByName(
      base.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" xtra")).as("text")))
  }

  /** Like [[corpus]] but with 6-hex-char words (16.7M vocabulary): token postings
    * stay O(1) as n grows — the Heaps'-law regime of natural corpora, where exact
    * token-overlap candidate generation is collision-bounded. The 4-hex fixture
    * deliberately SATURATES its 65k vocabulary instead (postings ∝ n), which is the
    * regime where any exact overlap join — prefix-filtered or not — pays Ω(n²/V)
    * true collisions and LSH is the right tool.
    */
  private def corpusWide(spark: SparkSession, n: Long): DataFrame = {
    val words = (0 until 40).map(j =>
      substring(md5(concat(col("id").cast("string"), lit(s":$j"))), 1, 6))
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
    base.unionByName(
      base.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" xtra")).as("text")))
  }

  /** Synthetic graph with community structure AND a hub: each node links to its 2
    * successors inside a 100-node block (dense local communities for the quality
    * metrics) plus one pseudo-random long-range edge (keeps one giant component);
    * node 0 additionally links every 503rd node, so its degree grows ~n/503 — the
    * hub that makes an UNCAPPED Σdeg² wedge join pay (n/503)² while the capped
    * variants stay linear. That contrast is exactly what this section measures.
    */
  private def graphEdges(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n)
    val local = base.select(col("id").as("src"), (col("id") + 1).as("dst"))
      .filter(col("dst") % 100 =!= 0 && col("dst") < n)
      .unionByName(base.select(col("id").as("src"), (col("id") + 2).as("dst"))
        .filter(col("dst") % 100 > 1 && col("dst") < n))
    val longRange = base.select(col("id").as("src"),
      pmod(xxhash64(col("id")), lit(n)).as("dst"))
    val hub = base.filter(col("id") % 503 === 0)
      .select(lit(0L).as("src"), col("id").as("dst"))
    local.unionByName(longRange).unionByName(hub)
      .filter(col("src") =!= col("dst"))
  }

  private def vectors(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    val comps = (0 until dim).map(j =>
      (conv(substring(md5(concat(col("id").cast("string"), lit(s"v$j"))), 1, 6), 16, 10)
        .cast("double") / lit(16777215.0) - lit(0.5)))
    val base = spark.range(n).select(col("id").as("vec_id"), array(comps: _*).as("embedding"))
    base.unionByName(
      base.filter(col("vec_id") % 101 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          transform(col("embedding"), x => x * 1.0001).as("embedding")))
  }

  /** Optional operator-name regex (any non-numeric CLI arg) — untimed operators are
    * skipped entirely, so one operator can be re-smoked without the full sweep.
    */
  private var only: Option[scala.util.matching.Regex] = None

  private def time(name: String, n: Long)(body: => Long)(implicit spark: SparkSession): Unit = {
    if (!only.forall(_.findFirstIn(name).isDefined)) return
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    val rows = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[scale] n=$n%-8d $name%-24s $sec%8.2f s  ($rows rows)")
    // free only the caches this section created, so one operator's internal persists
    // neither spill-pressure nor cache-feed the next timing; the shared fixture
    // persists (created before the section) stay warm
    (sc.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  def main(args: Array[String]): Unit = {
    val (nums, pats) = args.partition(_.matches("\\d+"))
    only = pats.headOption.map(_.r)
    val sizes = if (nums.nonEmpty) nums.toSeq.map(_.toLong) else Seq(100000L, 400000L)
    // make a mis-typed size (e.g. "400k") visible: it would otherwise become a
    // filter matching nothing and the sweep would silently no-op
    println(s"[scale] sizes=${sizes.mkString(",")}" +
      only.map(p => s" filter=$p").getOrElse(""))
    require(pats.length <= 1, s"at most one name filter, got: ${pats.mkString(", ")}")
    implicit val spark: SparkSession = graft.util.Sessions.local("graft-scale-smoke")
    for (n <- sizes) {
      val docs = corpus(spark, n).persist()
      docs.count() // materialize outside the timed section
      time("minhash_lsh_pairs", n) {
        graft.textops.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5).count()
      }
      time("simhash64_pairs", n) {
        graft.textops.Dedup.simhash64Pairs(docs, "doc_id", "text").count()
      }
      time("connected_components", n) {
        val pairs = graft.textops.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
        graft.cluster.ConnectedComponents.run(
          pairs.select(col("id_l").as("src"), col("id_r").as("dst")),
          localThreshold = 0L).count() // force the distributed loop — that's the slope under test
      }
      time("incremental_minhash", n) {
        // batch = the planted copies; the corpus side must not self-join
        val incoming = docs.filter(col("doc_id") >= 10000000L)
        val base = docs.filter(col("doc_id") < 10000000L)
        graft.textops.Dedup.incrementalMinhashPairs(
          base, incoming, "doc_id", "text", 0.5).count()
      }
      time("bloom_decontaminate", n) {
        // benchmark = every 101st doc; corpus streams through the bloom probe
        val bench = docs.filter(col("doc_id") % 101 === 50)
        graft.textops.Curation.bloomDecontaminate(
          docs, bench, "doc_id", "text", 3).count()
      }
      time("paragraph_dedup", n) {
        // re-chunk each doc into 8-word lines; only planted copies share paragraphs
        val lined = docs.withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n"))
        graft.textops.Curation.dedupParagraphs(lined, "doc_id", "text", "\n").count()
      }
      time("fingerprint_overlap", n) {
        graft.textops.Dedup.fingerprintOverlapPairs(
          docs, "doc_id", "text", k = 8, w = 4, minContainment = 0.5).count()
      }
      time("tfidf_keywords", n) {
        graft.textops.Curation.tfidfKeywords(docs, "doc_id", "text", 3).count()
      }
      time("bm25_topk", n) {
        // 4 queries built from corpus docs 0-3's own leading words, so each probe
        // actually hits postings (worst case for the broadcast term join)
        val q = spark.range(4).select(col("id").cast("int").as("query_id"),
          concat_ws(" ",
            substring(md5(concat(col("id").cast("string"), lit(":0"))), 1, 4),
            substring(md5(concat(col("id").cast("string"), lit(":1"))), 1, 4)).as("qtext"))
        graft.textops.Similarity.bm25TopK(docs, "doc_id", "text", q, 10).count()
      }
      time("dup_ngram_coverage", n) {
        // duplicated 5-grams come only from the planted copies — the semi-join side
        // stays bounded by true duplication, which is what the slope verifies.
        // Aggregate a COMPUTED column: a bare count() lets Catalyst prune the
        // cardinality-preserving left joins and skip the n-gram work entirely.
        graft.textops.Dedup.duplicatedNgramCoverage(docs, "doc_id", "text", 5)
          .filter(col("n_dup") > 0).count()
      }
      // top-fraction selection: the exact ranking path vs the quantile-sketch path
      // on the same stratum layout (16 strata)
      val scored = docs.select(col("doc_id"),
        (col("doc_id") % 16).as("g"),
        (xxhash64(col("doc_id")) % 1000000L).cast("double").as("score"))
      time("keep_top_fraction_exact", n) {
        graft.textops.Curation.keepTopFraction(
          scored, col("score"), Seq(col("g")), col("doc_id"), 0.3).count()
      }
      time("keep_top_fraction_approx", n) {
        graft.textops.Curation.keepTopFractionApprox(
          scored, col("score"), Seq(col("g")), 0.3).count()
      }
      time("qsketch_quantiles", n) {
        // the slot-minimum quantile sketch on the same stratum layout: ONE
        // map-side-combined agg; output bounded at 16·1024 rows whatever n
        graft.metrics.Sketches.qsketchQuantiles(
          graft.metrics.Sketches.qsketch(scored, Seq("g"), col("score"), col("doc_id")),
          Seq("g"), Seq("p50" -> 0.5, "p90" -> 0.9)).count()
      }
      time("epoch_mix", n) {
        graft.textops.Curation.epochMix(docs, col("doc_id"),
          (col("doc_id") % 4).cast("string"),
          Map("0" -> 0.5, "1" -> 1.5, "2" -> 2.0), 1.0, "sm").count()
      }
      time("temperature_mix", n) {
        graft.textops.Curation.temperatureMix(docs, col("doc_id"),
          (col("doc_id") % 16).cast("string"), 0.5, n / 2, "tm").count()
      }
      time("global_shuffle", n) {
        // aggregate the computed position: count() would prune the numbering window
        graft.textops.Curation.globalShuffle(docs, col("doc_id"), "gsh")
          .agg(max("position")).collect()(0).getLong(0)
      }
      val wide = corpusWide(spark, n).persist()
      wide.count()
      time("prefix_jaccard_pairs", n) {
        // BLOCKLESS at the near-dup threshold on the Heaps'-regime corpus (see
        // corpusWide): candidates are collision-bounded → linear slope. On the
        // saturated 65k-vocab fixture the same call measures quadratic (17 s →
        // 190 s at 4×) — postings grow ∝ n and exact overlap pays true collisions;
        // that regime belongs to MinHash-LSH, as the operator doc states.
        graft.textops.Dedup.tokenJaccardPairsPrefix(
          wide, "doc_id", "text", Seq.empty, 0.9).count()
      }
      wide.unpersist()
      time("interval_join", n) {
        // one event per doc spread over ~n seconds; every 101st opens a 10-min
        // window — matches stay linear in n by construction
        val pts = docs.select(col("doc_id"),
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 10000000L).as("ts"))
        val iv = pts.filter(col("doc_id") % 101 === 0)
          .select(col("doc_id").as("iid"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
        graft.events.IntervalJoin.pointInInterval(
          pts, iv, "ts", "w_start", "w_end", binWidthSeconds = 600).count()
      }
      time("edit_distance_pairs", n) {
        // FastSS deletion-variant join over 8-hex words + a planted 1-char typo
        // for every 101st: candidates are collision-bounded, slope ~linear
        val base = spark.range(n).select(col("id"),
          substring(md5(col("id").cast("string")), 1, 8).as("w"))
        val typos = base.filter(col("id") % 101 === 0)
          .select((col("id") + 10000000L).as("id"),
            concat(lit("z"), substring(col("w"), 2, 7)).as("w"))
        graft.textops.Dedup.editDistancePairs(
          base.unionByName(typos), "id", "w", 1).count()
      }
      time("sorted_neighborhood", n) {
        // window-7 pairs over an md5 sort key: the slope under test is the global
        // ranking + the ≤w·n pair fan-out (aggregate a computed column so the
        // similarity work isn't pruned by count)
        graft.blocking.SortedNeighborhood.pairs(
            docs.select(col("doc_id"), md5(col("doc_id").cast("string")).as("sk")),
            col("sk"), col("doc_id"), window = 7)
          .count()
      }
      // ---- r8 additions: the new curation/tagging/maintenance surfaces ----
      time("quantile_normalize", n) {
        // 16 sources; the row-scale pass is the per-source cume_dist window
        val sc = docs.select(col("doc_id"), (col("doc_id") % 16).as("src"),
          ((xxhash64(col("doc_id")) % 1000000L).cast("double") / 1000000.0 + 0.5)
            .as("score"))
        graft.textops.Curation.quantileNormalize(
          sc, col("score"), Seq(col("src")), col("doc_id"), bins = 100).count()
      }
      time("dictionary_tag", n) {
        // gazetteer of 64 aliases drawn from the corpus's own hex words (plus
        // bigrams), so the broadcast join actually matches; slope = gram explode
        import spark.implicits._
        val al = (0 until 32).flatMap { i =>
          val w = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$i:0".getBytes).map("%02x".format(_)).mkString.substring(0, 4)
          Seq((w, s"e$i"), (s"$w $w", s"b$i"))
        }.toDF("alias", "entity")
        graft.textops.DictionaryTag.tag(docs, "doc_id", col("text"), al).count()
      }
      time("dedup_lines_within_doc", n) {
        val lined = docs.withColumn("text",
          regexp_replace(col("text"), "((\\S+ ){7})", "$1\n"))
        graft.textops.Curation.dedupLinesWithinDoc(lined, "doc_id", "text").count()
      }
      time("compaction_plan", n) {
        val manifest = docs.select(concat(lit("f"), col("doc_id")).as("path"),
          (col("doc_id") % 64).as("part"),
          (xxhash64(col("doc_id")) % 4096L + 4096L).as("bytes"))
        graft.sources.Compaction.planCompaction(
          manifest, "part", "path", "bytes", smallBytes = 6000L, targetBytes = 50000L)
          .count()
      }
      docs.unpersist()

      // ---- graph suite (r8): the Σdeg² wedge joins are the riskiest new r7
      // surfaces — verify the slope stays ~linear with the relay/wedge caps and
      // measure what the uncapped exact variants cost on a hubbed graph ----
      val edges = graphEdges(spark, n).persist()
      edges.count()
      val labels = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct().withColumn("label", (col("node") / 100).cast("long").cast("string"))
        .persist()
      labels.count()
      time("graph_triangles", n) {
        graft.cluster.Triangles.nodeTriangles(edges).count()
      }
      time("graph_two_hop_capped", n) {
        graft.cluster.Neighborhood.twoHopReach(edges, maxDegree = Some(64)).count()
      }
      time("graph_two_hop_exact", n) {
        graft.cluster.Neighborhood.twoHopReach(edges, maxDegree = None).count()
      }
      time("graph_link_predict", n) {
        graft.cluster.LinkPrediction.scores(edges, maxWedgeDegree = 64L).count()
      }
      time("graph_community_quality", n) {
        graft.cluster.CommunityMetrics.communityQuality(edges, labels).count()
      }
      time("bt_scores_distributed", n) {
        // Bradley–Terry ABOVE-CAP path (r10 verdict #7): n judgments over
        // ~n/100 items, winner side hash-alternated so the comparison graph is
        // dense and asymmetric; localMatrixCap = 0 forces the distributed MM
        // loop — the slope under test is the per-round item-keyed join + agg
        // (the PageRank shape; 5 rounds time the per-round cost, the fixpoint
        // count is iteration-independent of n)
        val nItems = n / 100 + 1
        val a = (col("id") % nItems).cast("string")
        val b = ((col("id") * 7 + 3) % nItems).cast("string")
        val judgments = spark.range(n).select(
          when(xxhash64(col("id")) % 2 === 0, a).otherwise(b).as("w"),
          when(xxhash64(col("id")) % 2 === 0, b).otherwise(a).as("l"))
        graft.metrics.Preference.btScores(judgments, "w", "l",
          iters = 5, localMatrixCap = 0L).count()
      }
      labels.unpersist()
      edges.unpersist()
      val vecs = vectors(spark, n, 32).persist()
      vecs.count()
      time("embedding_lsh_pairs", n) {
        graft.textops.Dedup.embeddingLshPairs(vecs, "vec_id", "embedding", 0.99).count()
      }
      time("semantic_pairs", n) {
        // auto-sized k (constant cell size) — the scale-safe SemDeDup configuration
        graft.textops.Dedup.semanticPairs(
          vecs, "vec_id", "embedding", 0.99).count()
      }
      time("ivf_pq_topk", n) {
        // fit is sample-bounded; the slope under test is the ADC scan + re-rank
        val queries = vecs.filter(col("vec_id") < 16)
        val ivf = graft.textops.Ivf.fit(vecs, "vec_id", "embedding", k = 64)
        val pq = graft.textops.Pq.fit(vecs, "vec_id", "embedding", dim = 32)
        graft.textops.Pq.topK(vecs, queries, "vec_id", "embedding", 5, ivf, pq).count()
      }
      time("pca_fit_project", n) {
        // aggregate ALL computed components: count() (or summing just one) lets
        // Catalyst prune the other dot products and under-times the projection
        val m = graft.textops.Pca.fit(vecs, "embedding", r = 4)
        val p = graft.textops.Pca.project(vecs, "embedding", m)
        p.agg(sum(col("pc_0") + col("pc_1") + col("pc_2") + col("pc_3")))
          .collect()
        n
      }
      time("cluster_balanced_sample", n) {
        // fixed k=8 cells: the per-cell window must stay ~linear as cells grow N/k
        import spark.implicits._
        val cents = vecs.filter(col("vec_id") < 8).orderBy("vec_id")
          .select(graft.functions.array_normalize(col("embedding").cast("array<double>")))
          .as[Array[Double]].collect()
        graft.textops.Similarity.clusterBalancedSample(
          vecs, "vec_id", "embedding", cents, 1000).count()
      }
      // round-9 generation-eval metrics: successor-doc pairs, N of them
      val evalDocs = corpusWide(spark, n).persist()
      evalDocs.count()
      val evalPairs = evalDocs.as("a")
        .join(evalDocs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("pair_id"),
          col("a.text").as("cand"), col("b.text").as("ref"))
        .persist()
      evalPairs.count()
      time("gen_eval_bleu", n) {
        graft.metrics.GenEval.bleu(evalPairs, col("pair_id"), col("cand"), col("ref"))
          .agg(sum("bleu")).collect(); n
      }
      time("gen_eval_chrf", n) {
        graft.metrics.GenEval.chrF(evalPairs, col("pair_id"), col("cand"), col("ref"))
          .agg(sum("chrf")).collect(); n
      }
      time("gen_eval_rouge_l", n) {
        // row-local LCS DP: 40×40 tokens per pair, zero shuffles
        graft.metrics.GenEval.rougeL(evalPairs, col("pair_id"), col("cand"), col("ref"))
          .agg(sum("f1")).collect(); n
      }
      evalPairs.unpersist()
      time("chat_validate", n) {
        // one from_json + HOF projection per record
        val conv = concat(lit("""[{"role":"user","content":""""),
          substring(col("text"), 1, 60), lit(""""},{"role":"assistant","content":""""),
          substring(col("text"), 61, 60), lit(""""}]"""))
        graft.textops.ChatOps.validateChat(
            evalDocs.select(col("doc_id"), conv.as("conv")),
            col("doc_id"), col("conv"), maxTokens = 24)
          .filter(col("valid")).count()
      }
      evalDocs.unpersist()
      vecs.unpersist()
      graft.util.Caching.releaseAll()
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    spark.stop()
  }
}
