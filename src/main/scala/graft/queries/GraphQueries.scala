package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.PageRank
import graft.queries.Fixtures.docs

/** SparkEntry query + oracle entries for link-graph analytics
  * ([[graft.cluster.PageRank]]): the authority prior a web-scale curation pipeline
  * attaches to documents.
  *
  * The corpus carries no real hyperlinks, so the fixture derives a deterministic
  * link graph from doc ids (`d<i> → d<(7i+1) mod N>`, plus a second out-edge for
  * even ids; `%11` docs emit nothing and become dangling when never hit as a
  * source) — replicated verbatim in the oracle SQL.
  */
object GraphQueries {

  /** Deterministic doc-link edges; N rides the plan as a literal (1-row count). */
  private def linkEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n = d.count()
    val base = d.filter(col("doc_id") % 11 =!= 0)
    base.select(concat(lit("d"), col("doc_id")).as("src"),
        concat(lit("d"), (col("doc_id") * 7 + 1) % n).as("dst"))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("d"), col("doc_id")).as("src"),
          concat(lit("d"), (col("doc_id") * 13 + 5) % n).as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ONE power iteration from the uniform vector — closed-form, DuckDB-replayed
    // (the converged run below is the rows-only sibling, same update equation)
    "graph_pagerank_one_iter" -> { (s, dir) =>
      PageRank.pageRank(linkEdges(s, dir), damping = 0.85, iters = 1)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
    // TWO chained power iterations — pins the loop control (damping + dangling
    // redistribution ACROSS iterations) with a full DuckDB CTE replay, the
    // j5_em_two_iter pattern
    "graph_pagerank_two_iter" -> { (s, dir) =>
      PageRank.pageRank(linkEdges(s, dir), damping = 0.85, iters = 2)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
    // converged authority scores — FULL oracle: the loop runs a fixed 10
    // iterations, so the generated 10-step CTE chain replays it cell-exactly
    // (GraphSpec additionally pins the update against a dense driver reference)
    "graph_pagerank" -> { (s, dir) =>
      PageRank.pageRank(linkEdges(s, dir), damping = 0.85, iters = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
    // TWO synchronous label-propagation iterations — full oracle: iteration 1
    // from identity labels degenerates to min-neighbor (all neighbor labels
    // distinct → counts all 1 → smallest-label tiebreak), iteration 2 exercises
    // the genuine frequency argmax; both replay as chained CTEs
    "graph_lpa_two_iter" -> { (s, dir) =>
      graft.cluster.LabelPropagation.run(linkEdges(s, dir), iters = 2)
        .orderBy("node")
    },
    // converged communities — FULL oracle (generated 5-step chain of the same
    // synchronous min-tiebreak update; GraphSpec pins the planted-clique fixture)
    "graph_lpa" -> { (s, dir) =>
      graft.cluster.LabelPropagation.run(linkEdges(s, dir), iters = 5)
        .orderBy("node")
    },
    // personalized (seed-teleport) PageRank, TWO chained iterations — full oracle;
    // seeds are the %17 doc nodes (trust propagation from a vetted set)
    "graph_ppr_two_iter" -> { (s, dir) =>
      import s.implicits._
      val seeds = docs(s, dir).filter(col("doc_id") % 17 === 0)
        .select(concat(lit("d"), col("doc_id")).as("node"))
      PageRank.personalizedPageRank(linkEdges(s, dir), seeds, damping = 0.85, iters = 2)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
    // converged seed-relative trust scores — FULL oracle (generated 10-step
    // chain; GraphSpec pins mass conservation and unreachable-component zeros)
    "graph_ppr" -> { (s, dir) =>
      import s.implicits._
      val seeds = docs(s, dir).filter(col("doc_id") % 17 === 0)
        .select(concat(lit("d"), col("doc_id")).as("node"))
      PageRank.personalizedPageRank(linkEdges(s, dir), seeds, damping = 0.85, iters = 10)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    },
    // per-node degree profile + dangling/source flags — full oracle
    "graph_degree_stats" -> { (s, dir) =>
      PageRank.degreeStats(linkEdges(s, dir)).orderBy("node")
    },
    // HITS hubs/authorities, TWO synchronous iterations — full oracle (chained
    // CTEs: in-degree start, alternating L2-normalized sums)
    "graph_hits_two_iter" -> { (s, dir) =>
      PageRank.hits(linkEdges(s, dir), iters = 2)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node")
    },
    // converged hubs/authorities — FULL oracle (generated 10-step chain of the
    // alternating L2-normalized sums; GraphSpec pins the planted directory graph)
    "graph_hits" -> { (s, dir) =>
      PageRank.hits(linkEdges(s, dir), iters = 10)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))
        .orderBy("node")
    },
    // per-node triangle counts + local clustering coefficient (degree-ordered
    // orientation — no iteration, three hash joins) — full oracle
    "graph_triangles" -> { (s, dir) =>
      graft.cluster.Triangles.nodeTriangles(linkEdges(s, dir)).orderBy("node")
    },
    // common-neighbor / Jaccard / Adamic–Adar link prediction for non-adjacent
    // pairs (one wedge join + hash agg) — full oracle
    "graph_link_predict" -> { (s, dir) =>
      graft.cluster.LinkPrediction.scores(linkEdges(s, dir))
        .orderBy("a", "b")
    },
    // exactly TWO peel rounds of the 2-core — full oracle (chained CTEs replay
    // the degree-filter/semi-join rounds)
    "graph_kcore_two_peel" -> { (s, dir) =>
      graft.cluster.KCore.peel(linkEdges(s, dir), k = 2, iters = 2).orderBy("node")
    },
    // the converged 2-core — FULL oracle: peeling is idempotent at the fixpoint,
    // so a 50-round generated peel chain (the fail-loud maxIters cap) replays the
    // converged result exactly (GraphSpec pins brute-force equality besides)
    "graph_kcore" -> { (s, dir) =>
      graft.cluster.KCore.kCore(linkEdges(s, dir), k = 2).orderBy("node")
    },
    // exact 1- and 2-hop neighborhood sizes (self excluded) — full oracle
    "graph_two_hop_reach" -> { (s, dir) =>
      graft.cluster.Neighborhood.twoHopReach(linkEdges(s, dir)).orderBy("node")
    },
    // per-community cut/volume/conductance audit over the deterministic
    // two-iteration LPA partition — full oracle (LPA CTEs + closed forms)
    "graph_community_quality" -> { (s, dir) =>
      val e = linkEdges(s, dir)
      graft.cluster.CommunityMetrics
        .communityQuality(e, graft.cluster.LabelPropagation.run(e, iters = 2))
        .orderBy("community")
    },
    // Newman modularity + coverage of the same partition — ONE summary row
    "graph_modularity" -> { (s, dir) =>
      val e = linkEdges(s, dir)
      graft.cluster.CommunityMetrics
        .modularity(e, graft.cluster.LabelPropagation.run(e, iters = 2))
    })

  /** Shared link-graph fixture CTEs (directed multi-edge list `e`). */
  private val fixtureCtes =
    """p AS (SELECT COUNT(*) AS nd FROM documents),
      |e AS MATERIALIZED (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0)""".stripMargin

  /** GENERATED chained-CTE replay of `iters` full power iterations — the exact
    * update equation of [[graft.cluster.PageRank.pageRank]] (damping 0.85,
    * dangling mass re-derived from the previous vector every step), unrolled
    * mechanically. The converged queries run a FIXED iteration count, so the
    * DuckDB oracle is this chain at the same count: the whole loop is pinned
    * cell-exactly, not just a two-step prefix. Iterates are MATERIALIZED
    * (each r_i is read by three successors; inlining would re-expand the chain
    * exponentially); only the emitted vector rounds to 6.
    */
  private def pagerankChainSql(iters: Int): String = {
    val steps = (0 until iters).map { i =>
      s"""dang$i AS (SELECT COALESCE(SUM(r$i.rank), 0.0) AS d FROM r$i
         |          LEFT JOIN deg ON deg.src = r$i.node WHERE deg.deg IS NULL),
         |contrib$i AS (
         |  SELECT e.dst AS node, SUM(r$i.rank / deg.deg) AS c
         |  FROM e JOIN deg USING (src) JOIN r$i ON r$i.node = e.src GROUP BY e.dst),
         |r${i + 1} AS MATERIALIZED (
         |  SELECT nodes.node AS node,
         |    (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(contrib$i.c, 0.0) + dang$i.d / nn.n)
         |      AS rank
         |  FROM nodes LEFT JOIN contrib$i ON contrib$i.node = nodes.node
         |  CROSS JOIN nn CROSS JOIN dang$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $fixtureCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node, ROUND(rank, 6) AS rank FROM r$iters ORDER BY 1""".stripMargin
  }

  /** [[pagerankChainSql]] with the seed-indicator teleport vector of
    * [[graft.cluster.PageRank.personalizedPageRank]] (s(v) = 1/|S∩nodes|,
    * dangling mass returning to the seeds).
    */
  private def pprChainSql(iters: Int): String = {
    val steps = (0 until iters).map { i =>
      s"""dang$i AS (SELECT COALESCE(SUM(r$i.rank), 0.0) AS d FROM r$i
         |          LEFT JOIN deg ON deg.src = r$i.node WHERE deg.deg IS NULL),
         |contrib$i AS (
         |  SELECT e.dst AS node, SUM(r$i.rank / deg.deg) AS c
         |  FROM e JOIN deg USING (src) JOIN r$i ON r$i.node = e.src GROUP BY e.dst),
         |r${i + 1} AS MATERIALIZED (
         |  SELECT sv.node AS node,
         |    (1.0 - 0.85) * sv.s + 0.85 * (COALESCE(contrib$i.c, 0.0) + dang$i.d * sv.s)
         |      AS rank
         |  FROM sv LEFT JOIN contrib$i ON contrib$i.node = sv.node CROSS JOIN dang$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $fixtureCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |sd AS (SELECT DISTINCT 'd' || doc_id AS node FROM documents WHERE doc_id % 17 = 0),
       |seeds AS (SELECT sd.node FROM sd JOIN nodes USING (node)),
       |ns AS (SELECT COUNT(*)::DOUBLE AS k FROM seeds),
       |sv AS MATERIALIZED (SELECT nodes.node,
       |         CASE WHEN seeds.node IS NOT NULL THEN 1.0 / ns.k ELSE 0.0 END AS s
       |       FROM nodes LEFT JOIN seeds ON seeds.node = nodes.node CROSS JOIN ns),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT node, s AS rank FROM sv),
       |$steps
       |SELECT node, ROUND(rank, 6) AS rank FROM r$iters ORDER BY 1""".stripMargin
  }

  /** GENERATED chained HITS iterations (h0 = 1; authority from previous hub,
    * then hub from current authority, each L2-normalized) — the exact loop of
    * [[graft.cluster.PageRank.hits]] at its fixed iteration count.
    */
  private def hitsChainSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""a${i}r AS (SELECT e.dst AS node, SUM(h${i - 1}.v) AS v
         |        FROM e JOIN h${i - 1} ON h${i - 1}.node = e.src GROUP BY 1),
         |a${i}f AS MATERIALIZED (SELECT nodes.node, COALESCE(a${i}r.v, 0.0) AS v
         |        FROM nodes LEFT JOIN a${i}r USING (node)),
         |na$i AS (SELECT SQRT(SUM(v * v)) AS n FROM a${i}f),
         |a$i AS MATERIALIZED (SELECT node, CASE WHEN na$i.n > 0 THEN v / na$i.n ELSE 0.0 END AS v
         |       FROM a${i}f, na$i),
         |h${i}r AS (SELECT e.src AS node, SUM(a$i.v) AS v
         |        FROM e JOIN a$i ON a$i.node = e.dst GROUP BY 1),
         |h${i}f AS MATERIALIZED (SELECT nodes.node, COALESCE(h${i}r.v, 0.0) AS v
         |        FROM nodes LEFT JOIN h${i}r USING (node)),
         |nh$i AS (SELECT SQRT(SUM(v * v)) AS n FROM h${i}f),
         |h$i AS MATERIALIZED (SELECT node, CASE WHEN nh$i.n > 0 THEN v / nh$i.n ELSE 0.0 END AS v
         |       FROM h${i}f, nh$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $fixtureCtes,
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS MATERIALIZED (SELECT node, 1.0 AS v FROM nodes),
       |$steps
       |SELECT h$iters.node, ROUND(h$iters.v, 6) AS hub, ROUND(a$iters.v, 6) AS authority
       |FROM h$iters JOIN a$iters USING (node) ORDER BY node""".stripMargin
  }

  /** GENERATED synchronous min-tiebreak label-propagation chain — the exact
    * update of [[graft.cluster.LabelPropagation.run]] (identity start; most
    * frequent neighbor label, ties to the smallest), iteration-generic: from
    * identity labels the first step degenerates to min-neighbor exactly as the
    * Spark side does.
    */
  private def lpaChainSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""nl$i AS (SELECT sym.src AS node, l${i - 1}.label, COUNT(*) AS n
         |       FROM sym JOIN l${i - 1} ON l${i - 1}.node = sym.dst GROUP BY 1, 2),
         |bn$i AS (SELECT node, MAX(n) AS n FROM nl$i GROUP BY node),
         |l$i AS MATERIALIZED (SELECT nl$i.node, MIN(nl$i.label) AS label
         |       FROM nl$i JOIN bn$i ON bn$i.node = nl$i.node AND bn$i.n = nl$i.n
         |       GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $fixtureCtes,
       |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e WHERE src <> dst
       |   UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
       |$steps
       |SELECT node, label FROM l$iters ORDER BY node""".stripMargin
  }

  /** GENERATED peel chain: `rounds` degree-filter/edge-restrict rounds at k=2.
    * Peeling is IDEMPOTENT at the fixpoint, so over-provisioning rounds to the
    * Spark side's fail-loud maxIters cap (50) replays kCore's converged result
    * exactly — the trick that turns the peel-until-fixpoint loop into a closed
    * form (kCore raises if 50 rounds ever stop sufficing, so the two sides
    * cannot silently diverge).
    */
  private def kcorePeelChainSql(rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""d$i AS (SELECT node, COUNT(*) AS degree FROM
         |  (SELECT a AS node FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE degree >= 2),
         |e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i
         |       JOIN k$i x ON x.node = e$i.a JOIN k$i y ON y.node = e$i.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $fixtureCtes,
       |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |       FROM e WHERE src <> dst),
       |$steps
       |SELECT node, COUNT(*) AS degree FROM
       |  (SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  private val lpaTwoIterSql = lpaChainSql(2)

  private val oneIterSql = pagerankChainSql(1)

  private val twoIterSql = pagerankChainSql(2)

  private val pprTwoIterSql = pprChainSql(2)

  private val degreeStatsSql =
    """WITH p AS (SELECT COUNT(*) AS nd FROM documents),
      |e AS (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0),
      |o AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY 1),
      |i AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY 1)
      |SELECT node, COALESCE(in_deg, 0) AS in_deg, COALESCE(out_deg, 0) AS out_deg,
      |  COALESCE(in_deg, 0) + COALESCE(out_deg, 0) AS total_deg,
      |  COALESCE(out_deg, 0) = 0 AS is_dangling,
      |  COALESCE(in_deg, 0) = 0 AS is_source
      |FROM o FULL JOIN i USING (node) ORDER BY node""".stripMargin

  private val hitsTwoIterSql = hitsChainSql(2)

  /** Same degree-ordered orientation and single-count wedge closure as the Spark
    * side, replayed join for join.
    */
  private val trianglesSql =
    """WITH p AS (SELECT COUNT(*) AS nd FROM documents),
      |e AS (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0),
      |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |        FROM e WHERE src <> dst),
      |deg AS (SELECT node, COUNT(*) AS degree FROM
      |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
      |ori AS (
      |  SELECT CASE WHEN d1.degree < d2.degree
      |                OR (d1.degree = d2.degree AND und.a < und.b)
      |           THEN und.a ELSE und.b END AS lo,
      |         CASE WHEN d1.degree < d2.degree
      |                OR (d1.degree = d2.degree AND und.a < und.b)
      |           THEN und.b ELSE und.a END AS hi
      |  FROM und JOIN deg d1 ON d1.node = und.a JOIN deg d2 ON d2.node = und.b),
      |wedges AS (SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
      |           FROM ori e1 JOIN ori e2 ON e1.lo = e2.lo AND e1.hi < e2.hi),
      |closing AS (SELECT lo AS v, hi AS w FROM ori
      |            UNION ALL SELECT hi, lo FROM ori),
      |tri AS (SELECT u, v, w FROM wedges JOIN closing USING (v, w)),
      |pn AS (SELECT node, COUNT(*) AS triangles FROM
      |  (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
      |   UNION ALL SELECT w FROM tri) GROUP BY 1)
      |SELECT deg.node, deg.degree, COALESCE(pn.triangles, 0) AS triangles,
      |  ROUND(CASE WHEN deg.degree > 1
      |        THEN 2.0 * COALESCE(pn.triangles, 0) / (deg.degree * (deg.degree - 1))
      |        ELSE 0.0 END, 6) AS clustering_coeff
      |FROM deg LEFT JOIN pn USING (node) ORDER BY node""".stripMargin

  /** Same wedge join + anti-join as the Spark side; DuckDB `ln` = Spark `log`
    * (DuckDB's `log` is log10 — do not use it here).
    */
  private val linkPredictSql =
    """WITH p AS (SELECT COUNT(*) AS nd FROM documents),
      |e AS (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0),
      |und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |        FROM e WHERE src <> dst),
      |deg AS (SELECT node, COUNT(*) AS degree FROM
      |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
      |adj AS (
      |  SELECT s.z, s.n, deg.degree AS dz
      |  FROM (SELECT a AS z, b AS n FROM und UNION ALL SELECT b, a FROM und) s
      |  JOIN deg ON deg.node = s.z),
      |pairs AS (
      |  SELECT l.n AS a, r.n AS b, COUNT(*) AS common_neighbors,
      |         SUM(1.0 / LN(l.dz)) AS aa_raw
      |  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
      |  GROUP BY 1, 2),
      |fresh AS (SELECT pairs.* FROM pairs
      |          LEFT JOIN und ON und.a = pairs.a AND und.b = pairs.b
      |          WHERE und.a IS NULL)
      |SELECT f.a, f.b, f.common_neighbors,
      |  ROUND(f.common_neighbors / (d1.degree + d2.degree - f.common_neighbors), 6)
      |    AS jaccard,
      |  ROUND(f.aa_raw, 6) AS adamic_adar
      |FROM fresh f
      |JOIN deg d1 ON d1.node = f.a JOIN deg d2 ON d2.node = f.b
      |ORDER BY f.a, f.b""".stripMargin

  private val kcoreTwoPeelSql = kcorePeelChainSql(2)

  /** Shared CTE chain: the link-graph fixture, two LPA iterations (labels l2),
    * canonical undirected edges, degrees, per-community volume and
    * internal/cut edge rollups — the inputs both community-audit oracles fold.
    */
  private val communityCtes =
    """p AS (SELECT COUNT(*) AS nd FROM documents),
      |e0 AS (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0),
      |sym AS (SELECT DISTINCT src, dst FROM
      |  (SELECT src, dst FROM e0 WHERE src <> dst
      |   UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
      |l1 AS (SELECT src AS node, MIN(dst) AS label FROM sym GROUP BY src),
      |nl AS (SELECT sym.src AS node, l1.label, COUNT(*) AS n
      |       FROM sym JOIN l1 ON l1.node = sym.dst GROUP BY 1, 2),
      |bn AS (SELECT node, MAX(n) AS n FROM nl GROUP BY node),
      |l2 AS (SELECT nl.node, MIN(nl.label) AS label
      |       FROM nl JOIN bn ON bn.node = nl.node AND bn.n = nl.n GROUP BY 1),
      |ec AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |       FROM e0 WHERE src <> dst),
      |m AS (SELECT COUNT(*) AS m FROM ec),
      |deg AS (SELECT node, COUNT(*) AS degree FROM
      |  (SELECT a AS node FROM ec UNION ALL SELECT b FROM ec) GROUP BY 1),
      |sv AS (SELECT l2.label AS community, COUNT(*) AS n_nodes,
      |         SUM(COALESCE(deg.degree, 0))::BIGINT AS volume
      |       FROM l2 LEFT JOIN deg ON deg.node = l2.node GROUP BY 1),
      |le AS (SELECT la.label AS la, lb.label AS lb FROM ec
      |       JOIN l2 la ON la.node = ec.a JOIN l2 lb ON lb.node = ec.b),
      |pe AS (
      |  SELECT la AS community, COUNT(*)::BIGINT AS internal_edges,
      |         0::BIGINT AS cut_edges FROM le WHERE la = lb GROUP BY 1
      |  UNION ALL SELECT la, 0::BIGINT, COUNT(*)::BIGINT
      |    FROM le WHERE la <> lb GROUP BY 1
      |  UNION ALL SELECT lb, 0::BIGINT, COUNT(*)::BIGINT
      |    FROM le WHERE la <> lb GROUP BY 1),
      |pe2 AS (SELECT community, SUM(internal_edges)::BIGINT AS internal_edges,
      |          SUM(cut_edges)::BIGINT AS cut_edges FROM pe GROUP BY 1),
      |q AS (SELECT sv.community, sv.n_nodes,
      |        COALESCE(pe2.internal_edges, 0)::BIGINT AS internal_edges,
      |        COALESCE(pe2.cut_edges, 0)::BIGINT AS cut_edges, sv.volume
      |      FROM sv LEFT JOIN pe2 USING (community))""".stripMargin

  private val communityQualitySql =
    s"""WITH $communityCtes
       |SELECT q.community, q.n_nodes, q.internal_edges, q.cut_edges, q.volume,
       |  CASE WHEN LEAST(q.volume, 2 * m.m - q.volume) = 0 THEN 0.0
       |       ELSE ROUND(q.cut_edges / LEAST(q.volume, 2 * m.m - q.volume), 6)
       |  END AS conductance
       |FROM q, m ORDER BY q.community""".stripMargin

  private val modularitySql =
    s"""WITH $communityCtes,
       |agg AS (SELECT COUNT(*)::BIGINT AS n_communities,
       |  (SUM(internal_edges) + SUM(cut_edges) / 2)::BIGINT AS m_edges,
       |  SUM(internal_edges)::DOUBLE AS li,
       |  SUM(volume * volume)::DOUBLE AS vol_sq FROM q)
       |SELECT n_communities, m_edges,
       |  ROUND(li / m_edges, 6) AS coverage,
       |  ROUND(li / m_edges - vol_sq / (4.0 * m_edges * m_edges), 6) AS modularity
       |FROM agg""".stripMargin

  private val twoHopReachSql =
    """WITH p AS (SELECT COUNT(*) AS nd FROM documents),
      |e0 AS (
      |  SELECT 'd' || doc_id AS src, 'd' || ((doc_id * 7 + 1) % p.nd) AS dst
      |  FROM documents, p WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT 'd' || doc_id, 'd' || ((doc_id * 13 + 5) % p.nd)
      |  FROM documents, p WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0),
      |sym AS (SELECT DISTINCT src, dst FROM
      |  (SELECT src, dst FROM e0 WHERE src <> dst
      |   UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
      |deg AS (SELECT src AS node, COUNT(*) AS reach_1 FROM sym GROUP BY 1),
      |two AS (SELECT a.src AS node, b.dst AS other FROM sym a
      |        JOIN sym b ON a.dst = b.src WHERE a.src <> b.dst),
      |r2 AS (SELECT node, COUNT(*) AS reach_2 FROM
      |  (SELECT DISTINCT node, other FROM
      |    (SELECT src AS node, dst AS other FROM sym UNION ALL
      |     SELECT node, other FROM two)) GROUP BY 1)
      |SELECT deg.node, reach_1, reach_2 FROM deg JOIN r2 USING (node)
      |ORDER BY deg.node""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "graph_two_hop_reach" -> twoHopReachSql,
    "graph_community_quality" -> communityQualitySql,
    "graph_modularity" -> modularitySql,
    "graph_kcore_two_peel" -> kcoreTwoPeelSql,
    "graph_kcore" -> kcorePeelChainSql(50),
    "graph_pagerank" -> pagerankChainSql(10),
    "graph_ppr" -> pprChainSql(10),
    "graph_hits" -> hitsChainSql(10),
    "graph_lpa" -> lpaChainSql(5),
    "graph_link_predict" -> linkPredictSql,
    "graph_triangles" -> trianglesSql,
    "graph_hits_two_iter" -> hitsTwoIterSql,
    "graph_pagerank_one_iter" -> oneIterSql,
    "graph_pagerank_two_iter" -> twoIterSql,
    "graph_lpa_two_iter" -> lpaTwoIterSql,
    "graph_ppr_two_iter" -> pprTwoIterSql,
    "graph_degree_stats" -> degreeStatsSql)
}
