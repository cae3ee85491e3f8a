package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.{BlockingRule, PairGenerator}
import graft.schemamatch.SchemaMatch
import graft.textops.Dedup
import graft.queries.Fixtures.cust

/** Link-mode (two-table) operators and remaining SURVEY §2 entries: J1 link pairs,
  * Y4 deterministic-rule pick, Y10+link end-to-end column mapping, SimHash-collision
  * dedup pairs.
  */
object LinkQueries {

  /** Two halves of customer with different column names — the Y10/link fixture
    * (mirrors the reference's linking integration test, which splits FEBRL and
    * renames/drops columns).
    */
  private def halves(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = cust(s, dir)
    val left = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").cast("string").as("uid"),
        col("c_mktsegment").as("segment"), col("c_nationkey").cast("string").as("nation"))
    val right = c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey").cast("string").as("uid"),
        col("c_mktsegment").as("mkt"), col("c_nationkey").cast("string").as("nat"))
    (left, right)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_link_pairs" -> { (s, dir) =>
      val (left, right) = halves(s, dir)
      // link mode: schemas already aligned by renaming right to left's names (Y10 output)
      val r2 = right.select(col("uid"), col("mkt").as("segment"), col("nat").as("nation"))
      PairGenerator.linkPairs(left, r2, "uid", Seq("segment", "nation"),
          Seq(BlockingRule.parse("l.segment = r.segment AND l.nation = r.nation")))
        .select("uid_l", "uid_r")
        .orderBy("uid_l", "uid_r")
    },
    "y4_deterministic_rule" -> { (s, _) =>
      // reference picks the 500th-largest (or largest) candidate rule by cost
      // (autolinker.py:298): orderBy(asc).limit(500).orderBy(desc).limit(1)
      val countMap = Map("a" -> (10L, 100L), "b" -> (20L, 400L), "c" -> (5L, 25L))
      graft.blocking.RuleGen.generateORRules(s, countMap, 2)
        .orderBy(asc("rule_squared_count")).limit(500)
        .orderBy(desc("rule_squared_count")).limit(1)
    },
    "y10_link_mapping" -> { (s, dir) =>
      import s.implicits._
      val (left, right) = halves(s, dir)
      SchemaMatch.greedyMapping(left, right,
          Seq("segment", "nation"), Seq("mkt", "nat"))
        .toDF("left_col", "right_col", "match_count")
        .orderBy("left_col")
    },
    "dedup_simhash_pairs" -> { (s, dir) =>
      // hamming-0 near-dup candidates: planted exact copies collide on the signature
      val sigs = Dedup.simhash16(plantedDocs(s, dir), "doc_id", "text")
      sigs.alias("l").join(sigs.alias("r"),
          col("l.simhash") === col("r.simhash") && col("l.id") < col("r.id"))
        .select(col("l.id").as("id_l"), col("r.id").as("id_r"), col("l.simhash").as("simhash"))
        .orderBy("id_l", "id_r")
    },
    "dedup_simhash64" -> { (s, dir) =>
      Dedup.simhash64(
          Fixtures.docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    "dedup_simhash64_pairs" -> { (s, dir) =>
      // banded-hamming candidates (exact recall at hamming ≤ 3); the oracle is the
      // brute-force all-pairs hamming scan, so banding must find every such pair
      Dedup.simhash64Pairs(plantedDocs(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("id_l", "id_r")
    })

  /** documents ∪ exact copies (doc_id+100000 for doc_id%7=0) — the SimHash fixture. */
  private def plantedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Fixtures.docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private val simhashCte = {
    val nibs = (0 until 4).map(j =>
      s"strpos('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1 AS n$j").mkString(", ")
    val sums = (0 until 16).map { p =>
      s"SUM(CASE WHEN (n${p / 4} >> ${p % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$p"
    }.mkString(", ")
    val sig = (0 until 16).map(p =>
      s"(CASE WHEN s$p >= 0 THEN ${1 << p} ELSE 0 END)").mkString(" + ")
    s"""planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
       |), tok AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    string_split_regex(trim(text), '\\s+'), t -> length(t) > 0))) AS t FROM planted
       |), h AS (SELECT doc_id, md5(t) AS h FROM tok),
       |nib AS (SELECT doc_id, $nibs FROM h),
       |sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
       |sig AS (SELECT doc_id AS id, $sig AS simhash FROM sums)""".stripMargin
  }

  /** 64-bit SimHash oracle CTE over `source` (must expose doc_id, text): 16 md5
    * nibbles → 64 signed bit-sums → BIGINT signature. Bit 63 is the sign bit, and
    * DuckDB rejects `1::BIGINT << 63` as overflow — it is OR'd in as the Long.MinValue
    * literal instead.
    */
  private[queries] def simhash64Cte(source: String) = {
    val nibs = (0 until 16).map(j =>
      s"strpos('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1 AS n$j").mkString(", ")
    val sums = (0 until 64).map { p =>
      s"SUM(CASE WHEN (n${p / 4} >> ${p % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$p"
    }.mkString(", ")
    val sig = (0 until 64).map { p =>
      val bit = if (p == 63) "(-9223372036854775807 - 1)" else s"(1::BIGINT << $p)"
      s"(CASE WHEN s$p >= 0 THEN $bit ELSE 0::BIGINT END)"
    }.mkString(" | ")
    s"""tok AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    string_split_regex(trim(text), '\\s+'), t -> length(t) > 0))) AS t FROM $source
       |), h AS (SELECT doc_id, md5(t) AS h FROM tok),
       |nib AS (SELECT doc_id, $nibs FROM h),
       |sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
       |sig AS (SELECT doc_id AS id, $sig AS simhash FROM sums)""".stripMargin
  }

  private val plantedDocsCte =
    """planted AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "j1_link_pairs" ->
      """SELECT CAST(l.c_custkey AS VARCHAR) AS uid_l, CAST(r.c_custkey AS VARCHAR) AS uid_r
        |FROM customer l JOIN customer r
        |  ON l.c_mktsegment = r.c_mktsegment AND l.c_nationkey = r.c_nationkey
        |WHERE l.c_custkey % 2 = 0 AND r.c_custkey % 2 = 1
        |ORDER BY uid_l, uid_r""".stripMargin,
    "y4_deterministic_rule" ->
      "SELECT '(l.b = r.b)' AS splink_rule, 400 AS rule_squared_count",
    "y10_link_mapping" ->
      """WITH l AS (
        |  SELECT 'segment' AS lc, lower(regexp_replace(c_mktsegment, '[^A-Za-z0-9 ]+', '', 'g')) AS v
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT 'nation', lower(regexp_replace(CAST(c_nationkey AS VARCHAR), '[^A-Za-z0-9 ]+', '', 'g'))
        |  FROM customer WHERE c_custkey % 2 = 0
        |), r AS (
        |  SELECT 'mkt' AS rc, lower(regexp_replace(c_mktsegment, '[^A-Za-z0-9 ]+', '', 'g')) AS v
        |  FROM customer WHERE c_custkey % 2 = 1
        |  UNION ALL
        |  SELECT 'nat', lower(regexp_replace(CAST(c_nationkey AS VARCHAR), '[^A-Za-z0-9 ]+', '', 'g'))
        |  FROM customer WHERE c_custkey % 2 = 1
        |), lg AS (SELECT lc, v, COUNT(*) AS n1 FROM l GROUP BY 1, 2),
        |rg AS (SELECT rc, v, COUNT(*) AS n2 FROM r GROUP BY 1, 2),
        |pairs AS (SELECT lc, rc, CAST(SUM(n1*n2) AS BIGINT) AS match_count FROM lg JOIN rg USING (v) GROUP BY 1, 2),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY match_count DESC, lc, rc) AS rk FROM pairs)
        |SELECT lc AS left_col, rc AS right_col, match_count FROM ranked r1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM ranked r2 WHERE r2.rk < r1.rk AND (r2.lc = r1.lc OR r2.rc = r1.rc))
        |ORDER BY left_col""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT l.id AS id_l, r.id AS id_r, l.simhash
         |FROM sig l JOIN sig r ON l.simhash = r.simhash AND l.id < r.id
         |ORDER BY id_l, id_r""".stripMargin,
    "dedup_simhash64" ->
      s"""WITH ${simhash64Cte("documents")}
         |SELECT id AS doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_simhash64_pairs" ->
      s"""WITH $plantedDocsCte,
         |${simhash64Cte("planted")}
         |SELECT l.id AS id_l, r.id AS id_r,
         |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
         |FROM sig l JOIN sig r ON l.id < r.id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
         |ORDER BY id_l, id_r""".stripMargin)
}
