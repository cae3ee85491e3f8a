package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{combinations => arc_combinations, _}
import graft.queries.Fixtures.cust

/** SparkEntry query + oracle entries for the custom expression layer (SURVEY §2.1, E1-E8).
  *
  * Literal-input operators (E4-E8) are deterministic pure functions, so their oracles are
  * hand-computed `VALUES` tables; the aggregates (E1-E3) run over the testdata `customer`
  * table and are oracled by equivalent DuckDB group-bys.
  */
object ExpressionQueries {

  /** customer attributes, stringified the way the engine canonicalizes them. */
  private def custAttrs(df: DataFrame): DataFrame =
    df.select(
      col("c_mktsegment").cast("string").as("c_mktsegment"),
      col("c_nationkey").cast("string").as("c_nationkey"),
      (col("c_custkey") % 10).cast("string").as("k"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_combinatorial_count_agg" -> { (s, dir) =>
      val a = custAttrs(cust(s, dir))
      a.agg(combinatorial_count_agg(2, 0L, 1000000,
          "c_mktsegment" -> col("c_mktsegment"),
          "c_nationkey" -> col("c_nationkey"),
          "k" -> col("k")).as("m"))
        .select(explode(col("m")).as(Seq("key", "cnt")))
        .orderBy("key")
    },
    "e2_merge_count_map_agg" -> { (s, dir) =>
      // per-bucket partial maps merged into the global counts — the P1 two-phase shape
      val a = custAttrs(cust(s, dir))
        .withColumn("bucket", pmod(col("c_nationkey").cast("int"), lit(8)))
      a.groupBy(col("bucket"))
        .agg(combinatorial_count_agg(1, 0L, 1000000,
          "c_mktsegment" -> col("c_mktsegment")).as("m"))
        .agg(merge_count_map_agg(col("m")).as("m"))
        .select(explode(col("m")).as(Seq("key", "cnt")))
        .orderBy("key")
    },
    "e3_entropy_agg" -> { (s, dir) =>
      val a = custAttrs(cust(s, dir))
      a.agg(entropy_agg(0,
          "c_mktsegment" -> col("c_mktsegment"),
          "c_nationkey" -> col("c_nationkey")).as("e"))
        .select(explode(col("e")).as(Seq("column", "entropy")))
        .select(col("column"), round(col("entropy"), 6).as("entropy"))
        .orderBy("column")
    },
    "e4_generate_combinations" -> { (s, _) =>
      s.range(1).select(
          generate_combinations(lit(2),
            array(lit("a"), lit("b"), lit("c"), lit("d"))).as("c"))
        .select(array_join(col("c"), ",").as("combo"))
        .orderBy("combo")
    },
    "e5_generate_partial_combinations" -> { (s, _) =>
      s.range(1).select(
          generate_partial_combinations(lit(2), array(lit("a"), lit("b")),
            array(lit("a"), lit("b"), lit("c"), lit("d"), lit("e"))).as("c"))
        .select(array_join(col("c"), ",").as("combo"))
        .orderBy("combo")
    },
    "e6_combinations" -> { (s, _) =>
      s.range(1).select(
          arc_combinations(lit(2), array(lit("a"), lit("b"), lit("c"), lit("d"))).as("cs"))
        .select(array_join(transform(col("cs"), c => array_join(c, ",")), "|").as("combos"))
    },
    "e7_to_splink_rule" -> { (s, _) =>
      import s.implicits._
      Seq(Seq("a,b", "c"), Seq("x"), Seq("p,q,r")).toDF("rule")
        .select(to_splink_rule(col("rule")).as("splink_rule"))
        .orderBy("splink_rule")
    },
    "e8_estimate_squared_count_or" -> { (s, _) =>
      import s.implicits._
      val stats = Map("r1" -> (10L, 100L), "r2" -> (20L, 50L), "r3" -> (5L, 30L))
      Seq(Seq("r1"), Seq("r1", "r2"), Seq("r1", "r2", "r3")).toDF("rules")
        .select(array_join(col("rules"), "+").as("rule_set"),
          estimate_squared_count_or(col("rules"), stats).as("est"))
        .orderBy("rule_set")
    })

  private val entropySql: String = {
    def one(colExpr: String, name: String) =
      s"""SELECT '$name' AS "column",
         |  -SUM(p*LOG10(p)) / (CASE WHEN COUNT(*)<2 OR COUNT(*)=10 THEN 1.0
         |                           ELSE LOG10(COUNT(*)) END) AS ent
         |FROM (SELECT COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM customer) AS p
         |      FROM customer GROUP BY $colExpr)""".stripMargin
    s"""SELECT "column", ROUND(ent, 6) AS entropy FROM (
       |${one("c_mktsegment", "c_mktsegment")}
       |UNION ALL
       |${one("c_nationkey", "c_nationkey")}
       |) ORDER BY "column"""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "e1_combinatorial_count_agg" ->
      """SELECT key, cnt FROM (
        |  SELECT 'c_mktsegment,c_nationkey;'||c_mktsegment||','||CAST(c_nationkey AS VARCHAR) AS key,
        |         COUNT(*) AS cnt FROM customer GROUP BY 1
        |  UNION ALL
        |  SELECT 'c_mktsegment,k;'||c_mktsegment||','||CAST(c_custkey%10 AS VARCHAR), COUNT(*)
        |  FROM customer GROUP BY 1
        |  UNION ALL
        |  SELECT 'c_nationkey,k;'||CAST(c_nationkey AS VARCHAR)||','||CAST(c_custkey%10 AS VARCHAR), COUNT(*)
        |  FROM customer GROUP BY 1
        |) ORDER BY key""".stripMargin,
    "e2_merge_count_map_agg" ->
      """SELECT 'c_mktsegment;'||c_mktsegment AS key, COUNT(*) AS cnt
        |FROM customer GROUP BY 1 ORDER BY key""".stripMargin,
    "e3_entropy_agg" -> entropySql,
    "e4_generate_combinations" ->
      "SELECT * FROM (VALUES ('a,b'),('a,c'),('a,d'),('b,c'),('b,d'),('c,d')) t(combo) ORDER BY combo",
    "e5_generate_partial_combinations" ->
      "SELECT * FROM (VALUES ('a,b,c,d'),('a,b,c,e'),('a,b,d,e')) t(combo) ORDER BY combo",
    "e6_combinations" ->
      "SELECT 'a,b|a,c|a,d|b,c|b,d|c,d' AS combos",
    "e7_to_splink_rule" ->
      """SELECT * FROM (VALUES
        |  ('(l.a = r.a AND l.b = r.b) OR (l.c = r.c)'),
        |  ('(l.p = r.p AND l.q = r.q AND l.r = r.r)'),
        |  ('(l.x = r.x)')) t(splink_rule) ORDER BY splink_rule""".stripMargin,
    "e8_estimate_squared_count_or" ->
      """SELECT * FROM (VALUES
        |  ('r1', 100), ('r1+r2', -2500), ('r1+r2+r3', -5350)) t(rule_set, est)
        |ORDER BY rule_set""".stripMargin)
}
