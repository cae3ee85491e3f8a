package graft.blocking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ref_lit

/** J1 — candidate-pair generation from blocking rules (reference semantics: Splink 3.9.4
  * blocking, invoked with the rules ARC passes at autolinker.py:519-521,545).
  *
  * For each OR branch (an AND of column equalities) we run one equi-join; branches are
  * unioned and deduped on the pair key. SQL `=` semantics mean null block keys never
  * match. Dedupe mode (no right table) self-joins with `uid_l < uid_r` so mirror pairs
  * collapse; link mode pairs across the two tables only. This object is the one place
  * that tells the two modes apart — every other linkage layer passes `right` along.
  *
  * Scale design: each branch is a shuffled equi-join on its block key (sort-merge or,
  * with AQE, shuffled-hash; a small side is broadcast by Catalyst automatically);
  * the final `dropDuplicates` is one more hash shuffle on the pair key. Attribute
  * columns are carried through the join (suffixed `_l`/`_r`) so downstream gamma
  * computation needs no extra join back to the inputs. The block key is a set of
  * fixed-position key columns picked from the carried ones, so branches of the same
  * width generate the same code whatever their columns.
  */
object PairGenerator {

  /** Candidate pairs: within `left` when `right` is `None` (`uid_l < uid_r`), else
    * across the two (schema-aligned, Y10) tables only. Output columns: `uid_l`,
    * `uid_r`, and `<attr>_l` / `<attr>_r` for every attribute column, followed by
    * the blocked-on columns not among them.
    *
    * @param saltFactor > 1 salts each block key `saltFactor` ways — the left side gets
    *        `salt = hash(uid) % s`, the right side is replicated across all salts — so
    *        one giant block spreads over `s` tasks instead of pinning a single reducer.
    *        Same pair set (salting balances the quadratic block work, it cannot reduce
    *        it); AQE's skew-join handles moderate skew automatically, this is the
    *        explicit control for low-cardinality keys.
    */
  def pairs(
      left: DataFrame,
      right: Option[DataFrame],
      uid: String,
      attributes: Seq[String],
      rules: Seq[BlockingRule],
      saltFactor: Int = 1): DataFrame = {
    require(saltFactor >= 1, s"saltFactor must be at least 1, got $saltFactor")
    val salted = saltFactor > 1
    val carried = (attributes ++ rules.flatMap(_.columns)).distinct
    def side(df: DataFrame, suffix: String, salt: Column) = {
      val projected = carriedSide(df, uid, carried, suffix)
      if (salted) projected.withColumn("_salt", salt) else projected
    }
    val lSide = side(left, "_l", pmod(xxhash64(col("uid_l")), lit(saltFactor)))
    val rSide = side(right.getOrElse(left), "_r",
      explode(array((0 until saltFactor).map(lit): _*)))
    val out = (lSide.columns ++ rSide.columns).filterNot(_ == "_salt").map(col).toSeq
    // a branch of width w joins on the key columns `_k0 … _k{w−1}`, each picked from
    // the carried columns by an index the generated code reads by reference
    // (`ref_lit`): the key projection, the join and its inferred not-null filters
    // then compile to the same classes whatever the branch's columns, so a search
    // over many blocking rules reuses them instead of compiling a set per column
    def keyed(df: DataFrame, branch: Seq[String], suffix: String) =
      df.select((col("*") +: branch.zipWithIndex.map { case (c, i) =>
        elt((ref_lit(carried.indexOf(c) + 1) +:
          carried.map(a => col(s"$a$suffix"))): _*).as(s"_k$i")
      }): _*)
    // salted pair joins are EXPANSION joins (tiny inputs, huge output, the gamma
    // ladder pipelined into the join stage), so join parallelism IS scoring
    // parallelism. Left alone the planner broadcasts one tiny side and streams the
    // other at its scan partitioning (often 1 file = 1 task). Pin the shape: both
    // sides hash-repartitioned on (block key, salt) to defaultParallelism — a
    // numbered repartition AQE never coalesces — and a merge-join hint so the join
    // reuses exactly those exchanges.
    def spread(df: DataFrame, keys: Seq[String]) =
      if (!salted) df
      else df.repartition(left.sparkSession.sparkContext.defaultParallelism,
        keys.map(col): _*)
    val joined = rules.flatMap(_.branches).distinct.map { branch =>
      val keyNames = branch.indices.map(i => s"_k$i") ++ (if (salted) Seq("_salt") else Nil)
      val l = spread(keyed(lSide, branch, "_l"), keyNames).alias("l")
      val r = spread(keyed(rSide, branch, "_r"), keyNames).alias("r")
      val keys = keyNames.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
      val cond = if (right.isEmpty) keys && col("l.uid_l") < col("r.uid_r") else keys
      (if (salted) l.hint("merge") else l).join(r, cond, "inner").select(out: _*)
    }
    // one equi-join branch cannot emit duplicate pairs, salted or not (the l-side
    // salt is a function of uid_l) — skip the dedup shuffle
    if (joined.size == 1) joined.head
    else joined.reduce(_ unionByName _).dropDuplicates("uid_l", "uid_r")
  }

  /** The candidate pairs of several rules at once, each tagged with its rule's
    * `_rule_idx`: the `(_rule_idx, rule)` pairs of `rules` give the tags. Output
    * columns: `_rule_idx`, then [[pairs]]' columns for `attributes`. A pair counts
    * once per rule that blocks it: pairs two OR branches of one rule both block are
    * kept once, pairs two rules block once per rule.
    *
    * One join per key width: each side is exploded once per (rule, branch) of that
    * width, into the branch's tag `_b` and its key columns `_k0 … _k{w−1}`, and the
    * sides join on them. The (tag, rule, key column) table reaches generated code by
    * reference ([[ref_lit]]), so batches of the same widths compile to the same
    * classes whatever their rules.
    */
  def rulePairs(
      left: DataFrame,
      right: Option[DataFrame],
      uid: String,
      attributes: Seq[String],
      rules: Seq[(Int, BlockingRule)]): DataFrame = {
    val carried = (attributes ++ rules.flatMap(_._2.columns)).distinct
    val branches = rules.flatMap { case (i, r) => r.branches.distinct.map(i -> _) }
    val lSide = carriedSide(left, uid, carried, "_l")
    val rSide = carriedSide(right.getOrElse(left), uid, carried, "_r")
    val out = col("l._rule_idx") +: (lSide.columns ++ rSide.columns).toSeq.map(col)
    val joined = branches.indices.groupBy(b => branches(b)._2.size).toSeq.sortBy(_._1)
      .map { case (w, bs) =>
        // one row per branch of width w: its tag, its rule, its key column indices
        val table = ref_lit(bs.map(b => (Seq(b, branches(b)._1) ++
          branches(b)._2.map(c => carried.indexOf(c) + 1)).toArray).toArray)
        def keyed(df: DataFrame, suffix: String) = {
          val e = df.select(col("*"), explode(table).as("_e"))
          e.select((df.columns.map(col) ++ Seq(col("_e")(0).as("_b"),
            col("_e")(1).as("_rule_idx")) ++ (0 until w).map(j =>
            elt((col("_e")(2 + j) +: carried.map(a => col(s"$a$suffix"))): _*)
              .as(s"_k$j"))).toSeq: _*)
        }
        val keys = ("_b" +: (0 until w).map(j => s"_k$j"))
          .map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
        val cond = if (right.isEmpty) keys && col("l.uid_l") < col("r.uid_r") else keys
        keyed(lSide, "_l").alias("l").join(keyed(rSide, "_r").alias("r"), cond)
          .select(out: _*)
      }
    val all = joined.reduce(_ unionByName _)
    if (rules.forall(_._2.branches.distinct.size == 1)) all
    else all.dropDuplicates("_rule_idx", "uid_l", "uid_r")
  }

  /** One side of a pair join: the uid and the carried columns as strings, suffixed. */
  private def carriedSide(df: DataFrame, uid: String, carried: Seq[String], suffix: String) =
    df.select((col(uid).cast("string").as(s"uid$suffix") +:
      carried.map(a => col(a).cast("string").as(s"$a$suffix"))): _*)

  /** Dedupe-mode [[pairs]]. */
  def dedupePairs(df: DataFrame, uid: String, attributes: Seq[String],
      rules: Seq[BlockingRule]): DataFrame = pairs(df, None, uid, attributes, rules)

  /** Link-mode [[pairs]]. */
  def linkPairs(left: DataFrame, right: DataFrame, uid: String, attributes: Seq[String],
      rules: Seq[BlockingRule]): DataFrame = pairs(left, Some(right), uid, attributes, rules)

  /** The records random (u-estimation) pairs are drawn from: `left`, or in link mode
    * the union of both tables' shared columns (random pairs are overwhelmingly
    * non-matches either way).
    */
  private[graft] def recordPool(left: DataFrame, right: Option[DataFrame]): DataFrame =
    right.fold(left) { r =>
      val shared = (left.columns.toSet intersect r.columns.toSet).toSeq.sorted
      left.select(shared.map(col): _*).unionByName(r.select(shared.map(col): _*))
    }
}
