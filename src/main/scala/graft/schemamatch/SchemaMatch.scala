package graft.schemamatch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.util.Utf8Order

/** Y10 — column matching for linking tables with different schemas
  * (reference: autolinker.py:961-1020).
  *
  * The reference runs one inner-join + count per candidate column pairing — O(C²) Spark
  * jobs. Re-expressed here as ONE pass: unpivot both tables to `(column, value)` with
  * occurrence counts, join on value, and aggregate `Σ_v n1(c1,v)·n2(c2,v)` per pairing —
  * which equals the reference's join-row count for every pairing at once. Tables of
  * at most [[ConnectedComponents.LocalCap]] values are counted on the driver from one
  * collect ([[greedyMapping]]).
  */
object SchemaMatch {

  /** Returns (left_col, right_col, match_count) for every column pairing, cleaned the
    * way the reference cleans before matching (lower + strip non-alphanumerics).
    */
  def pairingCounts(
      left: DataFrame,
      right: DataFrame,
      leftCols: Seq[String],
      rightCols: Seq[String]): DataFrame = {
    def unpivot(df: DataFrame, cols: Seq[String], colName: String) = {
      val stacked = df.select(expr(
        s"stack(${cols.length}, " +
          cols.map(c =>
            s"'$c', lower(regexp_replace(cast($c as string), '${Cleaning.NonAlphanumeric}', ''))")
            .mkString(", ") +
          s") as ($colName, value)"))
      stacked.filter(col("value").isNotNull)
        .groupBy(colName, "value").agg(count(lit(1)).as(s"n_$colName"))
    }
    val l = unpivot(left, leftCols, "left_col")
    val r = unpivot(right, rightCols, "right_col")
    l.join(r, "value")
      .groupBy("left_col", "right_col")
      .agg(sum(col("n_left_col") * col("n_right_col")).as("match_count"))
  }

  /** Greedy best-partner pick per left column (reference :1004-1013): order pairings by
    * count descending, take each left column's best unused right column. The ≤ C²
    * pairings are ranked on the driver — (count desc, left_col, right_col), names in
    * Spark's string order — which saves the sort's jobs on the call's setup path.
    */
  def greedyMapping(
      left: DataFrame,
      right: DataFrame,
      leftCols: Seq[String],
      rightCols: Seq[String]): Seq[(String, String, Long)] =
    greedyMapping(left, right, leftCols, rightCols, ConnectedComponents.LocalCap)

  /** [[greedyMapping]] whose match counts come from the driver when both tables
    * unpivot to at most `localCap` non-null cleaned values: one bounded probe collects
    * them (Spark evaluates the cleaning) and the driver sums `n1·n2` per pairing.
    * Otherwise [[pairingCounts]] runs.
    *
    * @param localCap tests pass 0 to force the distributed path
    */
  private[graft] def greedyMapping(
      left: DataFrame,
      right: DataFrame,
      leftCols: Seq[String],
      rightCols: Seq[String],
      localCap: Int): Seq[(String, String, Long)] = {
    val counts = localCounts(left, right, leftCols, rightCols, localCap).getOrElse(
      pairingCounts(left, right, leftCols, rightCols).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2))).toSeq)
    val ranked = counts.sorted(Ordering.by[(String, String, Long), Long](-_._3)
      .orElseBy(_._1)(Utf8Order).orElseBy(_._2)(Utf8Order))
    val usedL = scala.collection.mutable.Set[String]()
    val usedR = scala.collection.mutable.Set[String]()
    ranked.flatMap { case (lc, rc, n) =>
      if (!usedL.contains(lc) && !usedR.contains(rc)) {
        usedL += lc; usedR += rc
        Some((lc, rc, n))
      } else None
    }
  }

  /** [[pairingCounts]]' rows from one collect of [[valueProbe]] — `None` past `cap`
    * rows.
    */
  private def localCounts(
      left: DataFrame,
      right: DataFrame,
      leftCols: Seq[String],
      rightCols: Seq[String],
      cap: Int): Option[Seq[(String, String, Long)]] = {
    val names = leftCols ++ rightCols
    val probe = valueProbe(left, right, leftCols, rightCols, cap).collect()
    if (probe.length > cap) return None
    // value → its occurrences per column
    val byValue = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    probe.foreach(r =>
      byValue.getOrElseUpdate(r.getString(1), new Array[Long](names.size))(r.getInt(0)) += 1)
    val sums = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for (n <- byValue.values; lc <- leftCols.indices if n(lc) > 0;
         rc <- leftCols.size until names.size if n(rc) > 0)
      sums((lc, rc)) = sums.getOrElse((lc, rc), 0L) + n(lc) * n(rc)
    Some(sums.toSeq.map { case ((lc, rc), n) => (names(lc), names(rc), n) })
  }

  /** Both tables' non-null cleaned values as `(c, v)` rows, `c` indexing
    * `leftCols ++ rightCols`, at most `cap + 1` of them. Each table becomes one array
    * of (column index, cleaned value) per record; the two arrays are unioned, THEN
    * exploded, so the limit sits above the explode and runs as the collect: pushed
    * into a union's branches it would compile into their generated code under a
    * counter name unique to the plan.
    */
  private[graft] def valueProbe(
      left: DataFrame,
      right: DataFrame,
      leftCols: Seq[String],
      rightCols: Seq[String],
      cap: Int): DataFrame = {
    def values(df: DataFrame, cols: Seq[String], offset: Int) =
      df.select(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(offset + i).as("c"), clean(col(c)).as("v"))
      }: _*).as("_cv"))
    values(left, leftCols, 0).unionByName(values(right, rightCols, leftCols.size))
      .select(explode(col("_cv")).as("_e")).select("_e.*")
      .filter(col("v").isNotNull)
      .limit(cap + 1)
  }

  /** The reference's matching key: lower-cased, non-alphanumerics stripped. */
  private def clean(c: org.apache.spark.sql.Column) =
    lower(regexp_replace(c.cast("string"), Cleaning.NonAlphanumeric, ""))
}
