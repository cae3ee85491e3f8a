package graft.schemamatch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.util.Utf8Order

/** Y10 — column matching for linking tables with different schemas
  * (reference: autolinker.py:961-1020).
  *
  * The reference runs one inner-join + count per candidate column pairing — O(C²) Spark
  * jobs. Re-expressed here as ONE pass: unpivot both tables to `(column, value)` with
  * occurrence counts, join on value, and aggregate `Σ_v n1(c1,v)·n2(c2,v)` per pairing —
  * which equals the reference's join-row count for every pairing at once.
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
      rightCols: Seq[String]): Seq[(String, String, Long)] = {
    val ranked = pairingCounts(left, right, leftCols, rightCols)
      .collect()
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      .sorted(Ordering.by[(String, String, Long), Long](-_._3)
        .orElseBy(_._1)(Utf8Order).orElseBy(_._2)(Utf8Order))
    val usedL = scala.collection.mutable.Set[String]()
    val usedR = scala.collection.mutable.Set[String]()
    ranked.flatMap { case (lc, rc, n) =>
      if (!usedL.contains(lc) && !usedR.contains(rc)) {
        usedL += lc; usedR += rc
        Some((lc, rc, n))
      } else None
    }.toSeq
  }
}
