package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Y1/Y2/Y12 — input canonicalization (reference: python/arc/autolinker/cleaning_utils.py:6-47,
  * autolinker.py:138,287,929-939).
  */
object Cleaning {

  val NullSentinel = "null_"

  /** Y1's strip rule: runs of characters outside `[A-Za-z0-9 ]`. */
  val NonAlphanumeric = "[^A-Za-z0-9 ]+"

  /** Y1 — lowercase + strip everything but `[A-Za-z0-9 ]` on the given string columns.
    * `mode`: "all" cleans every listed column, "none" is identity; per-column overrides
    * via `perColumn` ("lower_only" keeps punctuation).
    */
  def cleanColumns(
      df: DataFrame,
      columns: Seq[String],
      mode: String = "all",
      perColumn: Map[String, String] = Map.empty): DataFrame = {
    if (mode == "none") return df
    columns.foldLeft(df) { (acc, c) =>
      perColumn.getOrElse(c, mode) match {
        case "none" => acc
        case "lower_only" => acc.withColumn(c, lower(col(c)))
        case _ =>
          acc.withColumn(c, lower(regexp_replace(col(c), NonAlphanumeric, "")))
      }
    }
  }

  /** Y2 — null sentinel before entropy/blocking aggregation. */
  def nullSentinel(df: DataFrame, columns: Seq[String]): DataFrame =
    df.na.fill(NullSentinel, columns)

  /** Y12 — synthesize a string unique-id column when absent. */
  def withUniqueId(df: DataFrame, uidCol: String): DataFrame =
    if (df.columns.contains(uidCol)) df
    else df.withColumn(uidCol, monotonically_increasing_id().cast("string"))
}
