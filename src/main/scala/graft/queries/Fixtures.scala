package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one reader for each testdata table the query files share. A reader only
  * reads, so every plan is the one an inline `read.parquet` would give.
  */
private[queries] object Fixtures {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def cust(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")

  /** events.parquet has shipped with two physical `ts` types over time (long nanos
    * via the legacy conf, native timestamp[us]); the shared loader branches on the
    * schema and normalizes to TimestampType either way.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.Events.load(s, dir)
}
