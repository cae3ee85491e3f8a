package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a `factor`-times-larger copy of the sf0.1 tables the five most
  * expensive COMPOSED queries read (r10 verdict #5: their slopes were never
  * measured above sf0.1) — customer and documents, replicated with disjoint
  * key offsets — so `Bench` can be pointed at the output dir with a filter:
  *
  *   sbt "runMain graft.tools.SynthScale /tmp/sfsynth4 4"
  *   SPARK_GRAFT_SF_DIR=/tmp/sfsynth4 sbt "runMain graft.Bench j6_one_to_one|ep1_auto_link|graph_pagerank|j7_threshold_sweep"
  *
  * The 10M key offset clears the +100000/+200000 planted-duplicate ranges the
  * text queries derive, so replica ids never collide with planted ids. Values
  * (names, segments, nations, text) repeat verbatim across replicas — block
  * sizes therefore grow `factor`x and pair counts `factor²`x, which is exactly
  * the superlinear term the slope run is meant to expose.
  */
object SynthScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SynthScale <outDir> <factor> [srcDir]")
    val out = args(0)
    val factor = args(1).toInt
    require(factor >= 1 && factor <= 16, s"factor in [1,16], got $factor")
    val src = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.util.Sessions.local("graft-synth-scale")

    // cast the shifted key back to the source type: `col + lit(long)` widens an INT
    // key to BIGINT for every replica (k=0 included), and a drifted physical schema
    // can change ReadSchema/pushdown-sensitive plans at the synthetic scale factors
    // for reasons unrelated to scale (r11 advice)
    def replicate(df: DataFrame, keyCol: String): DataFrame =
      (0 until factor).map { k =>
        df.withColumn(keyCol,
          (col(keyCol) + lit(k.toLong * 10000000L)).cast(df.schema(keyCol).dataType))
      }.reduce(_ unionByName _)

    val cust = spark.read.parquet(s"$src/customer.parquet")
    replicate(cust, "c_custkey")
      .repartition(8).write.mode("overwrite").parquet(s"$out/customer.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    replicate(docs, "doc_id")
      .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    System.err.println(s"[synth] wrote ${factor}x customer+documents to $out")
    spark.stop()
  }
}
