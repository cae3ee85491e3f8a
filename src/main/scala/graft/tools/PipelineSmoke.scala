package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.textops.TextOps

/** Scale-slope smoke for the flagship COMPOSED pipelines (`ep3_training_mix`,
  * `ep4_training_corpus`) — the per-operator slopes live in [[ScaleSmoke]]; this
  * measures the end-to-end plans the driver actually benchmarks.
  *
  * Usage: `runMain graft.tools.PipelineSmoke [factors...]` (default `1 10`; factor
  * 10 over sf0.1 ≈ an sf1-sized documents table).
  *
  * Scaling scheme: the source documents table is replicated into `f` disjoint
  * "universes". Each universe keeps marker/stopword tokens verbatim (language ID and
  * quality stats are preserved, so per-stage selectivities stay representative) and
  * suffixes every other token with a universe tag — cross-universe shingle overlap is
  * ~zero, so contamination, dedup, and Bloom decontamination never link universes and
  * per-universe semantics match the 1× corpus. A pipeline whose stages are all
  * linear-shaped (hash aggs, broadcast semi-joins, per-shard windows) must show wall
  * time ~linear in `f`; any quadratic candidate blow-up shows as a super-linear jump.
  */
object PipelineSmoke {

  private val Queries = Seq("ep3_training_mix", "ep4_training_corpus")

  /** All language marker words — kept verbatim so langId/quality survive scaling. */
  private val Markers = TextOps.LangMarkers.flatMap(_._2)

  private def staged(spark: SparkSession, src: String, factor: Int, outRoot: String): String = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val scaled =
      if (factor == 1) docs
      else docs
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          explode(sequence(lit(0), lit(factor - 1))).as("u"))
        .select(
          (col("doc_id") + col("u").cast("long") * 10000000L).as("doc_id"),
          array_join(transform(TextOps.tokens(col("text")), t =>
            when(t.isInCollection(Markers), t)
              .otherwise(concat(t, lit("x"), col("u")))), " ").as("text"),
          col("lang"), col("n_chars"))
    val dir = s"$outRoot/f$factor"
    scaled.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local("graft-pipeline-smoke")
    val outRoot = Files.createTempDirectory("graft_pipeline_smoke").toString

    // untimed warm-up (JVM + codegen), smallest factor
    val warmDir = staged(spark, src, factors.min, outRoot)
    Queries.foreach { q =>
      graft.util.Caching.withCached(graft.SparkEntry.queries(q)(spark, warmDir).count())
    }
    clear(spark)

    for (f <- factors) {
      // the warm-up already staged the smallest factor — don't rewrite it
      val dir = if (f == factors.min) warmDir else staged(spark, src, f, outRoot)
      val n = spark.read.parquet(s"$dir/documents.parquet").count()
      Queries.foreach { q =>
        val t0 = System.nanoTime()
        val rows = graft.util.Caching.withCached(
          graft.SparkEntry.queries(q)(spark, dir).count())
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[pipeline] factor=$f%-3d docs=$n%-8d $q%-22s $sec%8.2f s  ($rows rows)")
        clear(spark)
      }
    }
    spark.stop()
  }

  private def clear(spark: SparkSession): Unit = {
    graft.util.Caching.releaseAll()
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
