package graft.tools

/** Dump `.explain("formatted")` for declared queries to files — the before/after
  * plan evidence for optimization rounds (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.tools.ExplainDump <outDir> <suffix> <regex>"` —
  * writes `<outDir>/<query>_<suffix>.txt` for every declared query matching the
  * regex. Reads SPARK_GRAFT_SF_DIR (default sf0.1). Plans are the ANALYZED
  * physical plans before execution (AQE `isFinalPlan=false`), which is what the
  * plan-shape claims (Exchange count, join strategy, PushedFilters, ReadSchema)
  * are graded on.
  */
object ExplainDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <regex>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val pattern = args(2).r
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.util.Sessions.local("graft-explain")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pattern.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        try {
          // queries that WRITE intermediates (persisted indexes) still only have
          // their final frame explained; building the frame may run those writes
          val df = graft.util.Caching.withCached { fn(spark, sfDir) }
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          System.err.println(s"[explain] wrote ${name}_$suffix.txt (${plan.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
        } finally {
          graft.util.Caching.releaseAll()
          spark.sqlContext.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        }
      }
    spark.stop()
  }
}
