package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: regex over query names for fast local iteration
    // (the driver always runs the full suite)
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String) = nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = graft.util.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // withCached releases the operator-internal persists as soon as the write
      // materializes; clearCache below stays as a backstop for localCheckpoints
      try graft.util.Caching.withCached {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failures(name) = msg
      }
      // free cached plans + leftover localCheckpoint blocks between queries
      // (releaseAll drains any unscoped operator persists the bracket didn't cover)
      graft.util.Caching.releaseAll()
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    def q(s: String): String = graft.util.Render.jsonString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a query that failed to plan/execute has NO result dir, so it silently falls
    // out of the driver's per-query compare — persist the failure list and exit
    // nonzero so absence is loud, never mistaken for "not declared"
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
