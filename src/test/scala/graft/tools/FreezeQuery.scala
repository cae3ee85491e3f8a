package graft.tools

/** Test-scoped fixture freezer (never ships): runs one `SparkEntry.queries` entry
  * at sf0.001 and prints its rows as VALUES-style tuples for pinning an oracle.
  * Run: sbt 'Test/runMain graft.tools.FreezeQuery <query_name>'.
  */
object FreezeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: FreezeQuery <query_name> [sfDir]"))
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.util.Sessions.local("freeze-query")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    println("FROZEN ROWS:")
    df.collect().foreach { r =>
      val cells = (0 until r.length).map { i =>
        r.get(i) match {
          case null => "NULL"
          case s: String => s"'$s'"
          case o => o.toString
        }
      }
      println("  (" + cells.mkString(", ") + "),")
    }
    spark.stop()
  }
}
