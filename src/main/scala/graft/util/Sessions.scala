package graft.util

import org.apache.spark.sql.SparkSession

/** The one owner of session config: [[local]] builds every harness session
  * (Bench, Verify, the tools, the test suite) and [[withConf]] is the one scope for
  * a runtime override inside an operator.
  */
object Sessions {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, UTC session time
    * (the DuckDB oracles read the naive parquet timestamps as UTC), no UI, WARN logs.
    */
  def local(appName: String, cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the given runtime settings, then put the session back as it
    * was, also when `body` throws: a key that was set gets its old value back, a key
    * that was absent is unset again. (`conf.get` on an absent key returns its
    * default, so writing that back would leave the key set where it was not.)
    *
    * NOT thread-safe across queries: the settings are session-global, so two
    * queries planned concurrently on ONE SparkSession can each observe the other's
    * value. Fine for sequential drivers (the bench); concurrent callers must
    * serialize these scopes or run them on separate sessions (`spark.newSession()`).
    * Operators that may legitimately run on concurrent driver threads (the auto-link
    * trial loop) must NOT use this — size their frames with explicit
    * `repartition(Partitioning.adaptive(...))` instead.
    */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val explicit = conf.getAll // the keys set on this session, without defaults
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    try {
      settings.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** [[withConf]] on `spark.sql.shuffle.partitions`: plans compiled inside (an
    * iterative loop's rounds, a streaming query's state stores) pick `n` up.
    */
  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A =
    withConf(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)
}
