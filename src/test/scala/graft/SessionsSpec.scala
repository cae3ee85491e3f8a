package graft

import graft.util.Sessions.withConf

/** Session-config ownership: a runtime override inside an operator puts the
  * caller's session back exactly — a key that was set keeps its value, a key that
  * was absent stays absent (not pinned to its default).
  */
class SessionsSpec extends SparkSpec {
  import spark.implicits._

  test("conf overrides leave the session as they found it") {
    val shuffle = "spark.sql.shuffle.partitions"
    val absent = "spark.sql.caseSensitive"
    def explicit(k: String): Option[String] = spark.conf.getAll.get(k)
    val suite = spark.conf.get(shuffle)
    assert(explicit(shuffle) === Some(suite))
    spark.conf.unset(absent)
    try {
      withConf(spark, shuffle -> "7") { assert(spark.conf.get(shuffle) === "7") }
      assert(explicit(shuffle) === Some(suite))
      withConf(spark, absent -> "true") { assert(spark.conf.get(absent) === "true") }
      assert(explicit(absent) === None)
      // nested scopes unwind in order, and a throwing body still restores
      val err = intercept[IllegalStateException] {
        withConf(spark, shuffle -> "5", absent -> "true") {
          withConf(spark, shuffle -> "6") { assert(spark.conf.get(shuffle) === "6") }
          assert(spark.conf.get(shuffle) === "5")
          throw new IllegalStateException("body failed")
        }
      }
      assert(err.getMessage === "body failed")
      assert(explicit(shuffle) === Some(suite))
      assert(explicit(absent) === None)
      // operators that pin the shuffle width leave an unset key unset
      spark.conf.unset(shuffle)
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
      assert(graft.cluster.PageRank.pageRank(edges, 0.85, 3).count() === 4)
      assert(explicit(shuffle) === None)
      val windows = graft.streaming.StreamOps
        .windowedEventCounts(spark, "/root/testdata/sf0.001/events.parquet")
      assert(windows.count() > 0)
      assert(explicit(shuffle) === None)
    } finally spark.conf.set(shuffle, suite)
    assert(spark.conf.get(shuffle) === "4")
  }
}
