package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (object = JVM-wide singleton). */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Sessions.local("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  override protected def afterAll(): Unit = {
    // specs call operators outside Caching.withCached brackets; drain the unscoped
    // registry per suite so the shared JVM doesn't accumulate persisted plans
    graft.util.Caching.releaseAll()
    super.afterAll()
  }
}
