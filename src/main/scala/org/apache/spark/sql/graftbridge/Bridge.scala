package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor; Column now
  * wraps a ColumnNode. This bridge lives under `org.apache.spark.sql` so it can
  * reach the `private[sql]` converter — the same trick the reference needs for
  * its adapter (reference: scala/.../adapters/Column.scala:6-10).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def aggColumn(a: AggregateFunction): Column =
    ExpressionUtils.column(a.toAggregateExpression())
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.localCheckpoint` rebuilds the plan as a `LogicalRDD` that INHERITS
    * the source plan's `Statistics` (so downstream broadcast decisions keep
    * working). For an ITERATIVE operator that checkpoints every round, that
    * inheritance compounds: each round's joins estimate sizeInBytes as the
    * PRODUCT of child sizes, so the BigInt's bit-length grows geometrically
    * (~3× per round for a 3-join round) and by round ~10 the driver spends
    * minutes per round in BigInt multiplication inside
    * `SizeInBytesOnlyStatsPlanVisitor`. When the inherited estimate is already
    * astronomically past any real size (> 2^128 bytes), rebuild the LogicalRDD
    * WITHOUT the inherited stats — it then reports the conf default
    * (`spark.sql.defaultSizeInBytes`), a constant-width BigInt, and the next
    * round's products stay bounded. Honest trade: the checkpointed side is no
    * longer auto-broadcastable, which is correct for unbounded iterates (the
    * operators explicitly `broadcast()` their small sides, and AQE re-plans
    * from REAL sizes at shuffle time anyway).
    */
  def capCheckpointStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case lr: LogicalRDD if lr.stats.sizeInBytes.bitLength > 128 =>
        val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(cs, lr.copy()(cs, None, None))
      case _ => df
    }
  }

  /** The persistent-RDD ids a `localCheckpoint()`ed frame holds (the `LogicalRDD`'s
    * wrapped RDD). Lets [[graft.util.CheckpointTracker]] free exactly its own
    * blocks instead of diffing the session-global persistent-RDD registry — the
    * diff raced when two trackers rotated on concurrent driver threads (each could
    * adopt, then free, the other's freshly created blocks).
    */
  def checkpointedRddIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
  }

  /** The live entry count of Spark's JVM-wide codegen cache (`CodeGenerator.cache`, a
    * private field, read by reflection). It holds `spark.sql.codegen.cache.maxEntries`
    * classes (100 by default), so a working set near that size evicts its own plans.
    */
  def codegenCacheEntries: Long = {
    val cache = CodegenCache.invoke(CodeGenerator)
    cache.asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]].size
  }

  private lazy val CodegenCache = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m
  }

  /** Register a SQL function on a LIVE session (`sessionState` is `private[sql]`;
    * cluster deployments use `spark.sql.extensions=graft.GraftExtensions` instead,
    * which needs no bridge).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
