package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` conversion helpers — the standard pattern
  * for third-party Catalyst extensions that need to wrap a custom
  * `Expression` as a user-facing `Column` (Spark 4 moved `Column` to a
  * ColumnNode facade; `classic.ExpressionUtils` does the conversion). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Fully convert a Column (including casts, UDF application, lambdas)
    * into a concrete Catalyst expression tree — what a
    * SparkSessionExtensions `injectFunction` builder must return
    * (`ExpressionUtils.expression` leaves a lazy ColumnNode facade that
    * the analyzer never visits in that context). */
  def toCatalyst(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap an analyzed `LogicalPlan` back into a `DataFrame` — what a
    * plan-level cache needs to rebuild the sub-plan it keys on
    * (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Never-reused session identity (`sessionUUID` is `private[sql]`) —
    * the right key for per-session caches, where an identity hash can
    * collide after GC. */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`). Listener delivery is async, so
    * a listener read right after an action can still miss its stages. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Set `key` on the running SparkContext's conf unless it is already
    * set there (`SparkContext.getActive` and `conf` are
    * `private[spark]`). An extension calls this before the new session
    * copies that conf, which is where static SQL confs are read from. */
  def defaultContextConf(key: String, value: String): Unit =
    org.apache.spark.SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))

  /** A reader of the bytes a persisted DataFrame's cache has
    * materialized so far: its `CachedRDDBuilder.sizeInBytesStats`
    * accumulator, which the executors fill as cached batches are built
    * (0 until a job runs over it). The CacheManager lookup happens once,
    * here; each read is then one accumulator read. Reads 0 for a frame
    * that is not cached. */
  def persistedSize(df: DataFrame): () => Long = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds) match {
      case scala.Some(cd) =>
        val acc = cd.cachedRepresentation.cacheBuilder.sizeInBytesStats
        () => acc.sum
      case _ => () => 0L
    }
  }
}
