package org.apache.spark.sql
package graftglue

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversion (the
  * supported classic-API path since Spark 4 hid Column's expression
  * constructor). Lives under org.apache.spark.sql so the private[sql]
  * members are visible; keeps ALL other graft code outside Spark packages.
  */
object GraftSqlGlue {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion: [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper that only resolves during analysis —
    * useless for driver-side predicate inspection (manifest pruning).
    * This runs the real converter so pattern matches see the Catalyst
    * tree (And/GreaterThan/Literal/UnresolvedAttribute...). */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over an analyzed logical plan (the private[sql]
    * Dataset.ofRows) — lets graft's SQL commands execute the plan a
    * statement carried (INSERT's query, MERGE's source). */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own Hive-style partition-path unescape (%XX for the chars its
    * writer escapes — NOT URL decoding). */
  def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Clone a session: shared SparkContext and shared state (cache manager
    * included), COPIED SQLConf and temp-view registry. A write job that
    * must pin a session conf (e.g. parquet timestamp encoding) runs under
    * the clone instead of mutating the caller's session — concurrent
    * commits in one session never observe a set/restore interleaving. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Block until the (private[spark]) listener bus has delivered every
    * event posted so far, so a listener's totals include every job and
    * task that already ended. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Public alias for the private[sql] AbstractDataType, so graft
    * expressions can declare ExpectsInputTypes.inputTypes. */
  type SqlAbstractDataType = types.AbstractDataType

  /** Parse a Cast-to-string-rendered value back to its Spark-internal form
    * (UTC, matching how file stats and partition values are rendered). */
  def castFromString(s: String, dt: types.DataType): Any =
    catalyst.expressions.Cast(
      catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        types.StringType),
      dt, Some("UTC")).eval(null)

  /** Render an EXTERNAL (Row-level) value with Spark's Cast-to-string under
    * UTC — the write-side twin of [[castFromString]]. Driver-side renderings
    * (e.g. merge batch key bounds) must match the UTC discipline file stats
    * are recorded under, REGARDLESS of the session timezone: a
    * session-zone cast of a timestamp key would shift the batch range
    * against UTC-recorded file stats and wrongly prune files. */
  def castToStringUtc(v: Any, dt: types.DataType): String = {
    if (v == null) return null
    val internal = catalyst.CatalystTypeConverters.convertToCatalyst(v)
    val out = catalyst.expressions.Cast(
      catalyst.expressions.Literal(internal, dt), types.StringType,
      Some("UTC")).eval(null)
    if (out == null) null else out.toString
  }

  /** Re-tag a batch DataFrame as STREAMING (isStreaming = true), the way
    * v1 streaming sources hand micro-batch data to the stream execution.
    * The relation keeps the batch plan's statistics (as
    * `Dataset.localCheckpoint` does), so a sink's write sees the batch's
    * real size instead of `spark.sql.defaultSizeInBytes`. */
  def streamingDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = true))
  }

  /** External (Row-level) value → Spark-internal form, for driver-side
    * probes that must agree with executor-side hashing/ordering. */
  def toCatalyst(v: Any): Any =
    catalyst.CatalystTypeConverters.convertToCatalyst(v)

  /** Spark's interpreted ordering for a data type (compares the INTERNAL
    * representation castFromString returns). */
  def interpretedOrdering(dt: types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** xxhash64 (seed 42) of an internal value — EXACTLY what the SQL
    * function `xxhash64(col)` computes, so driver-side membership probes
    * agree with executor-side Bloom construction. */
  def xxhash64Of(v: Any, dt: types.DataType): Long =
    new catalyst.expressions.XxHash64(
      Seq(catalyst.expressions.Literal(v, dt))).eval(null).asInstanceOf[Long]
}
