package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways graft needs:
  *   - constructing a DataFrame from a custom LogicalPlan
  *     (`classic.Dataset.ofRows` is package-private at the Scala level in
  *     Spark 4) — standard practice for Spark plan extensions;
  *   - wrapping a catalyst Expression as a user-facing Column
  *     (`classic.ExpressionUtils.column` — Spark 4 moved Column onto
  *     ColumnNode, so `new Column(expr)` no longer exists); the SQL
  *     surface's parsed MERGE/UPDATE conditions need this to cross from
  *     parser output into the DataFrame-typed mutation API;
  *   - eagerly unloading state-store provider instances
  *     (`StateStore.unloadAll`), so a multi-query process (the bench
  *     suite) releases RocksDB NATIVE memory when a streaming drain
  *     finishes instead of when the 60 s maintenance sweep notices;
  *   - `StructType.asNullable` (`private[spark]`), so a schema read from
  *     a parquet footer on the driver equals the one a file scan infers.
  * Nothing else from the internal API is touched here. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The inverse of [[column]] — a DataFrame-layer Column's catalyst
    * Expression (Spark 4 moved Column onto ColumnNode, so `.expr` no
    * longer exists on the public type). Lets native expressions compose
    * with computed Columns instead of being reachable only through
    * parsed SQL strings. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `schema` with every field (nested ones too) nullable — what a file
    * source's inferred data schema always is. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** An `isStreaming = true` DataFrame over a computed batch — what a
    * DSv1 streaming Source's `getBatch` must return (MicroBatchExecution
    * asserts it); the same `internalCreateDataFrame` move
    * FileStreamSource makes, unavailable outside this package. */
  def streamingDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse doorway, for a DSv1 streaming SINK: `addBatch` hands a
    * streaming-tagged DataFrame that batch writers refuse; re-wrap its
    * computed rows as a BATCH frame (the same move ForeachBatchSink and
    * the built-in file sink make — the rows are already materialized by
    * the micro-batch's plan, only the streaming flag must drop). */
  def batchDataFrame(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.DataFrame]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Scan-task count of a frame that is a NARROW chain over file scans,
    * read from the planned leaves WITHOUT executing anything (ADVICE
    * r17: `df.rdd.getNumPartitions` under AQE eagerly runs every
    * upstream query stage when the plan holds exchanges, and throws on
    * streaming frames). Returns None — "don't know, leave the frame
    * alone" — when the plan contains any exchange or a non-file-scan
    * leaf (cached relation, local relation, custom source): those
    * already carry a partitioning fanScan must not second-guess. */
  def narrowScanPartitions(df: DataFrame): Option[Int] = {
    val plan = df.asInstanceOf[classic.DataFrame].queryExecution.executedPlan
    val base = plan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val leaves = base.collectLeaves()
    val scans = leaves.collect { case s: execution.FileSourceScanExec => s }
    val hasExchange =
      base.find(_.isInstanceOf[execution.exchange.Exchange]).isDefined
    if (hasExchange || scans.isEmpty || scans.size != leaves.size) None
    else Some(scans.map(_.inputRDDs().map(_.getNumPartitions).sum).sum)
  }
}
