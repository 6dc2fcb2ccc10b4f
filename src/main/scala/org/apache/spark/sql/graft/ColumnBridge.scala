package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed `Column.expr`/`new Column(expr)` from the public
  * (Connect-compatible) API; the classic bridge is `private[sql]`.
  * This shim — in a subpackage of org.apache.spark.sql, the sanctioned
  * extension-library pattern — re-exposes the two conversions the graft
  * custom expressions need. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Internal-row RDD round-trip for iterative algorithms that must
  * re-root their plan every round (connected components): the public
  * surface offers only Dataset.localCheckpoint, whose persisted RDD is
  * unreachable for explicit unpersist — release then waits on driver
  * GC + ContextCleaner, accumulating up to maxIter label copies on
  * executors. Owning the RDD makes the per-round release explicit. */
object PlanBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StructType

  /** Physical output of df as a fresh internal-row RDD (rows copied —
    * the execution reuses mutable rows, so caching requires it). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd.map(_.copy())

  /** Re-wrap an internal-row RDD as a DataFrame leaf (no conversion
    * through external Rows). */
  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Pin `df` as an eagerly-materialized, lineage-truncated frame and
    * hand back the backing RDD so the caller can RELEASE the blocks in
    * a finally — `Dataset.localCheckpoint` hides its RDD, so a
    * long-running caller (a per-micro-batch sink, a change-feed
    * consumer) would accumulate every call's pinned batch until driver
    * GC + ContextCleaner got around to it. Returns the row count the
    * materialization already paid for. The pinned frame is ONLY valid
    * until the RDD is unpersisted: release it strictly after the last
    * job that reads the frame. */
  def pin(df: DataFrame): (DataFrame, RDD[InternalRow], Long) = {
    val rdd = toInternalRdd(df)
    rdd.localCheckpoint()
    val n = rdd.count()
    (fromInternalRdd(df.sparkSession, rdd, df.schema), rdd, n)
  }
}

/** `StructType.merge` is private[sql]; this bridge re-exposes it for
  * the driver-side footer-merge schema inference (the distributed
  * `mergeSchemasInParallel` ALWAYS submits a Spark job, even for a
  * two-file segment set). */
object SchemaBridge {
  import org.apache.spark.sql.types.StructType

  /** The same pairwise merge `mergeSchemasInParallel` folds with. */
  def merge(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, spark.sessionState.conf.caseSensitiveAnalysis)

  /** `s` with every field nullable, as a Spark file scan reports it. */
  def asNullable(s: StructType): StructType = s.asNullable
}
