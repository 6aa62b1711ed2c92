package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for this library's custom Catalyst
  * expressions. `ExpressionUtils` is `private[sql]` in Spark 4's refactored
  * Column API, so the bridge lives in the `org.apache.spark.sql` package —
  * the established pattern for Spark extension libraries that ship native
  * expressions.
  */
object GraftBridge {
  def column(e: Expression): Column     = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (Dataset.ofRows is
    * `private[sql]`) — the construction path for this library's native
    * operators (e.g. the as-of join plan). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** Bucket spec of a catalog table: (numBuckets, bucketColumnNames), None
    * for an unbucketed table. The catalog metadata API (`sessionState
    * .catalog`) is `private[sql]`, hence the bridge — `spark.catalog` has
    * no bucket accessor and DESCRIBE-output parsing is format-fragile.
    * Readers that must follow a table's PERSISTED layout (e.g. appending
    * to a bucketed index with whatever spec `build()` chose) read it from
    * here instead of re-deriving the build-time sizing. */
  def bucketSpec(spark: SparkSession, table: String): Option[(Int, Seq[String])] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val id = cs.sessionState.sqlParser.parseTableIdentifier(table)
    cs.sessionState.catalog.getTableMetadata(id).bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames))
  }

  /** DataFrame over an RDD of InternalRows with a known schema
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`) — lets an
    * operator materialize an intermediate ONCE into an RDD persisted at a
    * storage level of its choosing (e.g. `MEMORY_AND_DISK_SER` UnsafeRow
    * blocks, bypassing the columnar cache machinery whose per-scan
    * decompression an iterative consumer would pay per round) and keep
    * composing DataFrame operators over it. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
