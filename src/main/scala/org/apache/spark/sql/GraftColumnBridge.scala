package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Spark internals — the supported extension
  * seam for libraries shipping custom codegen'd Catalyst expressions or
  * their own scans (same access pattern used by public Spark
  * connector/extension libraries). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over rows already in Catalyst's own form: no external
    * `Row` conversion and no per-field encoder on the way in. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)
}
