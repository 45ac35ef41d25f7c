package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge. Spark 4 made the classic constructors
  * `private[sql]`; extensions conventionally reach them from a package
  * under org.apache.spark.sql (same pattern every Spark connector and
  * spark-sketches-style library uses).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Driver-side Row → T decoder for rows shaped like `schema`,
    * resolved through `enc` — no Spark job per conversion. Resolution
    * applies the same up-cast rules as `Dataset.as[T]`: a narrowing
    * mismatch (e.g. stored long into an Int field) fails loudly at
    * first use instead of silently wrapping. */
  def rowDeserializer[T](enc: Encoder[T], schema: StructType): Row => T = {
    val base = enc match {
      case e: ExpressionEncoder[T @unchecked] => e
      case a: org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[T @unchecked] =>
        ExpressionEncoder(a)
      case other => throw new IllegalArgumentException(
        s"unsupported encoder type: ${other.getClass.getName}")
    }
    val exprEnc = base.resolveAndBind(DataTypeUtils.toAttributes(schema))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val deser = exprEnc.createDeserializer()
    (r: Row) => deser(toInternal(r).asInstanceOf[InternalRow])
  }

  /** A checkpointed frame (a `LogicalRDD` leaf) with exact statistics:
    * `rows` rows of `sizeInBytes` in total. Output attributes,
    * partitioning, ordering and constraints are kept; the leaf stays a
    * `LogicalRDD`. */
  def withStats(df: DataFrame, rows: Long, sizeInBytes: BigInt): DataFrame = {
    val l = df.queryExecution.logical.asInstanceOf[LogicalRDD]
    val s = df.sparkSession.asInstanceOf[SparkSession]
    val stats = Statistics(sizeInBytes = sizeInBytes, rowCount = Some(BigInt(rows)))
    Dataset.ofRows(s, l.copy()(s, Some(stats), Some(l.constraints)))
  }

  /** Block until every event posted to `spark`'s listener bus so far
    * has reached its listeners. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
