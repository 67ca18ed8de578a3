package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** A Dataset's rows in Spark's binary form, and back.
  *
  * graft's carry kernel checkpoints an operator's input as the plan's own
  * `InternalRow`s (never decoded and re-encoded) and rebuilds a Dataset
  * over those blocks when it must sort them; operators that emit binary
  * rows, and driver code that builds or reads small tables, skip the
  * encoders. Both directions need `private[sql]` members (the bound
  * encoder, `LogicalRDD.fromDataset`, `internalCreateDataFrame`,
  * `Dataset.ofRows`),
  * reached here from inside the package like [[GraftColumnBridge]].
  */
object GraftRowBridge {

  private def impl[T](ds: Dataset[T]): classic.Dataset[T] =
    ds.asInstanceOf[classic.Dataset[T]]

  /** The rows `ds` computes, copied out of the plan's reused buffers. */
  def binary(ds: Dataset[_]): RDD[InternalRow] =
    ds.queryExecution.toRdd.map(_.copy())

  /** The decoder of `ds`'s rows, bound on the driver to the plan's output;
    * serializable, so tasks can run it.
    */
  def decoder[T](ds: Dataset[T]): InternalRow => T =
    impl(ds).exprEnc.resolveAndBind(ds.queryExecution.analyzed.output).createDeserializer()

  /** A DataFrame over `rows`, which must have `schema`'s layout: no
    * encoder, the rows are used as they are.
    */
  def fromBinary(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A local relation over driver-held `rows` of `schema`'s layout, with
    * no encoder.
    */
  def local(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `ds`'s rows collected to the driver in binary form, with no decoder. */
  def collectBinary(ds: Dataset[_]): Array[InternalRow] =
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("collect"))(
      ds.queryExecution.executedPlan.executeCollect())

  /** A Dataset over `rows`, which must have `origin`'s layout, planned
    * with `origin`'s statistics, partitioning and ordering.
    */
  def restore[T](rows: RDD[InternalRow], origin: Dataset[T]): Dataset[T] = {
    val o = impl(origin)
    classic.Dataset.ofRows(o.sparkSession,
      LogicalRDD.fromDataset(rows, o, isStreaming = false)).as[T](o.encoder)
  }
}
