package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** A Dataset's rows in Spark's binary form, and back.
  *
  * graft's carry kernel checkpoints an operator's input as the plan's own
  * `InternalRow`s (never decoded and re-encoded) and rebuilds a Dataset
  * over those blocks when it must sort them. Both directions need
  * `private[sql]` members (the bound encoder, `LogicalRDD.fromDataset`),
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

  /** A Dataset over `rows`, which must have `origin`'s layout, planned
    * with `origin`'s statistics, partitioning and ordering.
    */
  def restore[T](rows: RDD[InternalRow], origin: Dataset[T]): Dataset[T] = {
    val o = impl(origin)
    classic.Dataset.ofRows(o.sparkSession,
      LogicalRDD.fromDataset(rows, o, isStreaming = false)).as[T](o.encoder)
  }
}
