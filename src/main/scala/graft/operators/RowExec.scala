package graft.operators

import graft.core.OrderedExec
import org.apache.spark.rdd.RDD
import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Row (DataFrame) front end of `graft.core.OrderedExec`'s carry
  * kernel: order-sensitive operators over a DataFrame with a `seq: Long`
  * column. Each operator supplies only its Row summary and finish step;
  * the kernel does the range partitioning, the O(numPartitions) driver
  * prefix, the broadcast and the materialization (SURVEY.md §4.1).
  *
  * No scheme ever brings rows-proportional data to the driver, so the
  * plans survive a 100×/1000-executor scale-up.
  */
object RowExec {

  private def rows(df: DataFrame, schema: StructType): RDD[Row] => DataFrame =
    df.sparkSession.createDataFrame(_, schema)

  /** Distributed running sum of a Long-valued expression, appended as
    * `outCol` (conduino `scan (+)`, reference `Combinators.hs:362-371`,
    * over a columnar stream). Nulls contribute 0.
    *
    * Runs on the kernel's binary rows: the value is read in place and
    * each output row is the input row plus the sum, written by one
    * `UnsafeProjection` per task — no row is decoded or re-encoded.
    */
  def runningSumLong(df: DataFrame, valueExpr: Column, outCol: String): DataFrame = {
    val withV = df.select(col("*"), valueExpr.cast(LongType).as("__v"))
    val v = df.schema.length
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    // output = the input's columns, then the sum (after __v in the joined row)
    val outExprs = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    } :+ BoundReference(v + 1, LongType, nullable = false)
    OrderedExec.scanRows[Long, InternalRow, DataFrame](withV,
      GraftRowBridge.fromBinary(df.sparkSession, _, outSchema))(
      0L, (b, r) => if (r.isNullAt(v)) b else b + r.getLong(v), _ + _) { () =>
      val proj = UnsafeProjection.create(outExprs)
      val sum = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      (r, acc) => { sum.setLong(0, acc); proj(joined(r, sum)) }
    }
  }

  /** Boundary exchange over Rows: run `f(carry, partition)` per sorted
    * partition, carry = last `tailN` rows globally before the partition.
    */
  def mapWithCarry(df: DataFrame, tailN: Int, outSchema: StructType)(
      f: (List[Row], Iterator[Row]) => Iterator[Row]): DataFrame =
    OrderedExec.withTail(df, tailN, rows(df, outSchema))(f)._1

  /** pairs (reference `Combinators.hs:379-385`) at Row level: each row
    * paired with the previous row's `valueCols`, prefixed `prev_`; the
    * first row of the stream is dropped. Boundary exchange, lookback 1.
    */
  def pairsDf(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val base = df.schema
    val idxs = valueCols.map(base.fieldIndex)
    val prevFields = valueCols.map { c =>
      val f = base(base.fieldIndex(c)); StructField(s"prev_$c", f.dataType, nullable = true)
    }
    val outSchema = StructType(base.fields.toSeq ++ prevFields)
    mapWithCarry(df, 1, outSchema) { (carry, it) =>
      var prev: Option[Row] = carry.lastOption
      it.flatMap { r =>
        val res = prev.map(p => Row.fromSeq(r.toSeq ++ idxs.map(p.get)))
        prev = Some(r)
        res
      }
    }
  }

  /** consecutive (reference `Combinators.hs:404-410`) at Row level: for
    * each row, the array of the previous ≤ n values of `valueCol` (the
    * window BEFORE the current element — the reference's off-by-one). The
    * reference also emits one final window after the last element; the
    * columnar form omits it (the typed `Pipes.consecutive` keeps it), so
    * output is exactly one row per input row — SQL-window expressible.
    */
  def consecutiveDf(df: DataFrame, valueCol: String, n: Int): DataFrame = {
    require(n >= 1)
    val base = df.schema
    val vIdx = base.fieldIndex(valueCol)
    val elemType = base(vIdx).dataType
    val outSchema = StructType(base.fields.toSeq :+
      StructField("window", ArrayType(elemType, containsNull = false), nullable = false))
    mapWithCarry(df, n, outSchema) { (carry, it) =>
      var win = carry.map(_.get(vIdx)).toVector.takeRight(n)
      it.map { r =>
        val res = Row.fromSeq(r.toSeq :+ win)
        win = (win :+ r.get(vIdx)).takeRight(n)
        res
      }
    }
  }

  /** Dense ordinals 0..n-1 by `sortCols`, replacing/adding `seq` — the
    * two-phase ordinal of `Ordinals.zipWithOrdinal` at Row level.
    */
  def withDenseSeq(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val noSeq = if (df.columns.contains("seq")) df.drop("seq") else df
    val outSchema = StructType(StructField("seq", LongType, nullable = false) +: noSeq.schema.fields.toSeq)
    // the running count includes the row itself
    OrderedExec.scanFold[Row, Long, Row](noSeq, Some((sortCols, 0)), rows(df, outSchema))(
      0L, (n, _) => n + 1, _ + _)((r, n) => Row.fromSeq((n - 1) +: r.toSeq))
  }
}
