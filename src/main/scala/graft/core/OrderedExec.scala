package graft.core

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** Distributed execution of order-sensitive operators.
  *
  * The reference's stateful combinators (scan/mapAccum/pairs/consecutive,
  * reference `src/Data/Conduino/Combinators.hs:344-410`) are sequential by
  * nature. A naive Spark port would single-partition the stream. Instead,
  * every ordered operator — typed here, Row-level in `RowExec`, ordinals in
  * `Ordinals` — runs through one carry pass ([[carryPass]]): range-partition
  * and sort, summarise each partition in parallel, prefix-combine the
  * numPartitions summaries (not rows!) on the driver into per-partition
  * carries, broadcast them, and finish each partition locally. Two
  * parallel passes, O(P) driver work. The operators differ only in the
  * summary they keep:
  *
  *  1. '''Prefix-combine''' ([[scanFold]], for folds whose accumulator
  *     merges): the partition's fold; the carry is the fold of everything
  *     before the partition. The classic parallel prefix sum on Spark.
  *
  *  2. '''Boundary exchange''' ([[withTail]], for bounded-lookback ops —
  *     pairs, sliding windows of n): the partition's last n elements; the
  *     carry is the last n elements globally before the partition.
  *
  * Neither sorts the stream into one partition; the only serial state is
  * O(numPartitions) on the driver.
  */
private[graft] object OrderedExec {

  private def sortedBy[T](ds: Dataset[T], by: Seq[Column], parts: Int): Dataset[T] = {
    val p =
      if (parts > 0) parts
      else ds.sparkSession.sessionState.conf.numShufflePartitions
    ds.repartitionByRange(p, by: _*).sortWithinPartitions(by: _*)
  }

  /** Range-partition by seq + sort within partitions. Not persisted:
    * [[carryPass]] persists its own copy, and a single pass needs none.
    */
  def sorted[A](ds: Dataset[Elem[A]], parts: Int = 0): Dataset[Elem[A]] =
    sortedBy(ds, Seq(col("seq")), parts)

  /** One summary per partition of `rdd`, in partition order (the Tuple1
    * spares callers a ClassTag for the summary type).
    */
  private def summaries[T, S](rdd: RDD[T])(summary: Iterator[T] => S): List[S] =
    rdd.mapPartitions(it => Iterator(Tuple1(summary(it)))).collect().toList.map(_._1)

  /** The per-partition summaries of a seq-ordered stream, for sinks that
    * merge them on the driver and need no second pass.
    */
  def partials[A, S](in: Dataset[Elem[A]])(summary: Iterator[Elem[A]] => S): List[S] =
    summaries(sorted(in).rdd)(summary)

  /** The carry kernel. Sorts `in` by `by` into `parts` range partitions and
    * persists it; collects `summary` of each partition; turns the P
    * summaries into P+1 carries, `carries(i)` = `zero` combined with the
    * summaries of partitions 0..i-1 (the last is the global result); runs
    * `finish(carries(i), partition i)` over the broadcast carries; rebuilds
    * the output with `build` and materializes it. The sorted copy is
    * unpersisted even when a job throws.
    */
  private def carryPass[T, S, U: ClassTag](in: Dataset[T], by: Seq[Column], parts: Int,
                                           build: RDD[U] => Dataset[U])(
      summary: Iterator[T] => S, zero: S, combine: (S, S) => S)(
      finish: (S, Iterator[T]) => Iterator[U]): (Dataset[U], S) = {
    val s = sortedBy(in, by, parts).persist()
    try {
      val carries = summaries(s.rdd)(summary).scanLeft(zero)(combine).toVector
      val bCarries = in.sparkSession.sparkContext.broadcast(carries)
      val rdd = s.rdd.mapPartitionsWithIndex((i, it) => finish(bCarries.value(i), it))
      (Materialize.checkpoint(build(rdd)), carries.last)
    } finally s.unpersist()
  }

  /** Prefix-combine: emit `emit(t, acc)` after folding each `t` into the
    * running accumulator. Requires `combine` to be the monoid-homomorphism
    * merge of `step` (fold(xs ++ ys) == combine(fold(xs), fold(ys))).
    */
  def scanFold[T, B, U: ClassTag](in: Dataset[T], by: Seq[Column], parts: Int,
                                  build: RDD[U] => Dataset[U])(
      zero: B, step: (B, T) => B, combine: (B, B) => B)(emit: (T, B) => U): Dataset[U] =
    carryPass(in, by, parts, build)(_.foldLeft(zero)(step), zero, combine) { (carry, it) =>
      var acc = carry
      it.map { t => acc = step(acc, t); emit(t, acc) }
    }._1

  /** Boundary exchange over a seq-ordered input: run `f(carryIn, partition)`
    * over each sorted partition, where carryIn is the last `tailN` rows
    * globally before the partition. Returns the output plus the global tail
    * (last ≤ tailN rows of the whole input).
    */
  def withTail[T, U: ClassTag](in: Dataset[T], tailN: Int, build: RDD[U] => Dataset[U])(
      f: (List[T], Iterator[T]) => Iterator[U]): (Dataset[U], List[T]) = {
    require(tailN >= 0)
    val lastN: Iterator[T] => List[T] = { it =>
      val buf = new scala.collection.mutable.ArrayDeque[T]()
      it.foreach { t => buf.append(t); if (buf.size > tailN) buf.removeHead() }
      buf.toList
    }
    // valid because each partition's tail keeps at least the suffix the
    // next partitions need
    carryPass(in, Seq(col("seq")), 0, build)(
      lastN, Nil, (a: List[T], b: List[T]) => (a ++ b).takeRight(tailN))(f)
  }

  /** Running fold with mergeable accumulators: emits the accumulator after
    * every element (conduino `scan`, reference `Combinators.hs:362-371`).
    */
  def scanCombine[A, B: TypeTag](in: Dataset[Elem[A]], zero: B,
                                 step: (B, A) => B,
                                 combine: (B, B) => B): Dataset[Elem[B]] =
    scanFold[Elem[A], B, Elem[B]](in, Seq(col("seq")), 0,
      in.sparkSession.createDataset(_)(Elem.enc[B]))(
      zero, (b, e) => step(b, e.value), combine)((e, b) => Elem(e.seq, b))

  /** Typed boundary exchange ([[withTail]] over `Elem`s). */
  def mapWithCarry[A, B: TypeTag](in: Dataset[Elem[A]], tailN: Int)(
      f: (List[Elem[A]], Iterator[Elem[A]]) => Iterator[Elem[B]])
      : (Dataset[Elem[B]], List[Elem[A]]) =
    withTail(in, tailN, in.sparkSession.createDataset(_: RDD[Elem[B]])(Elem.enc[B]))(f)

  /** Sequential fallback for arbitrary (non-mergeable) state transitions:
    * one sorted partition, one pass. Correct for any closure; only for
    * small streams or when the user's function genuinely cannot merge.
    */
  def mapOrderedSequential[A, B: TypeTag](in: Dataset[Elem[A]])(
      f: Iterator[Elem[A]] => Iterator[Elem[B]]): Dataset[Elem[B]] = {
    implicit val encB: Encoder[Elem[B]] = Elem.enc[B]
    in.repartitionByRange(1, col("seq"))
      .sortWithinPartitions(col("seq"))
      .mapPartitions(f)
  }
}
