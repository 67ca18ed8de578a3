package graft.core

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed execution of order-sensitive operators.
  *
  * The reference's stateful combinators (scan/mapAccum/pairs/consecutive,
  * reference `src/Data/Conduino/Combinators.hs:344-410`) are sequential by
  * nature. A naive Spark port would single-partition the stream. Instead,
  * every ordered operator — typed here, Row-level in `RowExec`, ordinals in
  * `Ordinals` — runs through one carry kernel ([[carryPass]]): summarise
  * each partition in parallel, prefix-combine the numPartitions summaries
  * (not rows!) on the driver into per-partition carries, broadcast them,
  * and finish each partition locally. O(P) driver work. The operators
  * differ only in the summary they keep:
  *
  *  1. '''Prefix-combine''' ([[scanFold]], for folds whose accumulator
  *     merges): the partition's fold; the carry is the fold of everything
  *     before the partition. The classic parallel prefix sum on Spark.
  *
  *  2. '''Boundary exchange''' ([[withTail]], for bounded-lookback ops —
  *     pairs, sliding windows of n): the partition's last n elements; the
  *     carry is the last n elements globally before the partition.
  *
  * A seq-ordered input is probed before anything is sorted ([[probe]]):
  * one job checkpoints its rows in Spark's binary form and records, per
  * partition, the row count, the first and last seq, whether the seqs
  * strictly ascend, and the summary in arrival order. Keyed sources
  * (`withSeq` over a table written in key order, `fromSeq`, `range`)
  * arrive as ascending, disjoint runs: then the runs' order is the seq
  * order, the summaries combine in that order, and the finish pass runs
  * lazily over the checkpointed rows (cut into blocks if there are fewer
  * partitions than shuffle partitions): one Spark job, no sample, no
  * shuffle. Otherwise the checkpointed rows (so the upstream never runs
  * twice) are range-sorted and checkpointed again while the summaries are
  * collected: four jobs (the probe, the range sample, and the sorting
  * shuffle's map and result stages, each its own job under adaptive
  * execution). Inputs ordered by other columns skip the probe: three
  * jobs. Either way the finish pass runs inside the consumer's own job.
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

  /** Range-partition by seq + sort within partitions, lazily: a single
    * pass needs no copy (the carry kernel checkpoints its own).
    */
  def sorted[A](ds: Dataset[Elem[A]], parts: Int = 0): Dataset[Elem[A]] =
    sortedBy(ds, Seq(col("seq")), parts)

  /** One summary per partition of `rdd`, in partition order (the Tuple1
    * spares callers a ClassTag for the summary type).
    */
  private def summaries[T, S](rdd: RDD[T])(summary: Iterator[T] => S): List[S] =
    rdd.mapPartitions(it => Iterator(Tuple1(summary(it)))).collect().toList.map(_._1)

  /** `body`, a job that stores the checkpoint `rows`; if it fails, the
    * partial copy is dropped now, not when the RDD is collected.
    */
  private def storing[R](rows: RDD[_])(body: => R): R =
    try body catch { case e: Throwable => rows.unpersist(blocking = false); throw e }

  /** What the probe saw of one partition. */
  private final case class Run(rows: Long, first: Long, last: Long, ascending: Boolean)

  /** Rows [from, until) of block `b` of a partition of `rows` rows cut
    * into `k` blocks of (nearly) equal size.
    */
  private def block(rows: Long, b: Int, k: Int): (Int, Int) =
    ((rows * b / k).toInt, (rows * (b + 1) / k).toInt)

  /** An input checkpointed by [[probe]]: its binary `rows`, each
    * partition's run, and the arrival-order summary of each of its `k`
    * blocks.
    */
  private final class Probe[T, S](in: Dataset[T], val rows: RDD[InternalRow], val k: Int,
                                  val runs: Vector[Run], val sums: Vector[Vector[S]]) {
    /** The non-empty partitions in seq order, if their seqs strictly
      * ascend and their [first, last] ranges are disjoint.
      */
    val order: Option[Vector[Int]] = {
      val live = runs.indices.filter(runs(_).rows > 0).sortBy(runs(_).first).toVector
      val runsHold = live.forall(runs(_).ascending) &&
        live.zip(live.drop(1)).forall { case (a, b) => runs(a).last < runs(b).first }
      if (runsHold) Some(live) else None
    }

    /** (rows, first seq, last seq) of the whole input, if the runs hold. */
    def span: Option[(Long, Long, Long)] = order.map { o =>
      if (o.isEmpty) (0L, 0L, -1L)
      else (runs.map(_.rows).sum, runs(o.head).first, runs(o.last).last)
    }

    /** The checkpointed rows as a Dataset (nothing upstream reruns). */
    def dataset: Dataset[T] = GraftRowBridge.restore(rows, in)

    /** The checkpointed rows cut into their blocks, block b of partition i
      * at index b * partitions + i (no shuffle: each reads its slice of
      * the stored partition).
      */
    def blocks: RDD[InternalRow] = {
      val (counts, k) = (runs.map(_.rows), this.k)
      if (k == 1) rows
      else rows.sparkContext.union((0 until k).map { b =>
        rows.mapPartitionsWithIndex { (i, it) =>
          val (from, until) = block(counts(i), b, k)
          it.slice(from, until)
        }
      })
    }
  }

  /** One job: checkpoints `in`'s rows (unless `store` is off: then the
    * probe's `rows` are not stored, only its runs and summaries are kept)
    * and records each partition's run and the `summary` of each of its k
    * blocks (over the binary rows in arrival order), k the fewest that
    * make `width` blocks in all. A null seq, or a seq column that is not
    * a Long, counts as not ascending.
    */
  private def probe[T, S](in: Dataset[T], width: Int, store: Boolean = true)(
      summary: Iterator[InternalRow] => S): Probe[T, S] = {
    val bin = GraftRowBridge.binary(in)
    val rows = if (store) Materialize.checkpoint(in.sparkSession, bin) else bin
    val parts = math.max(1, rows.getNumPartitions) // an empty input may have none
    val k = math.max(1, (width + parts - 1) / parts)
    val seqAt = in.schema.fields.indexWhere(f => f.name == "seq" && f.dataType == LongType)
    val seen = storing(rows)(summaries(rows) { it =>
      var n, first, last = 0L
      var ascending = seqAt >= 0
      val tracked = it.map { r =>
        if (ascending) {
          if (r.isNullAt(seqAt)) ascending = false
          else {
            val s = r.getLong(seqAt)
            if (n == 0) first = s else if (s <= last) ascending = false
            last = s
          }
        }
        n += 1
        r
      }
      val sums =
        if (k == 1) {
          val s = summary(tracked)
          tracked.foreach(_ => ()) // a summary that stops early still counts every row
          Vector(s)
        } else {
          // the stored partition, by reference: its size sets the blocks
          val all = tracked.toArray
          Vector.tabulate(k) { b =>
            val (from, until) = block(all.length, b, k)
            summary(all.iterator.slice(from, until))
          }
        }
      (Run(n, first, last, ascending), sums)
    })
    new Probe(in, rows, k, seen.map(_._1).toVector, seen.map(_._2).toVector)
  }

  /** The per-partition summaries of a seq-ordered stream, in seq order,
    * for sinks that merge them on the driver and need no second pass.
    * Sorted runs need only the probe's one job, so it stores nothing;
    * otherwise `in` itself is range-sorted and summarised again.
    */
  def partials[A, S](in: Dataset[Elem[A]])(summary: Iterator[Elem[A]] => S): List[S] = {
    val decode = GraftRowBridge.decoder(in)
    val p = probe(in, 1, store = false)(it => summary(it.map(decode)))
    p.order match {
      case Some(order) => order.map(p.sums(_).head).toList
      case None => summaries(GraftRowBridge.binary(sorted(in)))(it => summary(it.map(decode)))
    }
  }

  /** `in` checkpointed (nothing upstream reruns) and its row count, in
    * the one job that stores it.
    */
  def counted[T](in: Dataset[T]): (Dataset[T], Long) = {
    val p = probe(in, 1)(_ => ())
    (p.dataset, p.runs.map(_.rows).sum)
  }

  /** A seq-ordered stream checkpointed (nothing upstream reruns), plus its
    * (rows, first seq, last seq) when it arrived as ascending, disjoint
    * runs — which proves its seqs distinct.
    */
  def seqRuns[A](in: Dataset[Elem[A]]): (Dataset[Elem[A]], Option[(Long, Long, Long)]) = {
    val p = probe(in, 1)(_ => ())
    (p.dataset, p.span)
  }

  /** The finish pass, lazily: `finish(carries(i), partition i)` over the
    * broadcast carries, rebuilt with `build`.
    * When the consumer's action over it fails, Spark keeps that plan, and
    * so the kernel's checkpoint, reachable until another action fails
    * (CrossPartitionSpec's "a failing step or row function leaves no
    * sorted copy cached" orders its cases around this).
    */
  private def finished[S, U: ClassTag, R](rows: RDD[InternalRow], carries: Vector[S],
                                          build: RDD[U] => R)(
      finish: (S, Iterator[InternalRow]) => Iterator[U]): R = {
    val bCarries = rows.sparkContext.broadcast(carries)
    build(rows.mapPartitionsWithIndex((i, it) => finish(bCarries.value(i), it)))
  }

  /** The carry kernel, over `in`'s rows in Spark's binary form (the
    * typed shapes decode them). Orders `in` by seq ([[probe]] first) or, given
    * `sortBy`, range-sorts it by those columns into that many partitions
    * (0: the session's shuffle partitions, as below); collects `summary`
    * of each partition in order; turns the summaries into carries,
    * `carry(i)` = `zero` combined with the summaries of the partitions
    * before i; returns the lazy finish pass and the global result (every
    * summary combined).
    *
    * Sorted runs keep their partitions, each cut into blocks when there
    * are fewer partitions than the session's shuffle partitions, so the
    * finish pass runs as wide as a range sort would (an empty partition's
    * blocks get `zero`).
    */
  private def carryPass[T, S, U: ClassTag, R](in: Dataset[T], sortBy: Option[(Seq[Column], Int)],
                                              build: RDD[U] => R)(
      summary: Iterator[InternalRow] => S, zero: S, combine: (S, S) => S)(
      finish: (S, Iterator[InternalRow]) => Iterator[U]): (R, S) = {
    def sortedPass(ds: Dataset[T], by: Seq[Column], parts: Int): (R, S) = {
      val rows = Materialize.checkpoint(ds.sparkSession,
        GraftRowBridge.binary(sortedBy(ds, by, parts)))
      val carries = storing(rows)(summaries(rows)(summary)).scanLeft(zero)(combine).toVector
      (finished(rows, carries, build)(finish), carries.last)
    }
    sortBy match {
      case Some((by, parts)) => sortedPass(in, by, parts)
      case None =>
        val p = probe(in, in.sparkSession.sessionState.conf.numShufflePartitions)(summary)
        val parts = p.rows.getNumPartitions
        p.order match {
          case Some(order) =>
            val blocks = order.flatMap(i => (0 until p.k).map(b => (b * parts + i, p.sums(i)(b))))
            val prefix = blocks.map(_._2).scanLeft(zero)(combine)
            val at = blocks.map(_._1).zip(prefix).toMap
            val carries = (0 until p.k * parts).map(at.getOrElse(_, zero)).toVector
            (finished(p.blocks, carries, build)(finish), prefix.last)
          case None =>
            // the sorted copy's checkpoint cuts its lineage to the probe's
            try sortedPass(p.dataset, Seq(col("seq")), 0) finally p.rows.unpersist(blocking = false)
        }
    }
  }

  /** Prefix-combine: emit `emit(t, acc)` after folding each `t` into the
    * running accumulator. Requires `combine` to be the monoid-homomorphism
    * merge of `step` (fold(xs ++ ys) == combine(fold(xs), fold(ys))).
    * `sortBy` as in [[carryPass]]: None for a seq-ordered input.
    */
  def scanFold[T, B, U: ClassTag](in: Dataset[T], sortBy: Option[(Seq[Column], Int)],
                                  build: RDD[U] => Dataset[U])(
      zero: B, step: (B, T) => B, combine: (B, B) => B)(emit: (T, B) => U): Dataset[U] = {
    val decode = GraftRowBridge.decoder(in)
    carryPass(in, sortBy, build)(_.map(decode).foldLeft(zero)(step), zero, combine) { (carry, it) =>
      var acc = carry
      it.map { r => val t = decode(r); acc = step(acc, t); emit(t, acc) }
    }._1
  }

  /** [[scanFold]] over a seq-ordered input's binary rows, read in place;
    * `emit` is made once per partition, so it may hold per-task buffers.
    */
  def scanRows[B, U: ClassTag, R](in: Dataset[_], build: RDD[U] => R)(
      zero: B, step: (B, InternalRow) => B, combine: (B, B) => B)(
      emit: () => (InternalRow, B) => U): R =
    carryPass(in, None, build)(_.foldLeft(zero)(step), zero, combine) { (carry, it) =>
      val out = emit()
      var acc = carry
      it.map { r => acc = step(acc, r); out(r, acc) }
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
    val decode = GraftRowBridge.decoder(in)
    // valid because each partition's tail keeps at least the suffix the
    // next partitions need
    carryPass(in, None, build)(
      it => lastN(it.map(decode)), Nil, (a: List[T], b: List[T]) => (a ++ b).takeRight(tailN))(
      (carry, it) => f(carry, it.map(decode)))
  }

  /** Running fold with mergeable accumulators: emits the accumulator after
    * every element (conduino `scan`, reference `Combinators.hs:362-371`).
    */
  def scanCombine[A, B: TypeTag](in: Dataset[Elem[A]], zero: B,
                                 step: (B, A) => B,
                                 combine: (B, B) => B): Dataset[Elem[B]] =
    scanFold[Elem[A], B, Elem[B]](in, None,
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
