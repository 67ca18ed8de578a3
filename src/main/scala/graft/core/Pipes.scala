package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql._
import org.apache.spark.sql.functions._

/** A pipe that terminates on its own after consuming a prefix of the
  * stream (conduino `take`/`takeWhile`/`drop`/`dropWhile`, reference
  * `src/Data/Conduino/Combinators.hs:423-440,528-547`). Its termination
  * point is first-class so that monadic sequencing (`p >> q`, reference
  * `src/Data/Conduino/Internal.hs:124-140`; doc example
  * `Combinators.hs:417-422`) can hand the *remainder* of the stream to a
  * following pipe.
  *
  * `cut(in)` is a lazy 1-row DataFrame with column `cut: Long` — the seq of
  * the last element this pipe CONSUMES (Long.MaxValue if it would consume
  * to end-of-stream). Kept as a plan, not a driver value, so the composed
  * query stays a single Catalyst plan (the 1-row side is broadcast).
  */
trait PrefixPipe[A, B] extends Pipe[A, B] { self =>
  def cut(in: SStream[A]): DataFrame

  /** Compose with a downstream pipe while keeping the termination point
    * (`(take 3 .| map (*2))` is still a terminating pipe).
    */
  def thenPipe[C](r: Pipe[B, C]): PrefixPipe[A, C] = new PrefixPipe[A, C] {
    def cut(in: SStream[A]): DataFrame = self.cut(in)
    def apply(in: SStream[A]): SStream[C] = r(self(in))
  }

  /** Monadic sequencing `self >> q`: run this pipe over the stream until it
    * terminates, then hand the REST of the stream (elements after the cut,
    * exclusive — the cut element is consumed) to `q`. Outputs are the
    * concatenation, order preserved (reference doc examples
    * `Combinators.hs:417-422` → [2,4,6,-4,-5,-6,-7,-8] and
    * `Combinators.hs:525-527` → drop 3 >> sinkList == [4..8]).
    *
    * Order across the two branches is enforced by shifting the post
    * branch's ordinals past the pre branch's maximum (a lazy 1-row
    * broadcast aggregate, `Compose.concatSources`) — safe under arbitrary
    * nesting, unlike any fixed high-bit tag (which a nested andThen would
    * clobber).
    */
  def andThen(q: Pipe[A, B])(implicit tt: TypeTag[A], tb: TypeTag[B]): Pipe[A, B] =
    new Pipe[A, B] {
      def apply(in: SStream[A]): SStream[B] = {
        implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
        // the 1-row cut feeds both branches: materialize it once instead
        // of embedding two copies of the cut scan in the plan
        val c = Materialize.checkpoint(self.cut(in))
        val pre = SStream(in.ds.toDF().crossJoin(broadcast(c))
          .where(col("seq") <= col("cut")).select(col("seq"), col("value"))
          .as[Elem[A]])
        val post = SStream(in.ds.toDF().crossJoin(broadcast(c))
          .where(col("seq") > col("cut")).select(col("seq"), col("value"))
          .as[Elem[A]])
        Compose.concatSources(self(pre), q(post))
      }
    }
}

/** The reference's transform combinators as Spark-native pipes.
  * Closure-based (host-language `i -> o`, exactly the reference's model,
  * reference `README.md:62-97`); the columnar/Catalyst-optimized
  * equivalents used by the harness queries live in `graft.operators`.
  */
object Pipes {

  /** map (reference `Combinators.hs:324-326`). */
  def map[A, B: TypeTag](f: A => B): Pipe[A, B] = new Pipe[A, B] {
    def apply(in: SStream[A]): SStream[B] = {
      implicit val e: Encoder[Elem[B]] = Elem.enc[B]
      SStream(in.ds.map(x => Elem(x.seq, f(x.value))))
    }
    override def local: Option[Elem[A] => Iterator[Elem[B]]] =
      Some(x => Iterator.single(Elem(x.seq, f(x.value))))
  }

  /** mapM (reference `Combinators.hs:329-331`): effectful projection; the
    * effect runs task-side. Semantic relaxation vs the reference: Spark may
    * re-run effects on task retry/recomputation (SURVEY.md §3.4).
    */
  def mapM[A, B: TypeTag](f: A => B): Pipe[A, B] = new Pipe[A, B] {
    def apply(in: SStream[A]): SStream[B] = {
      implicit val e: Encoder[Elem[B]] = Elem.enc[B]
      SStream(in.ds.mapPartitions(_.map(x => Elem(x.seq, f(x.value)))))
    }
  }

  /** iterM (reference `Combinators.hs:337-339`): run an effect per element,
    * pass the element through unchanged.
    */
  def iterM[A: TypeTag](eff: A => Unit): Pipe[A, A] =
    mapM[A, A] { a => eff(a); a }

  /** filter (reference `Combinators.hs:443-447`). */
  def filter[A](p: A => Boolean): Pipe[A, A] = new Pipe[A, A] {
    def apply(in: SStream[A]): SStream[A] =
      SStream(in.ds.filter((e: Elem[A]) => p(e.value)))
    override def local: Option[Elem[A] => Iterator[Elem[A]]] =
      Some(e => if (p(e.value)) Iterator.single(e) else Iterator.empty)
  }

  /** Number of low bits reserved for concatMap sub-ordinals. */
  val SubSeqBits = 20

  /** concatMap (reference `Combinators.hs:451-456`): map to a collection,
    * flatten in order. New ordinals pack the parent seq with the intra-
    * collection index: seq' = (seq << 20) | idx — order-preserving with no
    * extra shuffle. Collections larger than 2^20 elements fail fast (use
    * the columnar explode operator for unbounded fan-out).
    */
  def concatMap[A, B: TypeTag](f: A => IterableOnce[B]): Pipe[A, B] = {
    val spread: Elem[A] => Iterator[Elem[B]] = { x =>
      require(x.seq >= 0 && x.seq < (1L << (62 - SubSeqBits)),
        s"concatMap: seq ${x.seq} out of packable range")
      f(x.value).iterator.zipWithIndex.map { case (b, i) =>
        require(i < (1 << SubSeqBits), "concatMap: >2^20 outputs for one input")
        Elem((x.seq << SubSeqBits) | i.toLong, b)
      }
    }
    new Pipe[A, B] {
      def apply(in: SStream[A]): SStream[B] = {
        implicit val e: Encoder[Elem[B]] = Elem.enc[B]
        SStream(in.ds.flatMap(spread))
      }
      override def local: Option[Elem[A] => Iterator[Elem[B]]] = Some(spread)
    }
  }

  /** concat (reference `Combinators.hs:460-462`): flatten a stream of
    * collections.
    */
  def concatAll[A: TypeTag]: Pipe[Seq[A], A] = concatMap[Seq[A], A](identity)

  /** mapInput (contramap, reference `Internal.hs:242-244`): pre-compose a
    * projection before a pipe.
    */
  def mapInput[I, J: TypeTag, O](f: I => J)(p: Pipe[J, O]): Pipe[I, O] =
    map[I, J](f) |> p

  /** mapOutput (reference `Internal.hs:249-251`): post-compose. */
  def mapOutput[I, O, P: TypeTag](p: Pipe[I, O])(f: O => P): Pipe[I, P] =
    p |> map[O, P](f)

  /** mapUpRes (reference `Internal.hs:254-256`): map the upstream-RESULT
    * type. In the batch engine, upstream results are not threaded through
    * pipes — they surface as Sink results (`Compose.fuseBoth`) — so on
    * the data path this is the identity; map the upstream sink's result
    * with `Sink.map` instead.
    */
  def mapUpRes[I, O](p: Pipe[I, O]): Pipe[I, O] = p

  /** trimapPipe (reference `Internal.hs:208-226`): contramap the input,
    * map the output (and the upstream result, a no-op here — see
    * [[mapUpRes]]) of one pipe.
    */
  def trimap[I2, I: TypeTag, O, O2: TypeTag](fin: I2 => I, fout: O => O2)(
      p: Pipe[I, O]): Pipe[I2, O2] =
    mapInput[I2, I, O](fin)(p) |> map[O, O2](fout)

  /** hoistPipe (reference `Internal.hs:233-239`): transport a pipe to a
    * different effect context — here, re-bind the stream to another
    * SparkSession (e.g. `spark.newSession()` with different conf). The
    * logical data is unchanged; the plan continues in the target session.
    */
  def hoist[A: TypeTag](to: org.apache.spark.sql.SparkSession): Pipe[A, A] =
    new Pipe[A, A] {
      def apply(in: SStream[A]): SStream[A] = {
        implicit val e: Encoder[Elem[A]] = Elem.enc[A]
        SStream(to.createDataset(in.ds.rdd))
      }
    }

  // ----- ordered stateful (reference Combinators.hs:344-410) -----

  /** scan (reference `Combinators.hs:362-371`): running left fold, yielding
    * every accumulator. This overload is the SCALE path: `combine` must
    * merge accumulators (fold(xs++ys) == combine(fold xs, fold ys));
    * executed as a distributed prefix-combine (see OrderedExec).
    */
  def scanCombine[A, B: TypeTag](zero: B)(step: (B, A) => B)(combine: (B, B) => B): Pipe[A, B] =
    new Pipe[A, B] {
      def apply(in: SStream[A]): SStream[B] =
        SStream(OrderedExec.scanCombine(in.ds, zero, step, combine))
    }

  /** scan for arbitrary (non-mergeable) fold functions: sequential, single
    * sorted partition — correct for any closure, for modest streams.
    */
  def scan[A, B: TypeTag](zero: B)(step: (B, A) => B): Pipe[A, B] = new Pipe[A, B] {
    def apply(in: SStream[A]): SStream[B] =
      SStream(OrderedExec.mapOrderedSequential(in.ds) { it =>
        var acc = zero
        it.map { e => acc = step(acc, e.value); Elem(e.seq, acc) }
      })
  }

  /** mapAccum (reference `Combinators.hs:344-353`): stateful map — yields
    * outputs only, threads state in seq order. Arbitrary state transition ⇒
    * sequential (use scanCombine + map when the state merges).
    */
  def mapAccum[A, S, B: TypeTag](s0: S)(f: (A, S) => (S, B)): Pipe[A, B] = new Pipe[A, B] {
    def apply(in: SStream[A]): SStream[B] =
      SStream(OrderedExec.mapOrderedSequential(in.ds) { it =>
        var s = s0
        it.map { e => val (s2, b) = f(e.value, s); s = s2; Elem(e.seq, b) }
      })
  }

  /** pairs (reference `Combinators.hs:379-385`): consecutive pairs.
    * Distributed via boundary exchange (lookback 1).
    */
  def pairs[A: TypeTag]: Pipe[A, (A, A)] = new Pipe[A, (A, A)] {
    def apply(in: SStream[A]): SStream[(A, A)] = {
      val (out, _) = OrderedExec.mapWithCarry[A, (A, A)](in.ds, 1) { (carry, it) =>
        var prev: Option[Elem[A]] = carry.lastOption
        it.flatMap { e =>
          val r = prev.map(p => Elem(e.seq, (p.value, e.value)))
          prev = Some(e)
          r
        }
      }
      SStream(out)
    }
  }

  /** consecutive (reference `Combinators.hs:404-410`): for input of length
    * L yields L+1 windows — before each element the window of the previous
    * ≤n elements (starting empty), plus one final window after the last
    * element. Output seq: the element's seq for "before" windows; global
    * max+1 for the final one. Distributed via boundary exchange
    * (lookback n).
    */
  def consecutive[A: TypeTag](n: Int): Pipe[A, Seq[A]] = new Pipe[A, Seq[A]] {
    def apply(in: SStream[A]): SStream[Seq[A]] = {
      require(n >= 1, "consecutive: n must be >= 1")
      implicit val e: Encoder[Elem[Seq[A]]] = Elem.enc[Seq[A]]
      val (out, globalTail) = OrderedExec.mapWithCarry[A, Seq[A]](in.ds, n) { (carry, it) =>
        var win = carry.map(_.value).toVector.takeRight(n)
        it.map { e =>
          val r = Elem(e.seq, win: Seq[A])
          win = (win :+ e.value).takeRight(n)
          r
        }
      }
      val spark = in.spark
      val lastSeq = globalTail.lastOption.map(_.seq + 1L).getOrElse(0L)
      val finalWin = spark.createDataset(Seq(
        Elem(lastSeq, globalTail.map(_.value).takeRight(n): Seq[A])))
      SStream(out.union(finalWin))
    }
  }

  /** passthrough (reference `src/Data/Conduino.hs:409-420`): pair each
    * output of a pipe with the most recent input consumed before it. For
    * our seq-carrying pipes the provenance is the input whose seq is the
    * largest input seq ≤ the output's parent seq (concatMap packing is
    * unpacked by shifting). Restricted here to seq-preserving pipes:
    * join back on exact seq. Both sides are projected to fresh column
    * names before the join — `p(in).ds` usually shares attribute ids with
    * `in.ds` (a self-join), which Spark would otherwise reject as
    * ambiguous or silently turn into a trivially-true condition.
    */
  def passthrough[A: TypeTag, B: TypeTag](p: Pipe[A, B]): Pipe[A, (Option[A], B)] =
    new Pipe[A, (Option[A], B)] {
      def apply(in: SStream[A]): SStream[(Option[A], B)] = {
        implicit val eo: Encoder[Elem[(Option[A], B)]] = Elem.enc[(Option[A], B)]
        val outDf = p(in).ds.toDF()
          .select(col("seq").as("oseq"), col("value").as("oval"))
        val inDf = in.ds.toDF()
          .select(col("seq").as("iseq"), col("value").as("ival"))
        val j = outDf.join(inDf, col("oseq") === col("iseq"), "left_outer")
          .select(col("oseq").as("seq"),
                  struct(col("ival").as("_1"), col("oval").as("_2")).as("value"))
        SStream(j.as[Elem[(Option[A], B)]])
      }
    }

  // ----- prefix / suffix (reference Combinators.hs:423-440,528-547) -----

  /** The n-th smallest `seq` as a lazy 1-row DataFrame (column `cut`;
    * Long.MinValue when the stream is empty / n == 0). Only the 8-byte seq
    * column passes through the TakeOrderedAndProject — the payload never
    * moves; callers then broadcast the 1-row cut into a filter, so the
    * main data path stays a pruned parallel scan. For n beyond Int.MaxValue
    * (no Catalyst limit can express it) an exact driver-side binary search
    * over the seq domain finds the cut in O(log range) count jobs.
    */
  private[graft] def nthSeqCut(df: DataFrame, n: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (n <= 0) spark.range(1).select(lit(Long.MinValue).as("cut"))
    else if (n <= Int.MaxValue)
      df.select(col("seq")).orderBy(col("seq")).limit(n.toInt)
        .agg(coalesce(max(col("seq")), lit(Long.MinValue)).as("cut"))
    else {
      val total = df.count()
      val cutV: Long =
        if (total == 0) Long.MinValue
        else if (n >= total)
          df.agg(max(col("seq"))).head().getLong(0)
        else {
          // binary search the seq domain for the n-th order statistic
          val row = df.agg(min(col("seq")), max(col("seq"))).head()
          var lo = row.getLong(0); var hi = row.getLong(1)
          while (lo < hi) {
            val mid = lo + (hi - lo) / 2
            val cnt = df.filter(col("seq") <= lit(mid)).count()
            if (cnt >= n) hi = mid else lo = mid + 1
          }
          lo
        }
      Seq(cutV).toDF("cut")
    }
  }

  /** take (reference `Combinators.hs:423-426`): pass the first n, then
    * terminate. Cut-filter plan: find the n-th seq (narrow, seq column
    * only), broadcast the 1-row cut, filter — no TakeOrderedAndProject
    * over payload rows, so the plan survives huge n.
    */
  def take[A: TypeTag](n: Long): PrefixPipe[A, A] = new PrefixPipe[A, A] {
    def apply(in: SStream[A]): SStream[A] = {
      implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
      SStream(in.ds.toDF().crossJoin(broadcast(cut(in)))
        .where(col("seq") <= col("cut"))
        .select(col("seq"), col("value")).as[Elem[A]])
    }
    def cut(in: SStream[A]): DataFrame = nthSeqCut(in.ds.toDF(), n)
  }

  /** takeWhile (reference `Combinators.hs:432-440`): pass while p holds;
    * the first failing element is CONSUMED but not passed (no leftovers in
    * conduino).
    */
  def takeWhile[A: TypeTag](p: A => Boolean): PrefixPipe[A, A] = new PrefixPipe[A, A] {
    def apply(in: SStream[A]): SStream[A] = {
      implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
      val c = cut(in)
      SStream(in.ds.toDF().crossJoin(broadcast(c))
        .where(col("seq") < col("cut"))
        .select(col("seq"), col("value"))
        .as[Elem[A]])
    }
    // cut = seq of first failing element (consumed), or MaxValue
    def cut(in: SStream[A]): DataFrame =
      in.ds.filter((e: Elem[A]) => !p(e.value)).toDF()
        .agg(coalesce(min(col("seq")), lit(Long.MaxValue)).as("cut"))
  }

  /** drop (reference `Combinators.hs:528-530`): consume n, yield nothing,
    * terminate. Standalone it emits nothing; its value is `andThen`
    * (drop 3 >> rest == rest over elements 4..).
    */
  def drop[A: TypeTag](n: Long): PrefixPipe[A, A] = new PrefixPipe[A, A] {
    def apply(in: SStream[A]): SStream[A] =
      SStream(in.ds.filter(lit(false)))
    def cut(in: SStream[A]): DataFrame = nthSeqCut(in.ds.toDF(), n)
  }

  /** dropWhile (reference `Combinators.hs:537-547`): consume while p holds
    * plus the first failing element, yield nothing, terminate.
    */
  def dropWhile[A](p: A => Boolean): PrefixPipe[A, A] = new PrefixPipe[A, A] {
    def apply(in: SStream[A]): SStream[A] =
      SStream(in.ds.filter(lit(false)))
    def cut(in: SStream[A]): DataFrame =
      in.ds.filter((e: Elem[A]) => !p(e.value)).toDF()
        .agg(coalesce(min(col("seq")), lit(Long.MaxValue)).as("cut"))
  }

  /** The common `dropWhile p >> id` / `drop n >> id` reading — the suffix
    * after the cut — as a single pipe (what SQL's OFFSET expresses).
    */
  def suffixAfter[A: TypeTag](p: PrefixPipe[A, A]): Pipe[A, A] =
    p.andThen(Pipe.id[A])
}
