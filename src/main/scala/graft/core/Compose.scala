package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Multi-stream composition — the reference's "join/union layer"
  * (SURVEY.md §2.7). conduino has no keyed relational joins; its
  * multi-stream forms are positional (zip) and sequential (concat), which
  * map to Spark joins/unions on the `seq` ordinal.
  */
object Compose {

  /** Re-rank a stream to dense ordinals 0..n-1 (needed before positional
    * joins when seqs are sparse).
    *
    * ADAPTIVE: first the carry kernel's probe (`OrderedExec.seqRuns`, one
    * job that checkpoints the stream and reads each partition's seq run),
    * and only rank when the seqs are NOT already 0..n-1. Sources built
    * from keyed tables / fromSeq are usually dense and arrive as
    * ascending, disjoint runs, which prove the seqs distinct: then
    * min=0 ∧ max=n-1 decides. Otherwise one aggregate adds the exact
    * countDistinct (min=0 ∧ max=n-1 alone admits duplicate-plus-gap
    * multisets). Either way the result reads the checkpointed rows, so
    * nothing upstream runs twice.
    */
  def dense[A: TypeTag](in: SStream[A]): SStream[A] = {
    implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
    val (rows, runs) = OrderedExec.seqRuns(in.ds)
    val isDense = runs match {
      case Some((n, mn, mx)) => n == 0 || (mn == 0L && mx == n - 1)
      case None =>
        val r = rows.toDF().agg(
          count(lit(1)), coalesce(min(col("seq")), lit(0L)),
          coalesce(max(col("seq")), lit(-1L)), countDistinct(col("seq"))).head()
        val (n, mn, mx, nd) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        n == 0 || (mn == 0L && mx == n - 1 && nd == n)
    }
    if (isDense) SStream(rows)
    else {
      implicit val encEE: Encoder[Elem[Elem[A]]] = Elem.enc[Elem[A]]
      val ranked = Ordinals.zipWithOrdinal(rows, Seq(col("seq")))
      SStream(ranked.map(e => Elem(e.seq, e.value.value)))
    }
  }

  /** zipSource (reference `src/Data/Conduino.hs:512-521`): run two sources
    * in lockstep, pair their outputs positionally, end at the shorter —
    * an inner equi-join on the dense ordinal (sort-merge/shuffled-hash by
    * Catalyst; ends at the shorter side automatically).
    */
  def zipSources[A: TypeTag, B: TypeTag](sa: SStream[A], sb: SStream[B]): SStream[(A, B)] = {
    implicit val encO: Encoder[Elem[(A, B)]] = Elem.enc[(A, B)]
    val da = dense(sa).ds
    val db = dense(sb).ds
    SStream(
      da.joinWith(db, da("seq") === db("seq"), "inner")
        .map { case (x, y) => Elem(x.seq, (x.value, y.value)) })
  }

  /** ZipSource's general Applicative (reference `src/Data/Conduino.hs:
    * 507-521`): positional zip through an arbitrary combiner — liftA2,
    * which carries the whole applicative surface here: Catalyst cannot
    * encode function-VALUED datasets, so `fs <*> xs` is expressed by
    * fusing the function construction into `f` (any `<*>` chain
    * rewrites to a zipWith of the underlying data sources). Ends at the
    * shorter side exactly as the reference's lockstep pull does.
    */
  def zipSourcesWith[A: TypeTag, B: TypeTag, C: TypeTag](
      sa: SStream[A], sb: SStream[B])(f: (A, B) => C): SStream[C] = {
    implicit val encC: Encoder[Elem[C]] = Elem.enc[C]
    SStream(zipSources(sa, sb).ds.map(e => Elem(e.seq, f(e.value._1, e.value._2))))
  }

  /** ZipSource's Alternative `<|>` (reference `src/Data/Conduino.hs:
    * 491-533`): exhaust the left source, then the right — UNION ALL with
    * the right side's ordinals offset past the left's maximum. The offset
    * is a lazy 1-row aggregate broadcast into the plan (no driver action).
    */
  def concatSources[A: TypeTag](sa: SStream[A], sb: SStream[A]): SStream[A] = {
    implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
    val off = sa.ds.toDF().agg(
      (coalesce(max(col("seq")), lit(-1L)) + 1L).as("off"))
    // fail LOUDLY on a negative right-side seq (Ordinals.byExpression
    // permits sparse/negative ordinals): a negative seq would shift to
    // ≤ max(left.seq) — interleaving into, or colliding with, the left
    // side silently. In-plan raise_error keeps construction lazy
    // (concatMap fails fast the same way for its packable range).
    val shifted = sb.ds.toDF().crossJoin(broadcast(off))
      .select(
        when(col("seq") < 0,
          raise_error(lit("concatSources: right side has a negative seq — " +
            "shifted ordinals would collide with the left side")))
          .otherwise(col("seq") + col("off")).cast("long").as("seq"),
        col("value"))
      .as[Elem[A]]
    SStream(sa.ds.union(shifted))
  }

  /** fuseBoth / `&|` (reference `src/Data/Conduino.hs:342-355,386-388`):
    * run the chain and return BOTH the downstream sink's result and the
    * upstream's terminal result. The upstream result is computed by its
    * own sink over the shared (cached) upstream — one extra scan over
    * cached data, matching SURVEY §2.7's plan.
    */
  def fuseBoth[A, B, RU, RD](p: Pipe[A, B], upRes: Sink[A, RU], down: Sink[B, RD])
      (in: SStream[A]): (RD, RU) = {
    val shared = in.cache()
    // sinks materialize their result (§2.6 contract), so by here both
    // passes over the shared cache are done — release it (the pinned
    // blocks would otherwise evict working memory at scale)
    val rd = down(p(shared))
    val ru = upRes(shared)
    shared.unpersist()
    (rd, ru)
  }

  /** fuseUpstream / `|.` (reference `src/Data/Conduino.hs:372-378`):
    * run the chain for effect, keep the upstream's result only.
    */
  def fuseUpstream[A, B, RU](p: Pipe[A, B], upRes: Sink[A, RU], down: Sink[B, _])
      (in: SStream[A]): RU = fuseBoth(p, upRes, down)(in)._2

  /** fuseBothMaybe (reference `src/Data/Conduino.hs:362-367`): upstream
    * result as Some only if the upstream was fully drained. A batch
    * pipeline always drains its (finite) upstream unless the downstream is
    * a terminating PrefixPipe that cuts before end-of-stream.
    */
  def fuseBothMaybe[A: TypeTag, B, RU, RD](p: PrefixPipe[A, B], upRes: Sink[A, RU],
                                           down: Sink[B, RD])(in: SStream[A]): (RD, Option[RU]) = {
    val shared = in.cache()
    val rd = down(p(shared))
    val cut = p.cut(shared).head().getLong(0)
    val lastSeq = shared.ds.toDF()
      .agg(coalesce(max(col("seq")), lit(Long.MinValue))).head().getLong(0)
    val drained = cut == Long.MaxValue || cut >= lastSeq
    val res = (rd, if (drained) Some(upRes(shared)) else None)
    shared.unpersist() // all passes over the shared cache are complete
    res
  }

  /** unconsZipSource (reference `src/Data/Conduino.hs:596-603`): pop the
    * first element, return it plus the rest of the stream.
    */
  def uncons[A: TypeTag](in: SStream[A]): (Option[A], SStream[A]) = {
    implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
    val first = in.ds.orderBy(col("seq")).head(1).headOption
    val rest = first match {
      case Some(e) => SStream(in.ds.filter(col("seq") > lit(e.seq)))
      case None    => in
    }
    (first.map(_.value), rest)
  }

  /** withSource / genSource (reference `src/Data/Conduino.hs:570-591`):
    * consume a source with a callback, in order — the foreach-style
    * boundary out of the engine.
    */
  def foreachOrdered[A](in: SStream[A])(f: A => Unit): Unit =
    in.toLocalIterator.foreach(f)

  /** feedbackPipe (reference `src/Data/Conduino.hs:429-434`): loop a
    * pipe's output back to its own input; every output also goes
    * downstream. No Catalyst representation exists for a cyclic plan, so
    * this is a driver-side fixed-point loop (SURVEY.md §4.4); it stops
    * when a round yields nothing or maxRounds is reached.
    *
    * Driver rounds: a round whose output fits the driver is collected,
    * sorted by seq and renumbered there. Once a frontier is so held (at
    * most [[SmallFrontier]] elements) and the pipe has a per-element form
    * ([[Pipe.local]]), the next round runs on the driver over the held
    * array and starts no Spark job. Each of its outputs passes through
    * `Elem.enc`'s serializer and deserializer, so the next round sees
    * exactly the value a Spark round would (a BigDecimal comes back as
    * decimal(38,18)). A driver round whose output outgrows
    * [[OutputCollectCap]] resumes the Spark path from its frontier.
    * Larger frontiers, and pipes without a local form (mapM and iterM,
    * whose effects stay task-side), run each round as Spark jobs, the
    * rounds too large to collect checkpointed and dense-ranked. All
    * driver-held rounds leave as one local relation.
    *
    * Output ordering: ROUND-MAJOR (BFS) — all of round k's outputs before
    * round k+1's, each round re-ranked to dense ordinals and the round
    * number packed into the high bits. This is a documented deviation from
    * the reference's depth-first interleaving (`Data/Conduino.hs:429-434`):
    * a distributed engine processes a whole frontier per pass, and any
    * fixed per-round bit-shift scheme silently overflows after a few
    * rounds (the round-1 bug). Range-guarded: up to 2^22 rounds of up to
    * 2^40 elements each, fail-fast beyond.
    */
  def feedbackPipe[A: TypeTag](p: Pipe[A, A], maxRounds: Int = 100)
                              (in: SStream[A]): SStream[A] =
    feedbackPipeEither[A](Pipes.mapInput[(Boolean, A), A, A](_._2)(p), maxRounds)(in)

  /** Frontiers at or below this size are collected to the driver (and
    * run there by a pipe with a local form) instead of checkpointed and
    * dense-ranked: feedback frontiers usually shrink geometrically, so
    * most rounds of most loops stay on the driver.
    */
  private val SmallFrontier = 65536

  /** Cap on the rows one round may hold on the driver: a small input
    * does not bound the output (the pipe may fan out).
    */
  private val OutputCollectCap = 1 << 20

  private val FeedbackSeqBits = 40

  /** A round's renumbered output: held on the driver, or checkpointed
    * with its size when too large to collect.
    */
  private sealed trait Round[A] { def size: Long }
  private final case class Held[A](rows: Array[Elem[A]]) extends Round[A] {
    def size: Long = rows.length.toLong
  }
  private final case class Stored[A](ds: Dataset[Elem[A]], size: Long) extends Round[A]

  /** `out` sorted by seq and renumbered `(round << 40) | i`. */
  private def held[A](round: Long, out: Array[Elem[A]]): Round[A] =
    Held(out.sortBy(_.seq).zipWithIndex.map { case (e, i) =>
      Elem((round << FeedbackSeqBits) | i.toLong, e.value)
    })

  /** One round run by Spark over its raw output `rawOut`. `prevCount` is
    * the size of the round's input frontier (-1 when unknown). A small
    * input collects the output through limit(cap+1): one job, the pipe
    * executing inside the collect. Otherwise, or if the cap+1-th row
    * exists, one job checkpoints and counts the output, which is then
    * collected if small, else dense-ranked in place.
    */
  private def sparkRound[A: TypeTag](rawOut: Dataset[Elem[A]], round: Long, prevCount: Long)
      (implicit encA: Encoder[Elem[A]]): Round[A] = {
    def distributed(): Round[A] = {
      val (mat, cnt) = OrderedExec.counted(rawOut)
      if (cnt == 0) Held(Array.empty[Elem[A]])
      else if (cnt <= SmallFrontier) held(round, mat.collect())
      else {
        require(cnt < (1L << FeedbackSeqBits),
          s"feedbackPipe: round $round produced more than 2^$FeedbackSeqBits elements")
        Stored(Materialize.checkpoint(dense(SStream(mat)).ds
          .map(e => Elem((round << FeedbackSeqBits) | e.seq, e.value))), cnt)
      }
    }
    if (prevCount >= 0 && prevCount <= SmallFrontier) {
      // an overflowing probe re-runs the deterministic pipe on the
      // distributed path: a rare one-off on the transition
      val probe = rawOut.limit(OutputCollectCap + 1).collect()
      if (probe.length <= OutputCollectCap) held(round, probe) else distributed()
    } else distributed()
  }

  /** One round on the driver: `step` over the held `frontier` (every
    * element fed back), each output through `settle`; None when the
    * output outgrows the cap.
    */
  private def localRound[A](step: Elem[(Boolean, A)] => Iterator[Elem[A]],
                            settle: Elem[A] => Elem[A],
                            frontier: Array[Elem[A]], round: Long): Option[Round[A]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Elem[A]]
    val it = frontier.iterator.flatMap(e => step(Elem(e.seq, (false, e.value))))
    while (it.hasNext && out.length <= OutputCollectCap) out += settle(it.next())
    if (out.length > OutputCollectCap) None else Some(held(round, out.toArray))
  }

  /** `e` as a Spark round would return it: the encoder's serializer,
    * then its deserializer.
    */
  private def settler[A: TypeTag]: Elem[A] => Elem[A] = {
    val enc = ExpressionEncoder[Elem[A]]()
    val (ser, de) = (enc.createSerializer(), enc.resolveAndBind().createDeserializer())
    e => de(ser(e).copy())
  }

  /** feedbackPipeEither (reference `src/Data/Conduino.hs:445-462`): the
    * feedback loop where the pipe can distinguish upstream input from
    * fed-back input. Spark has no `Either` encoder, so the tag is a
    * Boolean: `(fromUpstream, value)` — `(true, x)` ≡ the reference's
    * `Left x` (fresh upstream), `(false, x)` ≡ `Right x` (fed back).
    * Same round-major loop, driver rounds and range guards as
    * [[feedbackPipe]].
    */
  def feedbackPipeEither[A: TypeTag](p: Pipe[(Boolean, A), A], maxRounds: Int = 100)
                                    (in: SStream[A]): SStream[A] = {
    implicit val encA: Encoder[Elem[A]] = Elem.enc[A]
    implicit val encT: Encoder[Elem[(Boolean, A)]] = Elem.enc[(Boolean, A)]
    require(maxRounds >= 1 && maxRounds < (1 << 22),
      s"feedbackPipeEither: maxRounds $maxRounds out of range [1, 2^22)")
    val spark = in.spark
    val step = p.local
    lazy val settle = settler[A]
    val kept = scala.collection.mutable.ArrayBuffer.empty[Elem[A]]
    var stored = List.empty[Dataset[Elem[A]]]
    var frontier: Round[A] = Stored(in.ds, -1L) // the input: in Spark, size unknown
    var round = 0
    while (round < maxRounds && frontier.size != 0) {
      val r = round + 1L
      def onSpark(ds: Dataset[Elem[A]], prevCount: Long): Round[A] = {
        val up = r == 1L
        sparkRound(p(SStream(ds.map(e => Elem(e.seq, (up, e.value))))).ds, r, prevCount)
      }
      frontier = frontier match {
        case Held(rows) if rows.length <= SmallFrontier && step.isDefined =>
          localRound(step.get, settle, rows, r)
            .getOrElse(onSpark(spark.createDataset(rows.toSeq), -1L))
        case Held(rows) => onSpark(spark.createDataset(rows.toSeq), rows.length.toLong)
        case Stored(ds, n) => onSpark(ds, n)
      }
      frontier match {
        case Held(rows) => kept ++= rows
        case Stored(ds, _) => stored ::= ds
      }
      round += 1
    }
    val rounds = if (kept.isEmpty) stored else spark.createDataset(kept.toSeq) :: stored
    SStream(rounds.reduceOption(_ union _).getOrElse(in.ds.filter(lit(false))))
  }
}
