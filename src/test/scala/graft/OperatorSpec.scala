package graft

import graft.core._

/** Operator semantics vs the Scala-collections oracle (SURVEY.md §5.2) —
  * pseudo-random inputs with fixed seeds stand in for scalacheck
  * generators (deterministic, reproducible).
  */
class OperatorSpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)
  private val xs: List[Int] = List.fill(200)(rnd.nextInt(1000) - 500)
  private def src(ys: Seq[Int] = xs): SStream[Int] = Sources.fromSeq(spark, ys)
  private def run[B](s: SStream[B]): List[B] = s.into(Sinks.sinkList[B])

  test("map == xs.map") {
    assert(run(src() |> Pipes.map[Int, Int](_ * 3 + 1)) == xs.map(_ * 3 + 1))
  }

  test("mapM/iterM pass values through") {
    assert(run(src() |> Pipes.mapM[Int, Int](_ + 7)) == xs.map(_ + 7))
    assert(run(src() |> Pipes.iterM[Int](_ => ())) == xs)
  }

  test("filter == xs.filter") {
    assert(run(src() |> Pipes.filter[Int](_ % 3 == 0)) == xs.filter(_ % 3 == 0))
  }

  test("concatMap == xs.flatMap, order preserved") {
    val f = (x: Int) => Seq(x, x * 2, x * 3).take(math.abs(x) % 4)
    assert(run(src() |> Pipes.concatMap[Int, Int](f)) == xs.flatMap(f))
  }

  test("concatAll flattens a stream of seqs in order") {
    val seqs = List(Seq(1, 2), Seq.empty[Int], Seq(3), Seq(4, 5, 6))
    val s = Sources.fromSeq(spark, seqs)
    assert(run(s |> Pipes.concatAll[Int]) == List(1, 2, 3, 4, 5, 6))
  }

  test("mapInput / mapOutput compose around a pipe") {
    val p = Pipes.mapInput[Int, Int, Int](_ + 1)(Pipes.map[Int, Int](_ * 2))
    assert(run(src() |> p) == xs.map(x => (x + 1) * 2))
    val q = Pipes.mapOutput[Int, Int, Int](Pipes.map[Int, Int](_ * 2))(_ - 1)
    assert(run(src() |> q) == xs.map(x => x * 2 - 1))
  }

  test("take/drop == xs.take/xs.drop (incl. oversize n)") {
    for (n <- Seq(0L, 1L, 17L, 200L, 5000L)) {
      assert(run(src() |> Pipes.take[Int](n)) == xs.take(n.toInt), s"take $n")
      assert(run(src() |> Pipes.suffixAfter(Pipes.drop[Int](n))) == xs.drop(n.toInt), s"drop $n")
    }
  }

  test("takeWhile/dropWhile == list ops") {
    val p = (x: Int) => x != 0 // first zero cuts; xs has zeros rarely — use custom input
    val ys = List(5, 3, 8, 0, 2, 9, 0, 1)
    assert(run(src(ys) |> Pipes.takeWhile[Int](p)) == ys.takeWhile(p))
    // reference dropWhile CONSUMES the first failing element
    // (Combinators.hs:544-546): the suffix starts strictly after it
    assert(run(src(ys) |> Pipes.suffixAfter(Pipes.dropWhile[Int](p))) == ys.dropWhile(p).drop(1))
    // predicate never fails => whole stream / empty suffix
    assert(run(src(ys) |> Pipes.takeWhile[Int](_ => true)) == ys)
    assert(run(src(ys) |> Pipes.suffixAfter(Pipes.dropWhile[Int](_ => true))) == Nil)
  }

  test("mapAccum threads state in order") {
    // running max with index tag
    val got = run(src() |> Pipes.mapAccum[Int, Int, (Int, Int)](Int.MinValue) {
      (x, s) => val m = math.max(s, x); (m, (x, m))
    })
    val expect = xs.scanLeft((Int.MinValue, (0, 0))) { case ((s, _), x) =>
      val m = math.max(s, x); (m, (x, m))
    }.tail.map(_._2)
    assert(got == expect)
  }

  test("foldl general and combine paths agree with xs.foldLeft") {
    assert(src().into(Sinks.foldl(0)((b: Int, a: Int) => b + a)) == xs.sum)
    assert(src().into(Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _)) == xs.sum)
  }

  test("foldr == xs.foldRight") {
    val got = src().into(Sinks.foldr(List.empty[Int])((a: Int, b: List[Int]) => a :: b))
    assert(got == xs)
  }

  test("fold monoid == xs.sum; head/last/count") {
    assert(src().into(Sinks.fold(0)(_ + _)) == xs.sum)
    assert(src().into(Sinks.head[Int]) == xs.headOption)
    assert(src().into(Sinks.last[Int]) == xs.lastOption)
    assert(src().into(Sinks.count[Int]) == xs.length)
    assert(src(Nil).into(Sinks.head[Int]).isEmpty)
    assert(src(Nil).into(Sinks.last[Int]).isEmpty)
  }

  test("iterateJump == sequential iterate (affine LCG), generated across partitions") {
    val (a, c, m) = (1103515245L, 12345L, 2147483648L)
    val f = (x: Long) => (a * x + c) % m
    val n = 1000
    val jumped = Sources.iterateJump[Long](spark, f, 42L, n,
      Sources.affineJump(a, c, m), numSlices = 8)
    // leapfrog output == the driver-sequential reference, element for element
    val expected = Iterator.iterate(42L)(f).drop(1).take(n).toList
    assert(jumped.into(Sinks.sinkList) == expected)
    // and the generation is genuinely distributed (no driver collect)
    assert(jumped.ds.rdd.getNumPartitions == 8)
    // jump identity: f^k(x0) computed by jump == k sequential applications
    val jf = Sources.affineJump(a, c, m)
    assert(jf(42L, 137L) == Iterator.iterate(42L)(f).drop(137).next())
  }

  test("zipSources == xs.zip(ys), ends at shorter") {
    val ys = List.fill(120)(rnd.nextInt(100))
    val got = Compose.zipSources(src(), Sources.fromSeq(spark, ys))
      .into(Sinks.sinkList)
    assert(got == xs.zip(ys))
  }

  test("concatSources == xs ++ ys, ordered") {
    val ys = List(900, 901, 902)
    val got = run(Compose.concatSources(src(), Sources.fromSeq(spark, ys)))
    assert(got == xs ++ ys)
  }

  test("zipSourcesWith (ZipSource applicative liftA2) combines positionally, ends at shorter") {
    val xs = Seq(1L, 2L, 3L, 4L)
    val ys = Seq(10L, 20L, 30L)
    val got = Compose.zipSourcesWith(
      Sources.fromSeq(spark, xs), Sources.fromSeq(spark, ys))((a, b) => a * 100 + b)
      .into(Sinks.sinkList)
    assert(got == List(110L, 220L, 330L))
  }

  test("zipSourcesWith with an empty side is empty; foldrCombine of empty stream is zero") {
    val e = Sources.fromSeq(spark, Seq.empty[Long])
    val xs = Sources.fromSeq(spark, Seq(1L, 2L))
    assert(Compose.zipSourcesWith(e, xs)((a, b) => a + b).into(Sinks.count) == 0)
    assert(Compose.zipSourcesWith(xs, e)((a, b) => a + b).into(Sinks.count) == 0)
    assert(e.into(Sinks.foldrCombine("z")((x: Long, acc: String) => x + acc)((a, b) => b + a)) == "z")
  }

  test("stdout/stderr sinks print elements in seq order") {
    val outB = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outB)) {
      Sources.fromSeq(spark, Seq(1, 2, 3)).into(Sinks.stdout)
    }
    assert(outB.toString.linesIterator.toList == List("1", "2", "3"))
    val errB = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(errB))
    try Sources.fromSeq(spark, Seq(4, 5)).into(Sinks.stderr)
    finally System.setErr(old)
    assert(errB.toString.linesIterator.toList == List("4", "5"))
  }

  test("zipSink: two folds, one pass") {
    val (s, c) = src().into(Sinks.zip(
      Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _),
      Sinks.foldlCombine(0)((b: Int, _: Int) => b + 1)(_ + _)))
    assert(s == xs.sum && c == xs.length)
  }

  test("altSink returns the earlier-terminating sink, left-biased on ties") {
    // takeList(3) terminates before takeList(10)
    val got = src().into(Sinks.alt(Sinks.takeList[Int](10), Sinks.takeList[Int](3)))
    assert(got == xs.take(3))
    // tie: same n — left wins (same result here, asserts no crash/branch flip)
    val tie = src().into(Sinks.alt(Sinks.takeList[Int](5), Sinks.takeList[Int](5)))
    assert(tie == xs.take(5))
    // whole-stream sink loses to any early terminator
    val w = src().into(Sinks.alt(Sinks.whole(Sinks.sinkList[Int]), Sinks.takeList[Int](2)))
    assert(w == xs.take(2))
    // short stream: takeList(n > len) only finishes at EOS -> left whole wins tie
    val shortS = src(List(1, 2)).into(
      Sinks.alt(Sinks.whole(Sinks.sinkList[Int]), Sinks.takeList[Int](10)))
    assert(shortS == List(1, 2))
  }

  test("altSink with takeList(0): zero-need sink wins instantly with []") {
    val got = src().into(Sinks.alt(Sinks.takeList[Int](0), Sinks.takeList[Int](5)))
    assert(got == Nil)
    val got2 = src().into(Sinks.alt(Sinks.whole(Sinks.sinkList[Int]), Sinks.takeList[Int](0)))
    assert(got2 == Nil)
  }

  test("fuseBoth / fuseUpstream / fuseBothMaybe") {
    val sum = Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _)
    val (down, up) = Compose.fuseBoth(Pipes.map[Int, Int](_ * 2), Sinks.count[Int], sum)(src())
    assert(down == xs.map(_ * 2).sum && up == xs.length)
    val ru = Compose.fuseUpstream(Pipes.map[Int, Int](_ * 2), Sinks.count[Int], sum)(src())
    assert(ru == xs.length)
    // drained: id prefix-pipe that consumes everything
    val (d2, u2) = Compose.fuseBothMaybe(Pipes.takeWhile[Int](_ => true), Sinks.count[Int], sum)(src())
    assert(d2 == xs.sum && u2.contains(xs.length))
    // not drained: take cuts early
    val (d3, u3) = Compose.fuseBothMaybe(Pipes.take[Int](5), Sinks.count[Int], sum)(src())
    assert(d3 == xs.take(5).sum && u3.isEmpty)
  }

  test("uncons pops the first element") {
    val (h, rest) = Compose.uncons(src(List(7, 8, 9)))
    assert(h.contains(7) && run(rest) == List(8, 9))
    val (h0, rest0) = Compose.uncons(src(Nil))
    assert(h0.isEmpty && run(rest0).isEmpty)
  }

  test("passthrough pairs outputs with provenance inputs") {
    val got = run(Pipes.passthrough[Int, Int](Pipes.map[Int, Int](_ * 2)).apply(src(List(3, 5, 8))))
    assert(got == List((Some(3), 6), (Some(5), 10), (Some(8), 16)))
  }

  test("feedbackPipe: ≥5 rounds, round-major order, correct contents") {
    // halve positives: 16 -> 8 -> 4 -> 2 -> 1 (stops when empty)
    val p = Pipes.map[Int, Int](_ / 2) |> Pipes.filter[Int](_ > 0)
    val got = run(Compose.feedbackPipe(p, maxRounds = 50)(src(List(16, 17))))
    assert(got == List(8, 8, 4, 4, 2, 2, 1, 1))
  }

  test("feedbackPipe: a pipe with a local form runs its later rounds on the driver") {
    val p = Pipes.map[Long, Long](_ / 2) |> Pipes.filter[Long](_ > 0)
    def loop(start: Long): (List[Long], Int) = counted(
      Compose.feedbackPipe(p, maxRounds = 50)(Sources.fromSeq(spark, Seq(start))).into(Sinks.sinkList))
    val (three, jobs3) = loop(8L)
    val (eight, jobs8) = loop(256L)
    assert(three == List(4L, 2L, 1L) && eight == (7 to 0 by -1).map(1L << _).toList)
    // only the first round (over the uncollected input) and the sink run jobs
    assert(jobs3 == jobs8, s"3 rounds: $jobs3 jobs, 8 rounds: $jobs8 jobs")
  }

  test("feedbackPipe: driver rounds return what Spark rounds return") {
    // mapM has no local form, so its loop runs every round as Spark jobs
    def same[A: scala.reflect.runtime.universe.TypeTag](start: Seq[A], f: A => A, keep: A => Boolean): List[A] = {
      def loop(step: Pipe[A, A]) = Compose.feedbackPipe(step |> Pipes.filter[A](keep),
        maxRounds = 6)(Sources.fromSeq(spark, start)).into(Sinks.sinkList)
      val onDriver = loop(Pipes.map[A, A](f))
      assert(onDriver == loop(Pipes.mapM[A, A](f)))
      onDriver
    }
    assert(same[Long](Seq(81L, 100L), _ / 3, _ > 0) ==
      List(27L, 33L, 9L, 11L, 3L, 3L, 1L, 1L))
    // the encoder stores BigDecimal as decimal(38,18): the step reads the
    // scale, so a driver round that skipped the encoder would diverge
    val ds = same[BigDecimal](Seq(BigDecimal("81.5"), BigDecimal(100)), x => x / 3 + x.scale, _ > 0)
    assert(ds.length == 12 && ds.forall(_.scale == 18), ds)
  }

  test("feedbackPipe: a round too large to collect stays in Spark, smaller rounds return to the driver") {
    // round 1 yields 70,001 elements (over the 65,536 collect bound), round 2 one
    val start = Vector.fill(70000)(2L) :+ 5L
    val p = Pipes.map[Long, Long](_ - 1) |> Pipes.filter[Long](_ > 0)
    val got = Compose.feedbackPipe(p, maxRounds = 50)(Sources.fromSeq(spark, start)).into(Sinks.sinkList)
    assert(got == List.fill(70000)(1L) ++ List(4L, 3L, 2L, 1L))
  }

  test("dense re-ranks sparse ordinals") {
    val sparse = src(List(10, 20, 30)) |> Pipes.concatMap[Int, Int](x => Seq(x, x + 1))
    val got = run(Compose.dense(sparse))
    assert(got == List(10, 11, 20, 21, 30, 31))
  }

  test("replicate and iterate sources") {
    assert(run(Sources.replicate(spark, 5, "a")) == List.fill(5)("a"))
    assert(run(Sources.iterateMaybe(spark, (x: Int) => if (x < 5) Some(x + 1) else None, 0))
      == List(1, 2, 3, 4, 5))
    val (s2, r) = Sources.iterateEither(spark,
      (x: Int) => if (x < 3) Right(x + 1) else Left("done"), 0)
    assert(run(s2) == List(1, 2, 3) && r == "done")
  }

  test("composition laws: |> associativity and map fusion") {
    val p = Pipes.map[Int, Int](_ + 1)
    val q = Pipes.filter[Int](_ % 2 == 0)
    val r = Pipes.map[Int, Int](_ * 3)
    assert(run(src() |> ((p |> q) |> r)) == run(src() |> (p |> (q |> r))))
    val fused = run(src() |> Pipes.map[Int, Int](x => (x + 1) * 2))
    assert(run(src() |> (Pipes.map[Int, Int](_ + 1) |> Pipes.map[Int, Int](_ * 2))) == fused)
  }

  test("unfold family") {
    assert(run(Sources.unfold(spark, (s: Int) => (s * 2, s + 1), 1, 5)) == List(2, 4, 6, 8, 10))
    assert(run(Sources.unfoldMaybe(spark,
      (s: Int) => if (s <= 3) Some((s * 10, s + 1)) else None, 1)) == List(10, 20, 30))
    val (st, res) = Sources.unfoldEither(spark,
      (s: Int) => if (s <= 2) Right((s, s + 1)) else Left(s * 100), 1)
    assert(run(st) == List(1, 2) && res == 300)
  }

  test("unfoldSegmented: distributed general recurrence equals the driver-side unfold") {
    // logistic-map-ish NONLINEAR integer recurrence: no closed form, no
    // affine jump — only segment replay can distribute it
    val f = (s: Long) => { val n = (s * s + 7L) % 1000003L; (n, n) }
    val expected = run(Sources.unfold(spark, f, 2L, 257))
    // segment counts that do and don't divide n, incl. degenerate 1 and
    // more segments than elements
    Seq(1, 4, 32, 300).foreach { segs =>
      val got = Sources.unfoldSegmented(spark, f, 2L, 257, segments = segs)
      assert(run(got) == expected, s"segments=$segs diverged")
      // seqs are the dense 0..n-1 ordinals regardless of segmentation
      val seqs = got.ds.collect().map(_.seq).sorted.toList
      assert(seqs == (0L until 257L).toList, s"segments=$segs seqs not dense")
    }
    // n smaller than one segment's length and n=0
    assert(run(Sources.unfoldSegmented(spark, f, 2L, 3, segments = 32)) ==
      run(Sources.unfold(spark, f, 2L, 3)))
    assert(run(Sources.unfoldSegmented(spark, f, 2L, 0, segments = 8)) == Nil)
    // the generation is genuinely distributed: more than one partition
    // holds rows when segments > 1
    val parts = Sources.unfoldSegmented(spark, f, 2L, 1000, segments = 8)
      .ds.rdd.mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(parts > 1, s"only $parts non-empty partitions — not distributed")
  }

  test("fileChunks: fixed-size chunking covers the length boundaries") {
    val dir = graft.core.Scratch.fresh("chunks")
    def stage(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    def chunks(path: String, size: Int): List[List[Byte]] =
      Sources.fileChunks(spark, path, size).into(Sinks.sinkList[Array[Byte]])
        .map(_.toList)
    // partial last chunk: 10 bytes / 4 → 4,4,2
    val ten = Array.tabulate(10)(_.toByte)
    assert(chunks(stage("ten.bin", ten), 4) ==
      List(ten.slice(0, 4).toList, ten.slice(4, 8).toList, ten.slice(8, 10).toList))
    // exact multiple: 8 bytes / 4 → 4,4 (no trailing empty chunk)
    assert(chunks(stage("eight.bin", ten.take(8)), 4) ==
      List(ten.slice(0, 4).toList, ten.slice(4, 8).toList))
    // single byte, chunk larger than file → one 1-byte chunk
    assert(chunks(stage("one.bin", Array(7.toByte)), 4) == List(List(7.toByte)))
    // empty file → no rows
    assert(chunks(stage("empty.bin", Array.empty[Byte]), 4) == Nil)
  }

  test("runPipe / runPipePure named runners agree with sink application (Conduino.hs:210-221)") {
    val src = Sources.fromSeq(spark, (1 to 5))
    val doubled = Pipes.map[Int, Int](_ * 2)
    assert(Runner.runPipe(src, Sinks.sinkList[Int]) == List(1, 2, 3, 4, 5))
    assert(Runner.runPipe(src, doubled, Sinks.sinkList[Int]) == List(2, 4, 6, 8, 10))
    assert(Runner.runPipePure(src, doubled, Sinks.sinkList[Int]) ==
      Runner.runPipe(src, doubled, Sinks.sinkList[Int]))
    assert(Runner.runPipePure(src, Sinks.foldl(0)((b: Int, a: Int) => b + a)) == 15)
  }
}
