package graft

import graft.core._

/** The Lift layer services (SURVEY.md §2.9): accumulator-Writer,
  * broadcast-Reader, dead-letter-Except.
  */
class LiftSpec extends SparkSpec {

  private def src(xs: Seq[Int]) = Sources.fromSeq(spark, xs)

  test("writerP: accumulator log alongside the sink result") {
    val (sum, logged) = Lift.runWriter[Int, Int](spark, a => if (a % 2 == 0) 1L else 0L)(
      Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _))(src(1 to 10))
    assert(sum == 55)
    assert(logged == 5) // five evens passed through — exact

    // the accumulator flavor is at-least-once (documented relaxation)
    val acc = spark.sparkContext.longAccumulator("w")
    (src(1 to 10) |> Lift.writerPipe[Int](acc)(_ => 1L)).into(Sinks.count)
    assert(acc.value >= 10)
  }

  test("shared caches are released: fuseBoth/fuseBothMaybe/runWriter leave no lingering cached RDD") {
    // baseline may contain checkpoint blocks from earlier tests — only
    // NON-checkpoint cached RDDs must not grow (checkpointed outputs are
    // results and are GC-reclaimed; an unreleased .cache() never is)
    def cachedNonCheckpoint: Int =
      spark.sparkContext.getPersistentRDDs.values.count(r => !r.isCheckpointed)
    val before = cachedNonCheckpoint
    val sum = Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _)
    val (d, u) = Compose.fuseBoth(Pipes.map[Int, Int](_ * 2), Sinks.count[Int], sum)(src(1 to 10))
    assert(u == 10L && d == 110)
    val (_, u2) = Compose.fuseBothMaybe(Pipes.take[Int](5), Sinks.count[Int], sum)(src(1 to 10))
    assert(u2.isEmpty) // cut before end-of-stream
    val (r, logged) = Lift.runWriter[Int, Int](spark, _ => 1L)(sum)(src(1 to 10))
    assert(r == 55 && logged == 10)
    assert(cachedNonCheckpoint == before,
      s"lingering caches: ${spark.sparkContext.getPersistentRDDs.values.map(_.toString)}")
  }

  test("readerP: broadcast environment reaches every element") {
    val env = Lift.runReader(spark, Map("scale" -> 10))
    val p = Lift.readerPipe[Map[String, Int], Int, Int](env)((r, a) => a * r("scale"))
    assert((src(List(1, 2, 3)) |> p).into(Sinks.sinkList) == List(10, 20, 30))
  }

  test("exceptP: failures become dead letters, successes flow on") {
    val (good, dead) = Lift.runExcept[Int, Int] { a =>
      if (a % 3 == 0) Left(s"div3:$a") else Right(a * 10)
    }(src(1 to 9))
    assert(good.into(Sinks.sinkList) == List(10, 20, 40, 50, 70, 80))
    assert(dead.into(Sinks.sinkList) == List((3, "div3:3"), (6, "div3:6"), (9, "div3:9")))
  }

  test("columnar exceptP: null parses and domain failures become dead letters") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      (1L, "k=14"), (2L, "k=3"), (3L, "no digits"), (4L, "k=10"))).toDF("seq", "props")
    val (good, dead) = Lift.runExceptC(df,
      expr("try_cast(regexp_replace(props, '[^0-9]', '') AS BIGINT)"))(v =>
      when(v.isNull, lit("unparseable")).when(v % 7 === 0, lit("k_div_7")))
    assert(good.select("seq", "value").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toList == List((2L, 3L), (4L, 10L)))
    assert(dead.select("seq", "error").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toList == List((1L, "k_div_7"), (3L, "unparseable")))
  }

  test("columnar exceptP replica of q_dead_letter: digit-free AND >18-digit props are unparseable") {
    import org.apache.spark.sql.functions._
    // fixture replica incl. the two latent edge cases: no digits at all
    // ('' → try_cast NULL) and a 20-digit overflow (→ try_cast NULL);
    // the DuckDB oracle's TRY_CAST + three-way CASE maps them identically
    val df = spark.createDataFrame(Seq(
      (1L, "abc!!"),                      // no digits → unparseable
      (2L, "99999999999999999999"),       // 20 digits, overflows BIGINT → unparseable
      (3L, "k=14"),                       // 14 % 7 == 0 → k_div_7
      (4L, "k=15"))).toDF("seq", "props") // ok
    val (good, dead) = Lift.runExceptC(df,
      expr("try_cast(regexp_replace(props, '[^0-9]', '') AS BIGINT)"))(v =>
      when(v.isNull, lit("unparseable")).when(v % 7 === 0, lit("k_div_7")))
    assert(good.select("seq", "value").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toList == List((4L, 15L)))
    assert(dead.select("seq", "error").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toList ==
      List((1L, "unparseable"), (2L, "unparseable"), (3L, "k_div_7")))
  }

  test("catchP: thrown exceptions are caught per element") {
    val (good, dead) = Lift.runCatch[Int, Int] { a =>
      if (a == 4) throw new IllegalStateException("boom") else a + 1
    }(src(List(3, 4, 5)))
    assert(good.into(Sinks.sinkList) == List(4, 6))
    val d = dead.into(Sinks.sinkList)
    assert(d.map(_._1) == List(4) && d.head._2.contains("boom"))
  }

  test("feedbackPipeEither distinguishes upstream from fed-back input") {
    // upstream (Left) values get +100 once; fed-back values halve until 0
    val p = Pipes.map[(Boolean, Int), Int] {
      case (true, x)  => x + 100
      case (false, x) => x / 2
    } |> Pipes.filter[Int](_ > 0)
    val got = Compose.feedbackPipeEither(p, maxRounds = 20)(src(List(8)))
      .into(Sinks.sinkList)
    // round1: 8+100=108; then 54, 27, 13, 6, 3, 1 — all fed back
    assert(got == List(108, 54, 27, 13, 6, 3, 1))
  }

  test("ZipSink wrappers: zipWith one-scan product; never loses alt races") {
    val sum = Sinks.foldlCombine(0)((b: Int, a: Int) => b + a)(_ + _)
    val cnt = Sinks.foldlCombine(0)((b: Int, _: Int) => b + 1)(_ + _)
    val mean = sum.zipWith(cnt)((s, c) => s.toDouble / c)
    assert(src(List(2, 4, 6)).into(mean) == 4.0)
    val won = src(List(7, 8)).into(
      Sinks.alt(Sinks.never[Int, List[Int]], Sinks.takeList[Int](1)))
    assert(won == List(7))
    val won2 = src(List(7, 8)).into(
      Sinks.takeList[Int](1).alt(Sinks.never[Int, List[Int]]))
    assert(won2 == List(7))
  }

  test("trimap / hoist / repeatMaybeM / repeatEitherM") {
    val p = Pipes.trimap[Int, Int, Int, String](_ + 1, _.toString)(Pipes.map[Int, Int](_ * 2))
    assert((src(List(1, 2)) |> p).into(Sinks.sinkList) == List("4", "6"))

    val hoisted = (src(List(1, 2)) |> Pipes.hoist[Int](spark.newSession()))
    assert(hoisted.into(Sinks.sinkList) == List(1, 2))

    var i = 0
    val s1 = Sources.repeatMaybeM(spark, () => { i += 1; if (i <= 3) Some(i) else None })
    assert(s1.into(Sinks.sinkList) == List(1, 2, 3))

    var j = 0
    val (s2, r) = Sources.repeatEitherM[Int, String](spark,
      () => { j += 1; if (j <= 2) Right(j) else Left("stop") })
    assert(s2.into(Sinks.sinkList) == List(1, 2) && r == "stop")
  }

  test("stateP / runState / runRWS") {
    val p = Lift.statePipe[Int, Int, Int](0)((a, s) => (s + a, s + a))
    assert((src(List(1, 2, 3)) |> p).into(Sinks.sinkList) == List(1, 3, 6))

    val (outs, finalS) = Lift.runState[Int, Int](10)((s, a) => s + a)(src(List(1, 2, 3)))
    assert(outs.into(Sinks.sinkList) == List(11, 13, 16) && finalS == 16)

    val (outs2, logged, s2) = Lift.runRWS[Int, Int, Int, Int](
      spark, env = 100, weight = _ => 1L, s0 = 0)(
      (env, a, s) => (s + a, env * (s + a)))(src(List(1, 2, 3)))
    assert(outs2.into(Sinks.sinkList) == List(100, 300, 600))
    assert(logged == 3 && s2 == 6)
  }

  test("sinkTextFile writes the stream as text") {
    val dir = graft.core.Scratch.fresh("sink").toString + "/out"
    src(List(10, 20, 30)).into(Sinks.sinkTextFile(dir))
    val lines = spark.read.textFile(dir).collect().map(_.toInt).sorted.toList
    assert(lines == List(10, 20, 30))
  }
}
