package graft

import graft.core._
import graft.operators._
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Cross-partition stress: the distributed order schemes (prefix-combine,
  * boundary exchange, cut filters) against the list oracle on inputs
  * large enough to span every shuffle partition — the failure mode unit
  * examples can't catch (wrong carry at a partition boundary).
  */
class CrossPartitionSpec extends SparkSpec {

  private val N = 50000
  private val rnd = new scala.util.Random(7)
  private val xs: Vector[Long] = Vector.fill(N)(rnd.nextInt(1000).toLong - 500)

  private lazy val src: SStream[Long] = Sources.fromSeq(spark, xs)

  test("scanCombine across partitions == sequential scanLeft") {
    val got = (src |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
      .into(Sinks.sinkList)
    assert(got == xs.scanLeft(0L)(_ + _).tail.toList)
  }

  test("pairs across partitions == xs.zip(xs.tail)") {
    val got = (src |> Pipes.pairs[Long]).into(Sinks.sinkList)
    assert(got == xs.zip(xs.tail).toList)
  }

  test("consecutive across partitions == sliding with leading partials + final") {
    val n = 4
    val got = (src |> Pipes.consecutive[Long](n)).into(Sinks.sinkList)
    val expect = (0 to N).map(i => xs.slice(math.max(0, i - n), i).toSeq).toList
    assert(got == expect)
  }

  test("take/drop cuts land exactly at arbitrary positions") {
    for (k <- Seq(1L, 12499L, 25000L, 49999L, 50000L)) {
      assert((src |> Pipes.take[Long](k)).into(Sinks.count) == k.min(N))
      assert((src |> Pipes.suffixAfter(Pipes.drop[Long](k))).into(Sinks.count) == (N - k).max(0))
    }
  }

  /** The same stream as a shuffled DataFrame (seq, v) over 8 partitions. */
  private lazy val df: DataFrame = {
    import spark.implicits._
    xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq", "v")
      .repartition(8)
  }

  test("columnar running sum across partitions == prefix sums") {
    val got = RowExec.runningSumLong(df, col("v"), "rs")
      .orderBy("seq").select("rs").collect().map(_.getLong(0)).toList
    assert(got == xs.scanLeft(0L)(_ + _).tail.toList)
  }

  test("columnar pairs across partitions == xs.zip(xs.tail)") {
    val got = RowExec.pairsDf(df, Seq("v")).orderBy("seq")
      .select("prev_v", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == xs.zip(xs.tail).toList)
  }

  test("columnar consecutive across partitions == sliding with leading partials") {
    val n = 4
    val got = RowExec.consecutiveDf(df, "v", n).orderBy("seq")
      .select("window").collect().map(_.getSeq[Long](0)).toList
    assert(got == (0 until N).map(i => xs.slice(math.max(0, i - n), i)).toList)
  }

  test("columnar dense seq across partitions == sorted index") {
    val got = RowExec.withDenseSeq(df.withColumnRenamed("seq", "i"), Seq(col("v"), col("i")))
      .orderBy("seq").select("seq", "v", "i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val expect = xs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.sorted
      .zipWithIndex.map { case ((v, i), k) => (k.toLong, v, i) }.toList
    assert(got == expect)
  }

  test("a failing step or row function leaves no sorted copy cached") {
    val sc = spark.sparkContext
    // the map holds its RDDs weakly: collect first, so only pinned ones count
    def pinned: Set[Int] = { System.gc(); sc.getPersistentRDDs.keySet.toSet }
    val before = pinned
    // locals, so the closures below serialize without the suite
    val n = N
    def fails(what: String)(body: => Any): Unit = {
      val e = intercept[SparkException](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(what)), e)
    }
    // a row function runs in the consumer's job: sorted runs, then shuffled
    // (own inputs: a leaked cache of `df` would serve later specs). Spark
    // keeps the plan of the last action that failed reachable until the
    // next action fails (a plain localCheckpoint does the same), so these
    // cases go before the ones that fail inside the kernel's own jobs
    for (rows <- Seq(spark.range(n).toDF("seq"), spark.range(n).toDF("seq").repartition(4)))
      fails("row") {
        RowExec.mapWithCarry(rows, 1, rows.schema) { (_, it) =>
          it.map(r => if (r.getLong(0) == n / 2) throw new IllegalStateException("row") else r)
        }.collect()
      }
    // a step runs in the probe's own job: sorted runs, then shuffled
    val step = (b: Long, a: Long) => if (a == n / 2) throw new IllegalStateException("step") else b + a
    fails("step")(Sources.fromSeq(spark, 0L until n) |> Pipes.scanCombine(0L)(step)(_ + _))
    fails("step") {
      implicit val enc: org.apache.spark.sql.Encoder[Elem[Long]] = Elem.enc[Long]
      SStream(Sources.fromSeq(spark, 0L until n).ds.repartition(4)) |>
        Pipes.scanCombine(0L)(step)(_ + _)
    }
    // an unreachable RDD leaves the map once collected
    var after = pinned
    var tries = 0
    while (after != before && tries < 20) { Thread.sleep(100); after = pinned; tries += 1 }
    assert(after == before)
  }

  /** `df`'s rows as sorted runs: a local relation, split in seq order. */
  private lazy val runsDf: DataFrame = {
    import spark.implicits._
    xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq", "v")
  }

  test("each ordered operator runs a pinned number of Spark jobs") {
    implicit val enc: org.apache.spark.sql.Encoder[Elem[Long]] = Elem.enc[Long]
    val ds = src.ds.map(_.value)(org.apache.spark.sql.Encoders.scalaLong)
    val got = Map(
      "scanCombine" -> jobsOf(src |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)),
      "pairs" -> jobsOf(src |> Pipes.pairs[Long]),
      "consecutive" -> jobsOf(src |> Pipes.consecutive[Long](4)),
      "runningSumLong/runs" -> jobsOf(RowExec.runningSumLong(runsDf, col("v"), "rs")),
      "runningSumLong/shuffled" -> jobsOf(RowExec.runningSumLong(df, col("v"), "rs")),
      "mapWithCarry/runs" -> jobsOf(RowExec.mapWithCarry(runsDf, 1, df.schema)((_, it: Iterator[Row]) => it)),
      "mapWithCarry/shuffled" -> jobsOf(RowExec.mapWithCarry(df, 1, df.schema)((_, it: Iterator[Row]) => it)),
      "withDenseSeq" -> jobsOf(RowExec.withDenseSeq(df, Seq(col("v")))),
      "zipWithOrdinal" -> jobsOf(Ordinals.zipWithOrdinal(ds, Seq(col("value")))),
      "foldlCombine" -> jobsOf(src.into(Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))))
    // counted on this session (local[4], 4 shuffle partitions): an ordered
    // operator that starts one more job fails here. Sorted runs take the
    // probe's one job; the shuffled `df` adds the sample and the sort's
    // two stages (runningSumLong's fresh plan re-runs the repartition's
    // map stage, `df`'s own plan has run it already); the by-column
    // orderings skip the probe
    assert(got == Map(
      "scanCombine" -> 1, "pairs" -> 1, "consecutive" -> 1, "foldlCombine" -> 1,
      "runningSumLong/runs" -> 1, "runningSumLong/shuffled" -> 5,
      "mapWithCarry/runs" -> 1, "mapWithCarry/shuffled" -> 4,
      "withDenseSeq" -> 3, "zipWithOrdinal" -> 3))
  }

  test("foldlCombine over sorted runs stores no copy of its input") {
    val sc = spark.sparkContext
    // the probe's checkpoint would stay in the map until collected: no gc here
    val before = sc.getPersistentRDDs.keySet.toSet
    val (sum, jobs) = counted(src.into(Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _)))
    assert(sum == xs.sum && jobs == 1)
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.isEmpty, s"stored: ${added.values.map(r => s"$r ${r.isCheckpointed}")}")
  }

  /** A (seq, v) DataFrame whose partitions hold exactly `parts`. */
  private def partitioned(parts: Seq[Seq[(java.lang.Long, Long)]]): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = spark.sparkContext.parallelize(parts, parts.size)
      .flatMap(_.map { case (s, v) => Row(s, v) })
    spark.createDataFrame(rows, StructType(Seq(
      StructField("seq", LongType, nullable = true), StructField("v", LongType, nullable = false))))
  }

  /** The list oracle: running sums and pairs over the rows in seq order,
    * nulls first (the sort's placement), against both operators; each
    * operator must start `jobs` jobs (1: the probe's runs held).
    */
  private def probeCase(parts: Seq[Seq[(java.lang.Long, Long)]], jobs: Int): Unit = {
    val in = partitioned(parts)
    val ordered = parts.flatten.sortBy { case (s, _) => Option(s).map(_.longValue) }
    val sums = ordered.map(_._2).scanLeft(0L)(_ + _).tail
    // equal seqs may come in either order: compare sorted multisets
    def canon(rows: Seq[Seq[Any]]): List[String] = rows.map(_.mkString(",")).toList.sorted
    def got(op: => DataFrame, cols: String*): List[String] = {
      val (df, n) = counted(op)
      assert(n == jobs, s"$n jobs, expected $jobs")
      canon(df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq)
    }
    assert(got(RowExec.runningSumLong(in, col("v"), "rs"), "seq", "v", "rs") ==
      canon(ordered.zip(sums).map { case ((s, v), r) => Seq(s, v, r) }))
    assert(got(RowExec.pairsDf(in, Seq("v")), "seq", "prev_v", "v") ==
      canon(ordered.zip(ordered.drop(1)).map { case ((_, p), (s, v)) => Seq(s, p, v) }))
  }

  /** `xs` with seqs 0..N-1, cut into `k` runs. */
  private def runs(k: Int): Seq[Seq[(java.lang.Long, Long)]] =
    xs.zipWithIndex.map { case (v, i) => (java.lang.Long.valueOf(i.toLong), v) }
      .grouped((N + k - 1) / k).toSeq

  test("probe: disjoint runs in reverse partition order take the runs path") {
    probeCase(runs(4).reverse, jobs = 1)
  }

  test("probe: empty partitions between runs take the runs path") {
    val r = runs(3)
    probeCase(Seq(Nil, r(0), Nil, r(1), Nil, Nil, r(2), Nil), jobs = 1)
  }

  test("probe: runs in fewer partitions than the shuffle partitions finish in blocks") {
    val one = Seq(runs(1).head)
    probeCase(one, jobs = 1)
    assert(RowExec.runningSumLong(partitioned(one), col("v"), "rs").rdd.getNumPartitions ==
      spark.sessionState.conf.numShufflePartitions)
    val r = runs(2)
    probeCase(Seq(r(1), Nil, r(0)), jobs = 1)
  }

  test("probe: a duplicate seq straddling two partitions takes the sorted path") {
    val r = runs(4)
    // the second run starts with a copy of the first run's last row
    probeCase(Seq(r(0), r(0).last +: r(1), r(2), r(3)), jobs = 4)
  }

  test("probe: one partition out of order takes the sorted path") {
    val r = runs(4)
    probeCase(Seq(r(0), r(1), new scala.util.Random(3).shuffle(r(2)), r(3)), jobs = 4)
  }

  test("probe: a null seq takes the sorted path and sorts first") {
    val r = runs(4)
    probeCase(Seq(r(0), r(1), r(2) :+ ((null: java.lang.Long) -> 17L), r(3)), jobs = 4)
  }

  test("foldr on a large reversed stream == foldRight") {
    // order-sensitive non-commutative fold: subtraction
    val small = xs.take(5000)
    val got = Sources.fromSeq(spark, small)
      .into(Sinks.foldr(0L)((a: Long, b: Long) => a - b))
    assert(got == small.foldRight(0L)(_ - _))
  }

  test("foldrCombine across partitions == foldRight (non-commutative affine composition, N=50k)") {
    // element v ↦ affine map x → αx+β (mod M); foldr composes
    // g_first ∘ … ∘ g_last — composition is associative with identity
    // but NOT commutative, so any partition-order slip is caught
    val M = 1000000007L
    type Aff = (Long, Long)
    val id: Aff = (1L, 0L)
    def mk(v: Long): Aff = ((v % 97) + 2, (v % 1003) + 1)
    def compose(f: Aff, g: Aff): Aff = ((f._1 * g._1) % M, (f._1 * g._2 + f._2) % M)
    val got = src.into(
      Sinks.foldrCombine(id)((v: Long, acc: Aff) => compose(mk(v), acc))(compose))
    assert(got == xs.foldRight(id)((v, acc) => compose(mk(v), acc)))
  }

  test("foldrCombine reverse-concat == sequential foldr (flipped combine)") {
    val strs = (0 until 2000).map(i => ('a' + i % 26).toChar.toString)
    val got = Sources.fromSeq(spark, strs)
      .into(Sinks.foldrCombine("")((x: String, acc: String) => acc + x)((a, b) => b + a))
    assert(got == strs.foldRight("")((x, acc) => acc + x))
  }
}
