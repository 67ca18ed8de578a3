package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.core._
import graft.operators._
import org.apache.spark.{SparkException, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    intercept[SparkException] {
      Sources.fromSeq(spark, 0L until N) |> Pipes.scanCombine(0L)((b: Long, a: Long) =>
        if (a == N / 2) throw new IllegalStateException("step") else b + a)(_ + _)
    }
    intercept[SparkException] {
      // its own input: a leaked cache of `df` would serve later specs
      val rows = spark.range(N).toDF("seq")
      RowExec.mapWithCarry(rows, 1, rows.schema) { (_, it) =>
        it.map(r => if (r.getLong(0) == N / 2) throw new IllegalStateException("row") else r)
      }
    }
    // a failed localCheckpoint leaves its RDD in the map until collected
    var after = pinned
    var tries = 0
    while (after != before && tries < 20) { Thread.sleep(100); after = pinned; tries += 1 }
    assert(after == before)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("each ordered operator runs a pinned number of Spark jobs") {
    implicit val enc: org.apache.spark.sql.Encoder[Elem[Long]] = Elem.enc[Long]
    val ds = src.ds.map(_.value)(org.apache.spark.sql.Encoders.scalaLong)
    val got = Map(
      "scanCombine" -> jobsOf(src |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _)),
      "pairs" -> jobsOf(src |> Pipes.pairs[Long]),
      "consecutive" -> jobsOf(src |> Pipes.consecutive[Long](4)),
      "runningSumLong" -> jobsOf(RowExec.runningSumLong(df, col("v"), "rs")),
      "mapWithCarry" -> jobsOf(RowExec.mapWithCarry(df, 1, df.schema)((_, it: Iterator[Row]) => it)),
      "withDenseSeq" -> jobsOf(RowExec.withDenseSeq(df, Seq(col("v")))),
      "zipWithOrdinal" -> jobsOf(Ordinals.zipWithOrdinal(ds, Seq(col("value")))),
      "foldlCombine" -> jobsOf(src.into(Sinks.foldlCombine(0L)((b: Long, a: Long) => b + a)(_ + _))))
    // counted on this session (local[4], 4 shuffle partitions): an ordered
    // operator that starts one more job fails here
    assert(got == Map(
      "scanCombine" -> 5, "pairs" -> 5, "consecutive" -> 5, "runningSumLong" -> 6,
      "mapWithCarry" -> 5, "withDenseSeq" -> 5, "zipWithOrdinal" -> 5, "foldlCombine" -> 3))
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
