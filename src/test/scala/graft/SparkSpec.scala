package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{TestBus, TestCodegen}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one per test JVM). */
object SparkTestSession {
  // pinned at 4: CrossPartitionSpec's job pins and PlanSpec's parallelism check were counted at local[4]
  lazy val spark: SparkSession = Harness.session(4)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `body`'s value and the Spark jobs started while it runs. */
  protected def counted[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { val t = body; TestBus.drain(sc); (t, n.get) } finally sc.removeSparkListener(l)
  }

  protected def jobsOf(body: => Any): Int = counted(body)._2

  /** The classes Spark's code generator compiles while `body` runs,
    * starting from an empty codegen cache, so a class an earlier test
    * compiled counts again.
    */
  protected def compiledClassesOf(body: => Any): Long = {
    TestCodegen.clearCache()
    val before = TestCodegen.compiles
    body
    TestCodegen.compiles - before
  }
}
