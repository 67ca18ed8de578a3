package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The materialization boundary used by every driver-coordinated
  * operator (the carry kernel's rows, shared sub-plans, feedback rounds).
  *
  * Default is `localCheckpoint()`: executor-local, no configuration —
  * the right trade on `local[*]` and for short jobs. Its weakness at
  * cluster scale is real: localCheckpoint blocks die with their executor
  * AND lineage is truncated, so an executor loss mid-job is
  * unrecoverable. For 100-TB runs set
  *
  *  - `spark.sparkContext.setCheckpointDir(<hdfs path>)`, and
  *  - `spark.conf.set("spark.graft.reliableCheckpoint", "true")`
  *
  * and every materialization in the library switches to the reliable
  * `checkpoint()` (stored on the checkpoint FS, survives executor loss).
  * Operator semantics and plan shapes are identical under both —
  * MaterializeSpec runs the same operators under both.
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoint"

  private def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.getOption(ReliableKey).exists(_.equalsIgnoreCase("true"))
    // misconfiguration must not silently downgrade to the non-reliable
    // path — that is the exact failure mode the flag exists to prevent
    if (on) require(spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableKey=true but no checkpoint dir: call sc.setCheckpointDir first")
    on
  }

  /** Eager: the Dataset's rows are computed and stored before it returns. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds.sparkSession)) ds.checkpoint() else ds.localCheckpoint()

  /** Marks a fresh `rdd` for checkpointing; its first job stores it. The
    * reliable mode also keeps the rows cached, so writing them to the
    * checkpoint FS after that job reads the cache, not the lineage.
    */
  def checkpoint[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (reliable(spark)) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
    else rdd.localCheckpoint()
    rdd
  }
}
