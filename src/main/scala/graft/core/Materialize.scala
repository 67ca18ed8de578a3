package graft.core

import org.apache.spark.sql.Dataset

/** The materialization boundary used by every driver-coordinated
  * operator (boundary exchanges, shared sub-plans, feedback rounds).
  *
  * Default is `localCheckpoint()`: eager, executor-local, no
  * configuration — the right trade on `local[*]` and for short jobs.
  * Its weakness at cluster scale is real: localCheckpoint blocks die
  * with their executor AND lineage is truncated, so an executor loss
  * mid-job is unrecoverable. For 100-TB runs set
  *
  *  - `spark.sparkContext.setCheckpointDir(<hdfs path>)`, and
  *  - `spark.conf.set("spark.graft.reliableCheckpoint", "true")`
  *
  * and every materialization in the library switches to the reliable
  * `checkpoint()` (stored on the checkpoint FS, survives executor loss).
  * Both paths are eager, so operator semantics and plan shapes are
  * identical — MaterializeSpec runs the same operators under both.
  */
object Materialize {

  val ReliableKey = "spark.graft.reliableCheckpoint"

  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.getOption(ReliableKey).exists(_.equalsIgnoreCase("true"))) {
      // misconfiguration must not silently downgrade to the non-reliable
      // path — that is the exact failure mode the flag exists to prevent
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true but no checkpoint dir: call sc.setCheckpointDir first")
      ds.checkpoint()
    } else ds.localCheckpoint()
  }
}
