package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (Bench, Verify,
  * ScaleProbe, PlanDump, ExplainDump, DevSmoke): `local[N]` with
  * N = SPARK_GRAFT_CPUS (default 4), shuffle partitions = N, UTC
  * session time zone, no UI, WARN logging.
  */
object Harness {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
