package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (Bench, Verify,
  * PlanDump, DevSmoke) and of the test suite: `local[N]` with N =
  * `cpus` (default [[cpus]], from SPARK_GRAFT_CPUS), shuffle
  * partitions = N, UTC session time zone, no UI, WARN logging.
  */
object Harness {

  /** SPARK_GRAFT_CPUS, trimmed; unset or empty means 4. Anything else
    * that is not a positive integer throws, naming the variable, rather
    * than failing later inside Spark's master-URL parser.
    */
  private[graft] def parseCpus(raw: Option[String]): Int =
    raw.map(_.trim).filter(_.nonEmpty) match {
      case None => 4
      case Some(s) => s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '${raw.get}'"))
    }

  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def session(cpus: Int = Harness.cpus): SparkSession = {
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
