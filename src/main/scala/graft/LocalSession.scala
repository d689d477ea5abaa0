package graft

import org.apache.spark.sql.SparkSession

/** The session every main in this package runs on (Bench, Verify,
  * PlanDump, StreamProbe), so a plan PlanDump prints is the plan Bench
  * times: `local[cpus]` with `cpus` shuffle partitions, UTC, ANSI off,
  * no UI, WARN logging and the audited per-task warnings silenced
  * ([[Log]]). `cpus` comes from SPARK_GRAFT_CPUS (default 4), read here
  * and nowhere else.
  */
object LocalSession {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Log.silenceNoisyWarnings()
    spark
  }
}
