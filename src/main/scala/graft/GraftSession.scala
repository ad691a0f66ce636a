package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains (Verify, Bench, Stress,
  * ServeMain, JobCount, PlanDump): `local[cpus]` with `cpus` from
  * SPARK_GRAFT_CPUS (else the caller's default), as many shuffle
  * partitions as cores, AQE on, UTC session time zone (what
  * `Tables.events` assumes), UI off, WARN logging.
  */
object GraftSession {
  def apply(appName: String, defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // starved-host hardening (r11): in local mode a heartbeat missed
      // under a hypervisor-steal burst kills the only executor there is,
      // so both timeouts sit well past the burst length
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
