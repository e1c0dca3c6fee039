package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of every entry point (Bench, BenchExtra, Cli,
  * Smoke, Verify) and of the test base: `local[cores]`, one shuffle
  * partition per core, UTC session time (the oracle compares timestamps
  * rendered in UTC) and no UI. Callers add only their own settings to the
  * returned builder. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when it is set, else the host's processor count.
    * A set value must be a positive integer: `local[0]` would start a
    * session with no task slots. */
  def cores(env: Map[String, String] = sys.env): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
