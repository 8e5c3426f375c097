package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains (Bench, Verify, PagesGen,
  * Scale) and the test session: `local[cores]` with `cores` shuffle
  * partitions, UTC, no UI and WARN logging, plus the caller's own
  * settings. */
object LocalSession {
  def apply(cores: Int, confs: (String, String)*): SparkSession = {
    val s = confs.foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores from `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
