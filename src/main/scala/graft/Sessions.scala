package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main, tool and test session is
  * built here, so they share one policy: `local[cores]`, one shuffle
  * partition per core, UTC session time, no UI. AQE stays at Spark's
  * default (on), which `SessionsSpec` pins.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A session with `n` shuffle partitions on `master`, which defaults to
    * `local[n]`; the CLI passes its deployment master (`SPARK_MASTER`).
    * `getOrCreate` semantics: an active session is reused.
    */
  def create(n: Int = cores, logLevel: String = "WARN",
      master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
