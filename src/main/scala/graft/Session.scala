package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup: every main and the test suite
  * build through it, so an oracle dump, a bench time, a job census and
  * a plan dump all come from the same config — `cpus` local threads
  * and as many shuffle partitions, UTC session time zone, AQE on, no
  * UI. `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4. */
object Session {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
