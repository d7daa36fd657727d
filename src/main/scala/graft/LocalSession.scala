package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and the test suite run on:
  * `local[$SPARK_GRAFT_CPUS]` (default 32) with one shuffle partition per
  * core, UTC session time, no UI, WARN logging. A caller that needs another
  * conf or log level sets it on the returned session. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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
