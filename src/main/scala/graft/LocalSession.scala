package graft

import org.apache.spark.sql.SparkSession

/** The session builder of the command-line mains (Bench, Verify, Probe):
  * one worker thread and one shuffle partition per cpu of the host
  * (`SPARK_GRAFT_CPUS` overrides the count), UTC, nanosecond parquet
  * timestamps read as longs, no UI. */
private[graft] object LocalSession {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }
}
