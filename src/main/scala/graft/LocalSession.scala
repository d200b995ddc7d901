package graft

import org.apache.spark.sql.SparkSession

/** The session builder of the command-line mains (Bench, Verify, Probe)
  * and of the test suites: one worker thread and one shuffle partition
  * per cpu of the host (`SPARK_GRAFT_CPUS` overrides the count), UTC,
  * nanosecond parquet timestamps read as longs, no UI, and a generated-
  * class cache large enough for the program's plans. */
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
      // Spark caches generated classes in a 100-entry LRU (per JVM). A
      // calculate + totalRwa + summary + export pass needs more than that,
      // so every later pass in a fresh session compiled its classes again:
      // 87-99 per warm pass at 100 entries against 58 at 1024, and
      // 2.35-2.89 s against 2.07-2.59 s a pass (sf0.01 book, 4 cpus).
      .config("spark.sql.codegen.cache.maxEntries", "1024")
  }
}
