package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every graft main: `local[cpus]` with
  * `cpus` from SPARK_GRAFT_CPUS (else the caller's `defaultCpus`), shuffle
  * partitions from SPARK_GRAFT_SHUFFLE (else `cpus`), UTC session time,
  * int64-nanos parquet read as long (see `Tables.normalizeEventTs`), UI
  * off, and graft's SQL functions registered via [[functions.GraftExtensions]]. */
object GraftSession {
  def apply(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
