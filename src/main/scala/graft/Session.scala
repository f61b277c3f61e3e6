package graft

import org.apache.spark.sql.SparkSession

/** The one session every runner (Bench, TimeOne, Verify, Scaling, the
  * CLI) builds.
  */
object Session {

  /** `local[cpus]`, shuffle partitions = cpus, UTC, `nanosAsLong`
    * (the events fixture), UI off, WARN logs. `org.apache.spark.rdd`
    * logs at ERROR: every intentional `Materialize` release of a
    * localCheckpoint'd RDD logs a WARN, and thousands of them once
    * buried the bench's summary line.
    */
  def protocol(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
