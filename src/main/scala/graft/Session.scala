package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.core.Materialize

/** The one session every runner (Bench, TimeOne, Verify, Scaling, the
  * CLI) builds, and the one timed-run and plan-dump body the timing
  * runners (Bench, TimeOne, Scaling) share.
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

  /** One timed run: wall seconds and the Janino compiles it made. */
  final case class Run(seconds: Double, compiles: Long)

  /** Times building `df` plus a `noop`-format write. Unlike `count()`,
    * the write executes the full plan (EliminateSorts drops terminal
    * sorts under a count, and limits short-circuit it). The RDDs the
    * run pins (LSH signature tables, inverted indexes, winnowing
    * fingerprints) are released after the clock stops: left in a
    * long-lived session they accumulate until memory pressure evicts
    * live checkpoints mid-query and their subtrees replay.
    */
  def timeRun(spark: SparkSession)(df: => DataFrame): Run = {
    val keep = Materialize.liveIds(spark)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    Materialize.releaseAll(spark, keep)
    Run(dt, compiles)
  }

  /** `SPARK_GRAFT_DUMP_PLANS=1` makes Bench and TimeOne write formatted
    * plans to `plans/`; any other value or none writes nothing.
    */
  def dumpPlans: Boolean = sys.env.get("SPARK_GRAFT_DUMP_PLANS").contains("1")

  /** Writes `df`'s formatted plan to `plans/<name>.txt`. Building a
    * frame can run eager checkpoints, so the pins it leaves are
    * released.
    */
  def dumpPlan(spark: SparkSession, name: String)(df: => DataFrame): Unit =
    Materialize.scoped(spark) {
      Files.createDirectories(Paths.get("plans"))
      Files.writeString(Paths.get(s"plans/$name.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      ()
    }
}
