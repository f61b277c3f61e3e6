package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (sequential execution per
  * build.sbt). Small shuffle-partition count keeps tiny-grid tests
  * fast; the production entry points (Verify/Bench) size their own.
  * Codegen fallback is off, so an expression Janino cannot compile
  * fails its test instead of silently running interpreted.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()
}
