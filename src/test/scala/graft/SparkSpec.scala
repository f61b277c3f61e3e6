package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TempFiles

/** Shared local SparkSession for all suites (sequential execution per
  * build.sbt). Small shuffle-partition count keeps tiny-grid tests
  * fast; the production entry points (Verify/Bench) size their own.
  * Codegen fallback is off, so an expression Janino cannot compile
  * fails its test instead of silently running interpreted.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh temp directory, removed with its contents at JVM exit. */
  def tempDir(prefix: String): Path = TempFiles.deleteAtExit(Files.createTempDirectory(prefix))

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  /** `body`'s result and the number of classes Janino compiled while it
    * ran: the misses of the JVM-wide generated-class cache, so a plan
    * whose code an earlier run already compiled counts 0.
    */
  def compilesOf[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }
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
