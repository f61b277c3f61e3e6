package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.protocol(cpus.toInt)
    // fixture-schema contract: one readable line per drifted column
    // beats N opaque analysis errors when the driver regenerates
    // parquet with new physical types (the round-9 events.ts incident)
    Tables.fixtureDrift(spark, sfDir)
      .foreach(m => System.err.println(s"[fixture-drift] $m"))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated subset for local iteration on one
    // query's gate (mirrors Bench's SPARK_GRAFT_BENCH_ONLY). The
    // oracle_sql.json dump below is filtered to the same subset so
    // tools/check_oracle.py runs clean on a partial out dir. Unset
    // (the driver's case) verifies the full suite.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // scoped: release any localCheckpoint blocks the query's
      // operators pinned (LSH signatures, inverted indexes…) before
      // the next query — 172 queries in one JVM otherwise accumulate
      // dead blocks until pressure evicts live ones (see Materialize)
      try graft.core.Materialize.scoped(spark) {
        val df = fn(spark, sfDir).persist()
        // single-file output only while it is verifiably small — a
        // blind coalesce(1) is a one-task-write scale killer.
        val out = if (df.count() <= 200000) df.coalesce(1) else df
        out.write.mode("overwrite").parquet(s"$outDir/$name")
        df.unpersist()
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // exit promptly even if a stray non-daemon thread (e.g. a stub
    // HTTP server started by a query) survived — all outputs are on
    // disk by this point, and the harness timeout is ticking
    sys.exit(0)
  }
}
