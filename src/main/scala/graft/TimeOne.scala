package graft

/** Time one named query from [[SparkEntry.queries]] without paying
  * for the full bench sweep: `graft.TimeOne <name> [sfDir] [iters]`.
  * Same session config and noop-write action as [[Bench]], so numbers
  * are comparable to `bench_last.json` entries.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.protocol(cpus.toInt)
    val fn = SparkEntry.queries(name)
    // Same snapshot-and-release hygiene as Bench.runOnce: without it,
    // checkpoint-pinning operators accumulate block-manager blocks
    // across iterations (Bench frees them after every run, outside the
    // timed window), so TimeOne would systematically penalize exactly
    // the changes it is used to A/B.
    def once(): Double = {
      val keep = graft.core.Materialize.liveIds(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      graft.core.Materialize.releaseAll(spark, keep)
      dt
    }
    once() // warmup
    val times = (1 to iters).map(_ => once())
    println(f"$name: min ${times.min}%.3f  all ${times.map(t => f"$t%.3f").mkString(",")}")
    // opt-in formatted-plan dump (SPARK_GRAFT_DUMP_PLAN=1): backfill
    // for protocol sweeps whose dump phase hit the wall-budget cutoff
    // before reaching late-alphabet queries. Only meaningful at the
    // protocol scale factor — same caveat as Bench's dump guard.
    if (sys.env.get("SPARK_GRAFT_DUMP_PLAN").contains("1")) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans"))
      graft.core.Materialize.scoped(spark) {
        val plan = fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"plans/$name.txt"), plan)
        println(s"plan written: plans/$name.txt")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
