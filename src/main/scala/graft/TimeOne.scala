package graft

/** Time one named query from [[SparkEntry.queries]] without paying
  * for the full bench sweep: `graft.TimeOne <name> [sfDir] [iters]`.
  * Same session and timed-run body as [[Bench]], so numbers are
  * comparable to `bench_last.json` entries. Each run prints as
  * `seconds[compiles]`, the compiles being the Janino classes that run
  * generated: a JVM still compiling is still warming up, so runs that
  * compile are not yet the plan's settled cost.
  * `SPARK_GRAFT_DUMP_PLANS=1` also writes `plans/<name>.txt`.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Session.protocol(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = SparkEntry.queries(name)
    val all = (0 to iters).map(_ => Session.timeRun(spark)(fn(spark, sfDir)))
    val (warmup, runs) = (all.head, all.tail)
    def show(r: Session.Run) = f"${r.seconds}%.3f[${r.compiles}]"
    println(f"$name: min ${runs.map(_.seconds).min}%.3f  all ${runs.map(show).mkString(",")}" +
      s"  warmup ${show(warmup)}")
    if (Session.dumpPlans) {
      Session.dumpPlan(spark, name)(fn(spark, sfDir))
      println(s"plan written: plans/$name.txt")
    }
    spark.stop()
    sys.exit(0)
  }
}
