package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main. Per query: one warmup, then the MINIMUM of two
  * timed runs of [[Session.timeRun]] (build plus a `noop` write, so
  * BENCH times the same plans CORRECTNESS runs). Min, not median:
  * timing noise on a shared host is one-sided (JIT and code-cache
  * pressure, co-tenant CPU, GC), so the fastest run is the best
  * estimate of the plan's cost, and with two runs a burst must hit
  * twice in a row to reach the record. A failing query records −1 and
  * its message in `errors`; it is not swallowed.
  *
  * After the sweep, two retry waves (48 slots in a 90 s slice) re-time
  * the queries the gate would flag at that point, `host_scale` read
  * afresh before each wave, worst ratio to their floor first, and
  * min-merge the result. A co-tenant burst can span all of one
  * query's runs but has usually passed by the end of the sweep; a
  * genuine regression survives its re-measurement.
  *
  * The full record prints once, after the retries. Per query it holds
  * the minimum, `gc_ms` (stop-the-world GC across the query's runs),
  * `heap_mb` (peak live heap), `runs`, `loadavg` (1-minute system
  * load when it finished), `med` (median of its timed runs) and `var`
  * (med/min); then `host_scale` and `over2x`, the queries still over
  * 2× floor × `host_scale` with their ratios. It persists to
  * `bench_last_c$cpus.json`, and from a protocol pass (sf0.1, full
  * suite, parallelism 32) also to `bench_last.json`, so a pass at
  * another width cannot overwrite the protocol detail. A protocol pass
  * min-merges its minima into `bench_floors.json` and its medians into
  * `bench_medians.json`, and with `SPARK_GRAFT_DUMP_PLANS=1` writes
  * its formatted plans to `plans/`. The LAST stdout line is a compact
  * summary without per-query maps: the driver scrapes a bounded log
  * tail, which truncates the full record.
  */
object Bench {

  /** `v` is over 2× its floor `f` scaled by `hostScale`, and more than
    * 0.15 s over `f`: a 2× trip on a 50 ms floor is noise, not a spike.
    */
  def over2x(v: Double, f: Double, hostScale: Double): Boolean =
    f > 0 && v > 2 * f * hostScale && v - f > 0.15

  /** How this host and pass sit against the hosts that seeded the
    * floors: the 25th percentile of this pass's value/floor ratios,
    * clamped to [1, 2]. A uniform host-speed difference shifts every
    * ratio; a burst shifts a contiguous subset, which the low quantile
    * ignores. Floors under 50 ms are noise and left out; with fewer
    * than 20 ratios (a subset run) it reads 1.
    */
  def hostScale(values: collection.Map[String, Double], floors: Map[String, Double]): Double = {
    val ratios = values.toSeq.flatMap { case (n, v) =>
      floors.get(n).filter(f => f > 0.05 && v > 0).map(v / _)
    }.sorted
    if (ratios.size < 20) 1.0 else math.min(2.0, math.max(1.0, ratios(ratios.size / 4)))
  }

  /** The queries [[over2x]] their floor at `hostScale`, the gate's own
    * threshold, worst value/floor ratio first: what a retry wave re-times.
    */
  def retrySuspects(values: collection.Map[String, Double], floors: Map[String, Double],
                    hostScale: Double): Seq[String] =
    values.toSeq.flatMap { case (n, v) =>
      floors.get(n).filter(over2x(v, _, hostScale)).map(f => (n, v / f))
    }.sortBy { case (n, r) => (-r, n) }.map(_._1)

  /** Per-query minimum of `old` and `cur`: no entry rises, entries
    * absent from `cur` stay, new ones join. Non-positive `cur` entries
    * (failed queries) are ignored.
    */
  def minMerge(old: Map[String, Double], cur: collection.Map[String, Double]): Map[String, Double] =
    cur.foldLeft(old) { case (m, (k, v)) =>
      if (v <= 0) m else m.updated(k, m.get(k).fold(v)(math.min(_, v)))
    }

  /** The flat `{"qNNN": seconds}` map of a floors or medians file;
    * absent or unreadable reads empty.
    */
  def readTimes(path: Path): Map[String, Double] = try {
    """"(q[0-9]\w+)":\s*([0-9.eE+-]+)""".r
      .findAllMatchIn(Files.readString(path))
      .map(x => x.group(1) -> x.group(2).toDouble).filter(_._2 > 0).toMap
  } catch { case _: Throwable => Map.empty }

  /** The retry waves' reference: the committed per-query floors alone.
    * The last record is not a reference: it holds ratio maps whose
    * `"qNNN": x` pairs a flat read would take for seconds.
    */
  def retryFloors(dir: Path): Map[String, Double] = readTimes(dir.resolve("bench_floors.json"))

  /** The driver's protocol shape, the only one whose record is plain
    * `bench_last.json` and whose minima may enter the floors: a
    * full-suite pass at sf0.1 on 32 threads. Lower floors from another
    * shape would flag healthy queries on every later protocol pass.
    */
  def isProtocol(sfDir: String, subset: Boolean, parallelism: Int): Boolean =
    sfDir.contains("sf0.1") && !subset && parallelism == 32

  /** Persists the full record `json` in `dir`. */
  def writeRecord(dir: Path, json: String, cpus: Int, protocol: Boolean): Unit = {
    Files.writeString(dir.resolve(s"bench_last_c$cpus.json"), json + "\n")
    if (protocol) Files.writeString(dir.resolve("bench_last.json"), json + "\n")
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeTimes(path: Path, m: Map[String, Double])(fmt: Double => String): Unit =
    Files.writeString(path, m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${fmt(v)}" }.mkString("{\n", ",\n", "\n}\n"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the default is the driver's local[32] protocol
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = 2
    val wallT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - wallT0) / 1e9
    val spark = Session.protocol(cpus)
    // fixture-schema contract check (see Tables.fixtureDrift): surfaces
    // a driver-side fixture regeneration as readable lines up front
    Tables.fixtureDrift(spark, sfDir)
      .foreach(m => System.err.println(s"[fixture-drift] $m"))
    // build.sbt sets a 1g JIT code cache; a plain `java` launch keeps
    // the 240 MB default and the JIT shuts off mid-sweep
    val codeCacheOk = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .exists(_.contains("ReservedCodeCacheSize"))
    if (!codeCacheOk)
      System.err.println("WARN: -XX:ReservedCodeCacheSize not set on this JVM; " +
        "late-query timings may be JIT-degraded (see BASELINE.md harness note)")

    val dir = Paths.get("")
    val floors = retryFloors(dir)
    // Optional comma-separated subset for local iteration on one
    // query's plan (e.g. SPARK_GRAFT_BENCH_ONLY=q116_tfidf_pairs).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val protocolRun = isProtocol(sfDir, only.nonEmpty, spark.sparkContext.defaultParallelism)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    val osBean = ManagementFactory.getOperatingSystemMXBean
    def gcNowMs(): Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
    val merged = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.LinkedHashMap[String, String]()
    val gcMs = mutable.Map[String, Long]()
    val heapMb = mutable.Map[String, Long]()
    val runs = mutable.Map[String, Int]()
    val load = mutable.Map[String, Double]()
    val times = mutable.Map[String, Vector[Double]]() // every timed run, retries included

    def timeQuery(name: String): Double = {
      val fn = SparkEntry.queries(name)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcNowMs()
      def run(): Double = {
        runs(name) = runs.getOrElse(name, 0) + 1
        Session.timeRun(spark)(fn(spark, sfDir)).seconds
      }
      try {
        run() // warmup: JIT + codegen + file-listing caches
        val ts = Vector.fill(iters)(run())
        times(name) = times.getOrElse(name, Vector.empty) ++ ts
        ts.min
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          -1.0
      } finally {
        // a retry overwrites these with its own runs' figures
        gcMs(name) = gcNowMs() - gc0
        heapMb(name) = heapPools.map(p => math.max(p.getPeakUsage.getUsed, 0L)).sum >> 20
        // co-tenant CPU shows here; this JVM alone contributes up to ~cpus
        load(name) = osBean.getSystemLoadAverage
      }
    }

    for (n <- names) merged(n) = timeQuery(n)

    val retryDeadline = elapsed() + 90.0
    var retryBudget = 48
    for (wave <- 1 to 2) {
      val waveScale = hostScale(merged, floors)
      val suspects = retrySuspects(merged, floors, waveScale).take(retryBudget)
      retryBudget -= suspects.size
      for (n <- suspects if elapsed() < retryDeadline) {
        System.err.println(f"NOTE: $n at ${merged(n)}%.2fs > 2x floor " +
          f"${floors(n)}%.2fs x host_scale $waveScale%.3f — deferred re-time (wave $wave)")
        val t2 = timeQuery(n)
        if (t2 >= 0) merged(n) = math.min(merged(n), t2)
        else errors.remove(n) // first pass succeeded; a flaky retry is not a failure
      }
    }

    val total = names.map(merged).filter(_ >= 0).sum
    val hs = hostScale(merged, floors)
    val over = names.flatMap(n => floors.get(n).filter(over2x(merged(n), _, hs)).map(n -> merged(n) / _))
    val meds = times.map { case (n, ts) =>
      val s = ts.sorted
      n -> (if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
    }
    def perQuery[V](m: collection.Map[String, V])(fmt: V => String): String =
      names.flatMap(n => m.get(n).map(v => s"${jstr(n)}:${fmt(v)}")).mkString("{", ",", "}")
    val vars = meds.collect { case (n, med) if merged(n) > 0 => n -> med / merged(n) }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${perQuery(merged)(_.toString)},"sf":"$sfDir","iters":$iters,"failed":${errors.size},"errors":${perQuery(errors)(jstr)},"codecache_ok":$codeCacheOk,"gc_ms":${perQuery(gcMs)(_.toString)},"heap_mb":${perQuery(heapMb)(_.toString)},"runs":${perQuery(runs)(_.toString)},"loadavg":${perQuery(load)(v => f"$v%.1f")},"med":${perQuery(meds)(v => f"$v%.4f")},"var":${perQuery(vars)(v => f"$v%.2f")},"host_scale":${f"$hs%.3f"},"over2x":${perQuery(over.toMap)(v => f"$v%.2f")},"wall":${elapsed()}}"""
    println(json)
    System.out.flush()
    try writeRecord(dir, json, cpus, protocolRun)
    catch { case e: Throwable => System.err.println(s"WARN: bench record not written: $e") }
    if (protocolRun) try {
      writeTimes(dir.resolve("bench_floors.json"), minMerge(floors, merged))(_.toString)
      val medPath = dir.resolve("bench_medians.json")
      writeTimes(medPath, minMerge(readTimes(medPath), meds))(v => f"$v%.4f")
    } catch { case e: Throwable => System.err.println(s"WARN: floors not updated: $e") }

    if (protocolRun && Session.dumpPlans)
      for (n <- names)
        try Session.dumpPlan(spark, n)(SparkEntry.queries(n)(spark, sfDir))
        catch { case _: Throwable => () }

    spark.stop()
    val floorsTotal = readTimes(dir.resolve("bench_floors.json")).values.sum
    val detail = if (protocolRun) "bench_last.json" else s"bench_last_c$cpus.json"
    // the LAST stdout line; with spark stopped, nothing logs after it
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n":${names.size},"iters":$iters,"failed":${errors.size},"codecache_ok":$codeCacheOk,"loadavg_max":${load.values.foldLeft(0.0)(math.max)},"floors_total":$floorsTotal,"host_scale":${f"$hs%.3f"},"over2x":${over.size},"wall":${elapsed()},"detail":"$detail","detail_c":"bench_last_c$cpus.json"}""")
    System.out.flush()
    // local[n] leaves no work behind; exit promptly rather than wait
    // out lingering non-daemon threads (the REST stub's dispatcher)
    sys.exit(0)
  }
}
