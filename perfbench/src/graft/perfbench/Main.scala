package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Materialize

/** A workload: a closed loop with one client. `setup` generates the
  * inputs from the seed and builds initial state; each `iteration` runs
  * the timed operations through [[Run.op]] and registers output checks
  * through [[Run.check]], which run after the iteration's clock stops.
  */
trait Workload {
  def setup(dir: File): Unit
  /** Producer-side work for iteration `i`, outside the clock. */
  def prepare(i: Int): Unit = ()
  def iteration(i: Int): Unit
  /** Stops what `setup` started (streams); files stay for deletion. */
  def close(): Unit = ()
}

/** Workloads run back to back in one loop: one set-up, one iteration. */
final class Both(parts: Workload*) extends Workload {
  def setup(dir: File): Unit = parts.zipWithIndex.foreach { case (w, k) =>
    val d = new File(dir, s"part$k"); d.mkdirs(); w.setup(d)
  }
  override def prepare(i: Int): Unit = parts.foreach(_.prepare(i))
  def iteration(i: Int): Unit = parts.foreach(_.iteration(i))
  override def close(): Unit = parts.foreach(_.close())
}

/** One completed operation of an iteration: its wall time, the process CPU
  * time and the part of it spent in JIT compiler threads.
  */
final case class OpRecord(name: String, interactive: Boolean, ns: Long, cpuNs: Long, jitNs: Long,
                          var ok: Boolean)

/** CPU time of the whole JVM process: every thread, JIT compiler and GC
  * threads included, in 10 ms ticks. Time the host gives to other guests
  * (steal) is not charged to it, so it reads the same on a busy and on a
  * quiet host, where wall time does not.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ns(): Long = os.getProcessCpuTime
}

/** CPU time of the JVM's JIT compiler threads, from /proc/self/task, in
  * 10 ms ticks. The JIT is still compiling through the first warm
  * iterations, on cores the engine leaves idle; how much of that lands in
  * one iteration varies from run to run, so warm figures leave it out.
  * The JVM runs with a fixed set of compiler threads, so none exits and
  * takes its ticks along.
  */
object JitCpu {
  def ns(): Long = {
    var ticks = 0L
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks != null) tasks.foreach { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        if (name.contains("CompilerThre")) {
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          ticks += f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => }
    }
    ticks * 10000000L
  }
}

/** Shared state of one benchmark process. */
final class Run(val spark: SparkSession, val seed: Long, val small: Boolean) {
  val tracer = new Tracer(spark)
  val ops = ArrayBuffer[OpRecord]()
  private val checks = ArrayBuffer[(OpRecord, String, String, () => Boolean)]()
  val failures = ArrayBuffer[String]()
  /** Output digests by operation, for the self-check. */
  val digests = mutable.LinkedHashMap[String, String]()
  /** Ops per layer whose output check failed, for `L.failed`. */
  val checkFailedByLayer = mutable.Map[String, Int]().withDefaultValue(0)
  /** Per-iteration extras reported by a workload (name → value). */
  val extras = mutable.Map[String, Double]()
  private var leaked = 0

  /** One timed operation. An exception fails it and is not rethrown. */
  def op[T](name: String, interactive: Boolean = false)(body: => T): Option[T] = {
    val before = Materialize.liveIds(spark)
    inOp = ArrayBuffer()
    val j0 = JitCpu.ns()
    val c0 = Cpu.ns()
    val t0 = System.nanoTime()
    val r = try Right(tracer.span("bench", name)(body)) catch { case e: Throwable => Left(e) }
    val rec = OpRecord(name, interactive, System.nanoTime() - t0, Cpu.ns() - c0,
      JitCpu.ns() - j0, r.isRight)
    ops += rec
    inOp.foreach { case (layer, what, c) => checks += ((rec, layer, what, c)) }
    inOp = null
    leaked += (Materialize.liveIds(spark) -- before).size
    r.left.foreach { e =>
      failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      if (failures.length == 1) e.printStackTrace()
    }
    r.toOption
  }

  private var inOp: ArrayBuffer[(String, String, () => Boolean)] = null

  /** An output check of the running (or else the last) operation. It
    * runs after the iteration's clock stops; false or an exception
    * fails that operation.
    */
  def check(layer: String, what: String)(cond: => Boolean): Unit =
    if (inOp != null) inOp += ((layer, what, () => cond))
    else checks += ((ops.last, layer, what, () => cond))

  /** Run and clear the pending checks; returns (attempted, failed). */
  def settle(): (Int, Int) = {
    checks.foreach { case (rec, layer, what, c) =>
      val ok = try c() catch {
        case e: Throwable => failures += s"${rec.name}: $what threw $e"; false
      }
      if (!ok) {
        if (rec.ok) failures += s"${rec.name}: check failed: $what"
        checkFailedByLayer(layer) += 1
        rec.ok = false
      }
    }
    checks.clear()
    (ops.length, ops.count(!_.ok))
  }

  def takeLeaked(): Int = { val l = leaked; leaked = 0; l }

  private val coldDigests = mutable.Map[String, String]()

  /** Output check for an operation whose inputs do not change between
    * iterations: the first iteration runs the full `cold` check, later
    * ones must reproduce its output exactly.
    */
  def stableOutput(layer: String, key: String, out: String)(cold: => Boolean): Unit = {
    digests(key) = sha(out)
    if (!coldDigests.contains(key)) check(layer, s"$key output") {
      val ok = cold
      if (ok) coldDigests(key) = out
      ok
    } else check(layer, s"$key output equals the cold iteration's") {
      coldDigests(key) == out
    }
  }

  def sha(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
  }
}

/** The host's steal share from the first line of /proc/stat: time the
  * guest's CPUs were runnable but given to other guests. Printed so a
  * run on a busy host reads as one.
  */
final case class Steal(steal: Long, total: Long) {
  def since(o: Steal): Double =
    if (total > o.total) (steal - o.steal).toDouble / (total - o.total) else Double.NaN
}
object Steal {
  def read(): Steal = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val v = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    Steal(if (v.length > 7) v(7) else 0L, v.sum)
  } catch { case _: Exception => Steal(0L, 0L) }
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        small: Boolean, work: File, spans: Option[File])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.get("size").contains("small"), new File(need("work")),
      m.get("spans").map(new File(_)))
  }

  val Layers = Seq("sources", "trans", "raster", "catalog", "llm", "streaming")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  private def heapUsed(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  final case class Iter(i: Int, traced: Boolean, wallNs: Long, cpuNs: Long, jitNs: Long,
                        ops: Seq[OpRecord],
                        heapMb: Double, gcNs: Long, leaked: Int, pinnedPeak: Long,
                        compileNs: Long, classes: Long, extras: Map[String, Double],
                        checkFailed: Map[String, Int])

  private def run(a: Args): Int = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // an idle stream lists its source every pollingDelay; at the 10 ms
      // default that is CPU in proportion to wall time, which a busy host
      // stretches
      .config("spark.sql.streaming.pollingDelay", "100ms")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after the session: Spark only installs its stderr console appender
    // when the root logger has no appender of its own yet
    CodegenFallbacks.install()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val sessionS = since(t0)
    // the JVM's CPU time so far: boot, class loading and session start
    val sessionCpuS = Cpu.ns() / 1e9
    val steal0 = Steal.read()

    val run = new Run(spark, a.seed, a.small)
    def make(): Workload = a.workload match {
      case "raster_pipeline" => new RasterPipeline(run)
      case "dedup_index" => new Both(new DedupLoops(run), new IndexChurn(run))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up runs several times; the last one's state is measured
    val setupReps = 3
    var w: Workload = null
    val (setupS, setupCpuS) = (0 until setupReps).map { r =>
      if (w != null) w.close()
      val dir = new File(a.work, s"setup$r"); dir.mkdirs()
      w = make()
      val c = Cpu.ns()
      val t = System.nanoTime()
      w.setup(dir)
      (since(t), (Cpu.ns() - c) / 1e9)
    }.unzip
    val keepIds = Materialize.liveIds(spark)

    // the listeners stay registered so the pinned-block total stays
    // exact; without open spans they attribute nothing
    val collector = new Collector(run.tracer)
    if (a.trace) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(new PhaseListener(run.tracer))
    }
    def traced(on: Boolean): Unit = if (a.trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      run.tracer.enabled = on
    }

    val iters = ArrayBuffer[Iter]()
    var attempted = 0; var failed = 0
    var warmNs = 0L
    val minWarm = if (a.trace) 2 else 1
    def warmDone = iters.length - 1
    while (iters.isEmpty ||
        ((warmNs < a.seconds * 1000000000L || warmDone < minWarm) && since(t0) < 140)) {
      val i = iters.length
      // trace mode: the cold iteration and every other warm one are traced
      val tr = a.trace && (i == 0 || i % 2 == 0)
      w.prepare(i)
      traced(tr)
      collector.resetPeak()
      run.tracer.iter = i
      run.extras.clear()
      val gc0 = gcNs()
      val comp0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val cls0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jit0 = JitCpu.ns()
      val cpu0 = Cpu.ns()
      val it0 = System.nanoTime()
      run.tracer.span("bench", "iteration")(w.iteration(i))
      val wall = System.nanoTime() - it0
      val cpu = Cpu.ns() - cpu0
      val jit = JitCpu.ns() - jit0
      val gc = gcNs() - gc0
      val comp = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - comp0
      val cls = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cls0
      // live heap at the iteration's end, with its persisted blocks still
      // held. The first GC lets the context cleaner drop broadcasts and
      // shuffles whose references died; the pause lets it and the
      // operations' asynchronous unpersists finish before the sample.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val heap = heapUsed() / 1048576.0
      traced(false)
      val leaked = run.takeLeaked()
      Materialize.releaseAll(spark, keepIds)
      val (at, fl) = run.settle()
      attempted += at; failed += fl
      iters += Iter(i, tr, wall, cpu, jit, run.ops.toList, heap, gc, leaked, collector.pinnedPeak,
        comp, cls, run.extras.toMap, run.checkFailedByLayer.toMap)
      run.checkFailedByLayer.clear()
      run.ops.clear()
      if (i > 0) warmNs += wall
    }
    w.close()

    val cold = iters.head
    val warm = iters.tail.toSeq
    val warmUntraced = if (a.trace) warm.filter(!_.traced) else warm
    val interactiveOps = warm.flatMap(_.ops.filter(_.interactive))
    val interactive = interactiveOps.map(o => (o.cpuNs - o.jitNs) / 1e6)
    val e2e = Seq(
      ("setup_s", "s", sessionCpuS + median(setupCpuS)),
      ("cold_cpu_s", "s", cold.cpuNs / 1e9),
      ("warm_cpu_s", "s", median(warmUntraced.map(it => (it.cpuNs - it.jitNs) / 1e9))),
      // a mean, not a median: the reads mix sizes and routes, so their CPU
      // times fall in clusters, and a median of a dozen jumps between them
      ("op_cpu_ms_mean", "ms", interactive.sum / math.max(1, interactive.length)),
      ("peak_heap_mb", "MB", iters.map(_.heapMb).max))
    // the same quantities in wall time, printed for reading; per-layer
    // metrics with --trace 1
    val wall = Seq(
      ("wall.setup_s", "s", sessionS + median(setupS)),
      ("wall.cold_s", "s", cold.wallNs / 1e9),
      ("wall.warm_s", "s", median(warmUntraced.map(_.wallNs / 1e9))),
      ("wall.op_ms_p50", "ms", median(interactiveOps.map(_.ns / 1e6))))
    val stealFrac = Steal.read().since(steal0)
    println(f"workload ${a.workload} seed ${a.seed} cpus $cpus size ${if (a.small) "small" else "full"}" +
      f" trace ${if (a.trace) 1 else 0}: 1 cold + ${warm.length} warm iterations" +
      f" (${warmUntraced.length} untraced), ${interactive.length} interactive ops")
    println(f"  session start ${sessionS}%.3f s (CPU $sessionCpuS%.3f s), set-ups ${
      setupS.map(s => f"$s%.3f").mkString(" ")} s (CPU ${setupCpuS.map(s => f"$s%.3f").mkString(" ")} s)")
    println(f"  iterations wall ${iters.map(it => f"${it.wallNs / 1e9}%.3f").mkString(" ")} s," +
      f" CPU ${iters.map(it => f"${it.cpuNs / 1e9}%.3f").mkString(" ")} s, of which JIT" +
      f" ${iters.map(it => f"${it.jitNs / 1e9}%.2f").mkString(" ")} s; host steal $stealFrac%.3f of CPU time")
    (e2e ++ wall).foreach { case (k, u, v) => println(f"  $k%-14s $v%12.4f $u") }
    // with tens of samples per run no tail percentile has ten samples
    // beyond it, so p95 is printed for reading, not reported as a metric
    if (interactive.nonEmpty) println(f"  op_cpu_ms p50 ${median(interactive)}%.4f, p95 ${
      pct(interactive, 0.95)}%.4f ms (n ${interactive.length})")
    println(f"  failed_ratio   ${failed.toDouble / math.max(1, attempted)}%12.4f ($failed of $attempted operations)")
    println(f"  codegen_fallbacks ${CodegenFallbacks.count}")
    warm.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      println(f"  op $n%-16s n ${os.length}%4d  median ${median(os.map(_.ns / 1e6))}%10.1f ms" +
        f" (CPU ${median(os.map(o => (o.cpuNs - o.jitNs) / 1e6))}%.1f ms, JIT" +
        f" ${median(os.map(_.jitNs / 1e6))}%.1f ms)")
    }
    run.failures.take(10).foreach(f => println(s"  FAILED $f"))

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) e2e
      else layerMetrics(a, run, iters.toSeq, cold, warm, cpus) ++ wall
    if (a.trace) println(s"  digests ${run.digests.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    a.spans.foreach(f => writeSpans(f, run.tracer.spans))
    val body = metrics.map { case (k, u, v) =>
      s""""$k": {"value": ${jnum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
    0
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Per-layer metrics from the traced iterations. */
  private def layerMetrics(a: Args, run: Run, iters: Seq[Iter], cold: Iter, warm: Seq[Iter],
                           cpus: Int): Seq[(String, String, Double)] = {
    org.apache.spark.perfbench.Bus.drain(run.spark.sparkContext)
    val spans = run.tracer.spans
    val tracedWarm = warm.filter(_.traced)
    val byIter = spans.groupBy(_.iter)
    def selfNs(s: Span, kids: Map[Int, Seq[Span]]): Long =
      s.durNs - kids.getOrElse(s.id, Nil).map(_.durNs).sum
    // one map of metric → value per traced warm iteration, then medians
    val per = tracedWarm.map { it =>
      val ss = byIter.getOrElse(it.i, Nil)
      val kids = ss.filter(_.parent.isDefined).groupBy(_.parent.get.id)
      val m = mutable.LinkedHashMap[String, Double]()
      for (l <- Layers) {
        val ls = ss.filter(_.layer == l)
        m(s"$l.self_s") = ls.map(selfNs(_, kids)).sum / 1e9
        m(s"$l.build_s") = ls.map(_.buildNs).sum / 1e9
        m(s"$l.jobs") = ls.map(_.jobs).sum.toDouble
        m(s"$l.stages") = ls.map(_.stages).sum.toDouble
        m(s"$l.tasks") = ls.map(_.tasks).sum.toDouble
        m(s"$l.failed") = (ls.count(_.failed) + it.checkFailed.getOrElse(l, 0)).toDouble
      }
      m("bench.self_s") = ss.filter(_.layer == "bench").map(selfNs(_, kids)).sum / 1e9
      val selfSum = (Layers.map(l => m(s"$l.self_s")) :+ m("bench.self_s")).sum
      println(f"  iteration ${it.i}: self times sum to $selfSum%.4f s, iteration span ${
        ss.filter(_.parent.isEmpty).map(_.durNs).sum / 1e9}%.4f s")
      m("spark.scheduler.jobs") = ss.map(_.jobs).sum.toDouble
      m("spark.scheduler.stages") = ss.map(_.stages).sum.toDouble
      m("spark.scheduler.tasks") = ss.map(_.tasks).sum.toDouble
      val opSpans = ss.filter(s => s.layer == "bench" && s.depth == 1)
      val inter = it.ops.filter(_.interactive).map(_.name).toSet
      val interSpans = opSpans.filter(s => inter.contains(s.name))
      def under(root: Span): Seq[Span] = {
        def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(go)
        go(root)
      }
      val interAll = interSpans.flatMap(under)
      val nInter = math.max(1, interSpans.length)
      m("spark.scheduler.jobs_per_op") = interAll.map(_.jobs).sum.toDouble / nInter
      m("spark.catalyst.analysis_s") = interAll.map(_.analysisMs).sum / 1e3 / nInter
      m("spark.catalyst.optimization_s") = interAll.map(_.optimizationMs).sum / 1e3 / nInter
      m("spark.catalyst.planning_s") = interAll.map(_.planningMs).sum / 1e3 / nInter
      val taskS = ss.map(_.taskNs).sum / 1e9
      m("spark.executor.task_s") = taskS
      m("spark.executor.cpu_s") = ss.map(_.cpuNs).sum / 1e9
      m("spark.executor.busy_frac") = taskS / (cpus * it.wallNs / 1e9)
      m("spark.shuffle.write_mb") = ss.map(_.shuffleWrite).sum / 1048576.0
      m("spark.shuffle.spill_mb") = ss.map(_.spill).sum / 1048576.0
      m("jvm.gc_s") = it.gcNs / 1e9
      m("core.pinned_mb_peak") = it.pinnedPeak / 1048576.0
      m("core.leaked_rdds") = it.leaked.toDouble
      val updates = opSpans.filter(_.name == "update").flatMap(under)
      m("llm.store_write_mb_per_update") = updates.map(_.written).sum / 1048576.0
      m("update_s") = opSpans.filter(_.name == "update").map(_.durNs).sum / 1e9
      Seq("sources.decode_px_per_window_px", "llm.store_mb_after_compact", "streaming.poll_cpu_s")
        .foreach(k => m(k) = it.extras.getOrElse(k, 0.0))
      m
    }
    val keys = per.head.keys.toSeq
    val untraced = warm.filter(!_.traced).map(_.wallNs / 1e9)
    val tracedS = tracedWarm.map(_.wallNs / 1e9)
    val unit = (k: String) =>
      if (k.endsWith("_s")) "s" else if (k.endsWith("_mb") || k.contains("_mb_")) "MB"
      else if (k.endsWith("_frac") || k.contains("_per_")) "ratio" else "count"
    val fromWarm = keys.map(k => (k, unit(k), median(per.map(_(k)))))
    fromWarm ++ Seq(
      ("spark.codegen.compile_s", "s", cold.compileNs / 1e9),
      ("spark.codegen.classes", "count", cold.classes.toDouble),
      ("spark.codegen.fallbacks", "count", CodegenFallbacks.count.toDouble),
      ("trace.overhead_s", "s", median(tracedS) - median(untraced)))
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent.map(_.id).getOrElse(-1)}, "iter": ${s.iter}, """ +
        s""""layer": "${s.layer}", "name": "${s.name}", "start_ms": ${s.ms0}, "dur_ms": ${s.durNs / 1e6}, """ +
        s""""build_ms": ${s.buildNs / 1e6}, "jobs": ${s.jobs}, "stages": ${s.stages}, "tasks": ${s.tasks}, """ +
        s""""task_ms": ${s.taskNs / 1e6}, "shuffle_write_bytes": ${s.shuffleWrite}, "written_bytes": ${s.written}, """ +
        s""""failed": ${s.failed}}""")
    } finally w.close()
  }
}
