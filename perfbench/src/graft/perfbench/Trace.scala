package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: the benchmark opens a span around every call it
  * makes into an engine module, and around each operation and
  * iteration. Spark jobs, stages, tasks and Catalyst phases are
  * attributed to the innermost span that was open when they started.
  */
final class Span(val id: Int, val parent: Option[Span], val layer: String,
                 val name: String, val iter: Int) {
  val t0: Long = System.nanoTime()
  val ms0: Long = System.currentTimeMillis()
  @volatile var t1: Long = 0L
  @volatile var ms1: Long = Long.MaxValue
  var buildNs = 0L
  var failed = false
  // filled from the listener bus thread, read after Bus.drain
  var jobs, stages, tasks = 0L
  var taskNs, cpuNs, shuffleWrite, spill, written = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  def durNs: Long = t1 - t0
  def depth: Int = parent.map(_.depth + 1).getOrElse(0)
  def contains(ms: Long): Boolean = ms0 <= ms && ms <= ms1
}

final class Tracer(spark: SparkSession) {
  import Tracer.Prop

  private val all = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  @volatile var enabled = false
  var iter = -1

  def spans: Seq[Span] = synchronized(all.toList)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = new Span(all.length, stack.headOption, layer, name, iter)
        all += s; s
      }
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.t1 = System.nanoTime(); s.ms1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A call into `layer` whose whole cost is the call itself. */
  def call[A](layer: String, name: String)(build: => A): A =
    act(layer, name)(build)(identity)

  /** A call into `layer` that returns a plan, then the benchmark's
    * action on it. Both run in one span; `build_s` is the call alone.
    */
  def act[A, B](layer: String, name: String)(build: => A)(action: A => B): B =
    span(layer, name) {
      val t = System.nanoTime()
      val a = build
      stack.headOption.filter(_ => enabled).foreach(_.buildNs += System.nanoTime() - t)
      action(a)
    }

  /** The span a job or query belongs to: the one named by the thread's
    * local property when its interval holds the start time, else the
    * innermost span open at that time (streaming micro-batches run on
    * their own thread, whose properties date from the query's start).
    */
  def attribute(prop: Option[Int], ms: Long): Option[Span] = synchronized {
    prop.filter(_ < all.length).map(all(_)).filter(_.contains(ms))
      .orElse(all.reverseIterator.filter(_.contains(ms)).maxByOption(_.depth))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Listener that attributes scheduler, executor and shuffle counts to
  * spans, and tracks the bytes of RDD blocks pinned in the block
  * manager (persist / localCheckpoint).
  */
final class Collector(tracer: Tracer) extends SparkListener {
  private val stageSpan = mutable.Map[Int, Span]()
  private val blocks = mutable.Map[String, Long]()
  @volatile var pinned = 0L
  @volatile var pinnedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt)
    tracer.attribute(prop, e.time).foreach { s =>
      s.jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskNs += m.executorRunTime * 1000000L
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.written += m.outputMetrics.bytesWritten
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      val old = blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      pinned += size - old
      pinnedPeak = math.max(pinnedPeak, pinned)
    }
  }

  def resetPeak(): Unit = pinnedPeak = pinned
}

/** Catalyst phase times of every Dataset action, attributed by the
  * time its planning started.
  */
final class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.get("planning").orElse(ph.get("analysis")).foreach { at =>
      tracer.attribute(None, at.startTimeMs).foreach { s =>
        def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
        s.analysisMs += ms("analysis")
        s.optimizationMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    }
  }
}

/** Loud-failure counter for silent codegen fallbacks: a log appender
  * that counts Spark's "falls back to interpreter" / "codegen disabled"
  * / "failed to compile" messages and prints the first one.
  */
object CodegenFallbacks {
  private val patterns = Seq("falls back to interpreter", "codegen disabled",
    "failed to compile")
  private val n = new AtomicInteger()
  def count: Int = n.get()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = String.valueOf(e.getMessage.getFormattedMessage)
        if (patterns.exists(p => m.toLowerCase.contains(p)) && n.incrementAndGet() == 1)
          System.err.println(s"perfbench: first codegen fallback: ${m.take(4000)}")
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
  }
}
