package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code, or a Spark job that
  * ran inside one. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      var end: Long = 0L, attrs: Map[String, String] = Map.empty)

/** In-memory span store; written out once, when the run ends. */
final class Trace {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  def open(name: String, parent: Int, attrs: Map[String, String] = Map.empty,
           start: Long = Clock.epochNs()): Span = synchronized {
    val s = Span(ids.incrementAndGet().toInt, parent, name, start, attrs = attrs)
    spans += s; s
  }
  def close(s: Span, end: Long = Clock.epochNs()): Unit = synchronized { s.end = end }
  def all: Seq[Span] = synchronized(spans.toList)

  /** name -> (count, total seconds, self seconds); self time is a span's
    * duration minus the part of it its children cover. */
  def summary: Map[String, (Int, Double, Double)] = {
    val ss = all.filter(_.end > 0)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(s => s.end - s.start).sum
      val self = group.map { s =>
        val covered = Clock.unionNs(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> ((group.size, total / 1e9, self / 1e9))
    }
  }
}

object Clock {
  /** Wall clock in epoch nanoseconds (microsecond resolution), comparable
    * with the launcher's `time.time_ns()`. */
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    covered + (curE - curS)
  }
}

/** Counters of one query phase (`operator.build` or `action`), filled by
  * [[Meter]] from Spark's listener events. */
final class Counters {
  val jobs = new AtomicLong; val stages = new AtomicLong
  val tasks = new AtomicLong; val failedTasks = new AtomicLong
  val runMs = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong; val shuffleRead = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spillMemory = new AtomicLong; val spillDisk = new AtomicLong
  val scanBytes = new AtomicLong; val scanRecords = new AtomicLong
  /** (start, end) epoch ms of every job launched in the phase */
  val jobIntervals = new ConcurrentHashMap[Int, (Long, Long)]()
}

/** Catalyst counters of one query, from [[QueryExecutionListener]]. */
final class CatalystCounters {
  val executions = new AtomicLong
  val analysisMs = new AtomicLong; val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
}

/** The traced run's listener pair. Jobs are attributed to the phase span
  * named by the [[Meter.SpanKey]] local property that was set when they
  * were submitted; query executions go to the query being measured
  * (queries run one at a time and the bus is drained between them). */
final class Meter(trace: Trace) extends SparkListener with QueryExecutionListener {
  val byPhase = new ConcurrentHashMap[Int, Counters]()
  private val jobPhase = TrieMap.empty[Int, Int]
  private val stagePhase = TrieMap.empty[Int, Int]
  @volatile var catalyst: CatalystCounters = new CatalystCounters

  def counters(phaseSpan: Int): Counters =
    byPhase.computeIfAbsent(phaseSpan, _ => new Counters)

  private def phaseOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Meter.SpanKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = phaseOf(e.properties)
    .foreach { ph =>
      val c = counters(ph)
      c.jobs.incrementAndGet()
      c.jobIntervals.put(e.jobId, (e.time, e.time))
      jobPhase.put(e.jobId, ph)
      e.stageIds.foreach(s => stagePhase.put(s, ph))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobPhase.remove(e.jobId).foreach { ph =>
      val c = counters(ph)
      val start = c.jobIntervals.get(e.jobId)._1
      c.jobIntervals.put(e.jobId, (start, e.time))
      trace.close(trace.open("spark.job", ph, Map("job" -> e.jobId.toString),
        start = start * 1000000L), e.time * 1000000L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagePhase.get(e.stageInfo.stageId).foreach(ph =>
      counters(ph).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stagePhase.get(e.stageId).foreach { ph =>
      val c = counters(ph)
      c.tasks.incrementAndGet()
      if (e.reason != Success) c.failedTasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        c.spillMemory.addAndGet(m.memoryBytesSpilled)
        c.spillDisk.addAndGet(m.diskBytesSpilled)
        c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
        c.scanRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }

  private def phases(qe: QueryExecution): Unit = {
    val c = catalyst
    c.executions.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs.addAndGet(ms("analysis"))
    c.optimizationMs.addAndGet(ms("optimization"))
    c.planningMs.addAndGet(ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

object Meter {
  val SpanKey = "perfbench.span"
}

/** Counts Spark's codegen-fallback log messages: a whole-stage plan or an
  * expression that failed to compile (or grew past the method-size limit)
  * and silently ran interpreted instead. Installed after the session is
  * built, so Spark's own logging set-up cannot replace it. */
object CodegenFallbacks {
  val Patterns: Seq[String] = Seq(
    "Whole-stage codegen disabled for plan",
    "Found too long generated codes",
    "Expr codegen error and falling back to interpreter mode")
  val Loggers: Seq[String] = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")
  private val n = new AtomicLong
  def count: Long = n.get

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-fallbacks", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (Patterns.exists(e.getMessage.getFormattedMessage.contains))
          n.incrementAndGet()
    }
    app.start()
    val cfg = ctx.getConfiguration
    // INFO, because the method-size fallback is logged at INFO
    Loggers.foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, true)
      lc.addAppender(app, null, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}
