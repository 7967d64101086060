package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark work attributed to one span of one op. */
final class Counters {
  var jobs, stages, tasks, taskMs, inputBytes, inputRecords,
    shuffleBytes, outputBytes, outputFiles = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleBytes += o.shuffleBytes; outputBytes += o.outputBytes
    outputFiles += o.outputFiles
  }
}

object Trace {
  /** Job-local property naming the span (`<name>#<op>`) a job belongs to.
    * A property of its own, not the job group or description: the
    * engine's `Par` helper sets a job group on its pool threads, which
    * would overwrite either. Local properties are inherited by threads a
    * traced thread creates, so `Par` legs stay attributed.
    */
  val SpanKey = "perfbench.span"

  def key(name: String, op: Int): String = s"$name#$op"
}

/** Benchmark-owned listener: sums jobs, stages, tasks, task time and bytes
  * per span key. Jobs started without a span property are counted in
  * [[unattributed]]. Files written come from the write commands' SQL
  * metric "number of written files", mapped to a span through the SQL
  * execution id of the jobs that ran the write.
  */
final class SpanListener extends SparkListener {
  private val bySpan = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val execSpan = mutable.HashMap.empty[Long, String]
  private val fileAccums = mutable.HashMap.empty[Long, Long]
  private var unattributedJobs = 0L
  /** Call sites of the first unattributed jobs, to find the missing span. */
  val unattributedSites = mutable.ArrayBuffer.empty[String]

  private def at(span: String): Counters =
    bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Trace.SpanKey))) match {
      case None =>
        unattributedJobs += 1
        if (unattributedSites.size < 5) unattributedSites ++=
          e.stageInfos.lastOption.map(s =>
            s.details.linesIterator.take(12).mkString(" | "))
      case Some(span) =>
        at(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execSpan.getOrElseUpdate(id.toLong, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = at(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def registerWrites(execId: Long, plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "number of written files")
      .foreach(m => fileAccums(m.accumulatorId) = execId)
    plan.children.foreach(registerWrites(execId, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        registerWrites(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        registerWrites(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        for ((id, v) <- d.accumUpdates; ex <- fileAccums.get(id);
             span <- execSpan.get(ex)) at(span).outputFiles += v
      case _ =>
    }
  }

  def unattributed: Long = synchronized(unattributedJobs)

  /** Counters of every span of op `op`, by span name. */
  def ofOp(op: Int): Map[String, Counters] = synchronized {
    val suffix = s"#$op"
    bySpan.collect { case (k, c) if k.endsWith(suffix) =>
      k.stripSuffix(suffix) -> c
    }.toMap
  }
}

final case class SpanRec(op: Int, name: String, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span helper. With tracing off every call is a plain pass-through: no
  * property, no listener, no record.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener: Option[SpanListener] =
    if (!enabled) None
    else { val l = new SpanListener; sc.addSparkListener(l); Some(l) }
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  /** Index of the op the next spans belong to; -1 outside ops. */
  var op: Int = -1
  private var stack: List[String] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Trace.SpanKey)
      val parent = stack.headOption.getOrElse("")
      sc.setLocalProperty(Trace.SpanKey, Trace.key(name, op))
      stack = name :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += SpanRec(op, name, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, prev)
      }
    }

  /** Spans opened by a phase hook (`onPhase`): each call closes the
    * previous phase and opens the next; [[PhaseSpans.close]] ends the last.
    */
  final class PhaseSpans(prefix: String) {
    private val prev = sc.getLocalProperty(Trace.SpanKey)
    private var cur: Option[(String, Long)] = None

    def enter(phase: String): Unit = if (enabled) {
      close()
      cur = Some((prefix + phase, System.nanoTime()))
      sc.setLocalProperty(Trace.SpanKey, Trace.key(prefix + phase, op))
    }

    def close(): Unit = if (enabled) {
      cur.foreach { case (name, t0) =>
        spans += SpanRec(op, name, stack.headOption.getOrElse(""), t0,
          System.nanoTime())
      }
      cur = None
      sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def opSpans(op: Int): Seq[SpanRec] = spans.filter(_.op == op).toSeq

  def opCounters(op: Int): Map[String, Counters] =
    listener.map { l => drain(); l.ofOp(op) }.getOrElse(Map.empty)
}

/** Step marks of a workflow that has no phase hook, taken from its own
  * progress log lines (`Step <n>: ...`, logged on the calling thread just
  * before step `n` runs): while [[during]] runs, each such line calls
  * `onStep(n)`. Installs an INFO logger of its own for `loggerName`, not
  * additive, so the lines reach no other appender.
  */
final class StepLog(loggerName: String) {
  private val StepLine = """Step (\d+): .*""".r
  @volatile private var onStep: Int => Unit = _ => ()

  private val appender = new AbstractAppender(s"perfbench-$loggerName",
      null, null, false, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case StepLine(n) => onStep(n.toInt)
        case _ =>
      }
  }

  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    appender.start()
    config.addAppender(appender)
    val logger = new LoggerConfig(loggerName, Level.INFO, false)
    logger.addAppender(appender, Level.INFO, null)
    config.addLogger(loggerName, logger)
    ctx.updateLoggers()
  }

  def during[A](step: Int => Unit)(body: => A): A = {
    onStep = step
    try body finally onStep = _ => ()
  }
}
