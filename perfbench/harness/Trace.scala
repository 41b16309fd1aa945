package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-engine counters collected from outside graft: a SparkListener
  * (jobs, stages, tasks and task metrics), a QueryExecutionListener
  * (planning phases) and the codegen compile log. Lives under
  * `org.apache.spark` only to reach `listenerBus.waitUntilEmpty`, so a
  * timed call's events are all counted before its deltas are read.
  */
final class EngineTrace(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  /** (launch, finish) epoch-ms of every finished task, for idle time. */
  val taskSpans = mutable.ArrayBuffer[(Long, Long)]()

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  def snapshot(): Map[String, Double] = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      c.toMap + ("codegen_compiles" -> EngineTrace.compiles.toDouble) +
        ("codegen_compile_s" -> EngineTrace.compileMs / 1e3)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    synchronized { taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
    val m = e.taskMetrics
    if (m != null) {
      add("executor_run_s", m.executorRunTime / 1e3)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("task_deser_s", m.executorDeserializeTime / 1e3)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    add("planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def register(s: SparkSession): Unit = s.listenerManager.register(this)
}

object EngineTrace {
  @volatile private var compiles = 0L
  @volatile private var compileMs = 0.0
  private val Msg = """Code generated in ([0-9.Ee+-]+) ms""".r.unanchored

  /** Count janino compiles and their time from CodeGenerator's own INFO
    * line. The line is consumed here, never printed.
    */
  def captureCodegen(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Msg(ms) => EngineTrace.synchronized {
            compiles += 1; compileMs += ms.toDouble }
          case _ => ()
        }
    }
    app.start()
    cfg.addAppender(app)
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** Benchmark-side spans around calls into graft's modules. Self time is
  * a span's duration minus the part its child spans cover.
  */
final class Spans(on: Boolean) {
  private final class Open(val name: String, val t0: Long) { var child = 0L }
  private val stack = mutable.ArrayBuffer[Open]()
  val self = mutable.LinkedHashMap[String, (Int, Long)]()

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val o = new Open(name, System.nanoTime())
      stack += o
      try body
      finally {
        val dur = System.nanoTime() - o.t0
        stack.remove(stack.size - 1)
        stack.lastOption.foreach(_.child += dur)
        val (n, ns) = self.getOrElse(name, (0, 0L))
        self(name) = (n + 1, ns + dur - o.child)
      }
    }
}
