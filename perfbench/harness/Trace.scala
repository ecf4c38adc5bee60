package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store of one benchmark JVM. Listeners and the
  * harness append JSON lines; the harness writes them out once, when
  * the run ends. Times are epoch milliseconds. */
object TraceStore {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()
  def add(line: String): Unit = lines.add(line)
  def all: Seq[String] = lines.asScala.toSeq :+
    s"""{"kind":"trace_cost","listener_ns":${listenerNs.get}}"""

  /** Runs a listener callback, charging its time to the trace. */
  def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t)
  }

  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Job, stage and task-metric spans of every SparkContext the run
  * starts, registered from outside the program with
  * `spark.extraListeners`. */
class TraceListener(conf: SparkConf) extends SparkListener {
  private val app = conf.getOption("spark.app.id").getOrElse("")
  private case class StageAcc(var run: Long = 0, var cpu: Long = 0,
                              var gc: Long = 0, var shR: Long = 0,
                              var shW: Long = 0, var memSpill: Long = 0,
                              var diskSpill: Long = 0, var inB: Long = 0,
                              var inRec: Long = 0, var outB: Long = 0,
                              var tasks: Int = 0,
                              spans: StringBuilder = new StringBuilder)
  private val stages = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), StageAcc]()
  // SparkContext registers extra listeners at the end of its start-up
  TraceStore.add(s"""{"kind":"context","app":"$app",""" +
    s""""start":${conf.get("spark.app.startTime", "0")},""" +
    s""""ready":${System.currentTimeMillis()}}""")

  override def onJobStart(e: SparkListenerJobStart): Unit = TraceStore.timed {
    // the result stage is created last and carries the job's call site
    val result = e.stageInfos.maxByOption(_.stageId)
    val sql = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-1")
    TraceStore.add(s"""{"kind":"job","app":"$app","id":${e.jobId},"sql":$sql,""" +
      s""""start":${e.time},"stages":${e.stageIds.mkString("[", ",", "]")},""" +
      s""""site":${TraceStore.str(result.map(_.name).orNull)},""" +
      s""""site_long":${TraceStore.str(result.map(_.details).orNull)}}""")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = TraceStore.timed {
    TraceStore.add(s"""{"kind":"job_end","app":"$app","id":${e.jobId},""" +
      s""""end":${e.time}}""")
  }

  /** An adaptive plan launches its stage jobs from other threads, so
    * their own call site is Spark's; the SQL execution keeps the
    * action's. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      TraceStore.timed {
        TraceStore.add(s"""{"kind":"sql","app":"$app","id":${s.executionId},""" +
          s""""site_long":${TraceStore.str(s.details)}}""")
      }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = TraceStore.timed {
    val acc = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => StageAcc())
    val m = e.taskMetrics
    acc.synchronized {
      acc.tasks += 1
      if (e.taskInfo != null) {
        if (acc.spans.nonEmpty) acc.spans.append(',')
        acc.spans.append(s"[${e.taskInfo.launchTime},${e.taskInfo.finishTime}]")
      }
      if (m != null) {
        acc.run += m.executorRunTime
        acc.cpu += m.executorCpuTime
        acc.gc += m.jvmGCTime
        acc.shR += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        acc.shW += m.shuffleWriteMetrics.bytesWritten
        acc.memSpill += m.memoryBytesSpilled
        acc.diskSpill += m.diskBytesSpilled
        acc.inB += m.inputMetrics.bytesRead
        acc.inRec += m.inputMetrics.recordsRead
        acc.outB += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    TraceStore.timed {
      val i = e.stageInfo
      val acc = Option(stages.remove((i.stageId, i.attemptNumber())))
        .getOrElse(StageAcc())
      acc.synchronized {
        TraceStore.add(s"""{"kind":"stage","app":"$app","id":${i.stageId},""" +
          s""""attempt":${i.attemptNumber()},"name":${TraceStore.str(i.name)},""" +
          s""""num_tasks":${i.numTasks},""" +
          s""""start":${i.submissionTime.getOrElse(0L)},""" +
          s""""end":${i.completionTime.getOrElse(0L)},"tasks":${acc.tasks},""" +
          s""""run_ms":${acc.run},"cpu_ns":${acc.cpu},"gc_ms":${acc.gc},""" +
          s""""shuffle_read_b":${acc.shR},"shuffle_write_b":${acc.shW},""" +
          s""""spill_mem_b":${acc.memSpill},"spill_disk_b":${acc.diskSpill},""" +
          s""""input_b":${acc.inB},"input_rows":${acc.inRec},""" +
          s""""output_b":${acc.outB},"task_spans":[${acc.spans}]}""")
      }
    }
}

/** Catalyst phase times of every executed query, registered with
  * `spark.sql.queryExecutionListeners`. */
class TracePlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = TraceStore.timed {
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    TraceStore.add(s"""{"kind":"plan","start":$start,""" +
      s""""analysis_ms":${ms("analysis")},"optimization_ms":${ms("optimization")},""" +
      s""""planning_ms":${ms("planning")}}""")
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
}

/** Captures the SparkConf an entry point builds its session with. */
class ConfCapture(conf: SparkConf) extends SparkListener {
  ConfCapture.captured = conf.getAll.toSeq
}

object ConfCapture {
  @volatile var captured: Seq[(String, String)] = Nil
}
