package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchshim.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: a whole op (parent 0) or a layer
  * call inside it. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** What Spark did while one span was open, attributed through the job
  * group the tracer sets on the calling thread. */
final class ExecCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var taskWaitMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var resultBytes = 0L
}

/** Spans recorded by the benchmark's own code around each layer call, plus
  * a SparkListener and a QueryExecutionListener that attribute Spark's
  * counts to them. Everything is kept in memory and written at the end of
  * the run. A disabled tracer records nothing and registers no listener,
  * which is what the untimed-overhead comparison runs against. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = 0
  private var sc: SparkContext = _

  /** Job group (span id) → counts, filled by the listener thread. */
  val exec = mutable.HashMap.empty[String, ExecCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  /** Query executions finished while each op was open. */
  val queries = mutable.HashMap.empty[Int, mutable.ArrayBuffer[QueryExecution]]
  var evictedBlocks = 0L

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val self = this
    sc.addSparkListener(new SparkListener {
      private def counts(group: String) = exec.getOrElseUpdate(group, new ExecCounts)
      override def onJobStart(e: SparkListenerJobStart): Unit = self.synchronized {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("none")
        val c = counts(g)
        c.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = self.synchronized {
        stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageGroup.get(e.stageInfo.stageId).foreach { g => val c = counts(g); c.stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self.synchronized {
        val c = counts(stageGroup.getOrElse(e.stageId, "none"))
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        stageSubmitted.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.resultBytes += m.resultSize
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = self.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && !info.storageLevel.useMemory) evictedBlocks += 1
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        self.synchronized { queries.getOrElseUpdate(opId, mutable.ArrayBuffer.empty) += qe }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Run `f` as the op `name`; nested [[span]] calls become its children. */
  def op[A](name: String)(f: => A): A = {
    opId += 1
    span(name)(f)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.length + 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      if (sc != null) sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val start = System.nanoTime()
      try f
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        if (sc != null) {
          stack.headOption match {
            case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
            case None => sc.clearJobGroup()
          }
        }
        spans += Span(id, parent, opId, name, start, end)
      }
    }

  /** Wait for the listener bus, so the counts of the op just finished are
    * complete before they are read. */
  def settle(): Unit = if (enabled && sc != null && !sc.isStopped) ListenerBus.drain(sc)

  def countsOf(span: Span): ExecCounts = synchronized {
    exec.getOrElse(span.id.toString, new ExecCounts)
  }

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJsonLines: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("\n")
}

/** Scan-node row counts of executed plans, through adaptive query stages. */
object PlanScans extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  def rowsScanned(qe: QueryExecution): Long = collectWithSubqueries(qe.executedPlan) {
    case s: InMemoryTableScanExec => metric(s, "numOutputRows")
    case s: FileSourceScanExec => metric(s, "numOutputRows")
    case s: RDDScanExec => metric(s, "numOutputRows")
  }.sum

  /** Catalyst phase seconds (analysis, optimization, planning) of `qe`. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}
