package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task, stage, job and SQL-execution records from Spark's public
  * listener bus. Events are kept as they arrive and assigned to passes and
  * queries afterwards by their timestamps, so nothing is aggregated inside
  * a timed region.
  */
final class StageProbe extends SparkListener {
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, outputBytes: Long)
  final case class Stage(stageId: Int, submitMs: Long, completeMs: Long, tasks: Int)
  final case class Interval(startMs: Long, endMs: Long)

  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val jobs = new ConcurrentLinkedQueue[Interval]()
  val sqlExecs = new ConcurrentLinkedQueue[Interval]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val events = new AtomicLong()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val s = e.stageInfo
    for (sub <- s.submissionTime; done <- s.completionTime)
      stages.add(Stage(s.stageId, sub, done, s.numTasks))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet(); jobStarts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStarts.remove(e.jobId)).foreach(start => jobs.add(Interval(start, e.time)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet(); sqlStarts.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      Option(sqlStarts.remove(s.executionId)).foreach(start => sqlExecs.add(Interval(start, s.time)))
    case _ =>
  }

  /** Waits until the asynchronous bus has delivered every event: no job
    * open and no new event for 300 ms (bounded at 10 s).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last && jobStarts.isEmpty) quiet += 1 else quiet = 0
      last = now
    }
  }
}

/** Operator and write-command metrics of every SQL execution, read from
  * the executed (AQE-final) plan through the public listener API.
  */
final class PlanProbe extends QueryExecutionListener {
  final case class Exec(plannedMs: Long, metrics: Map[String, Double])
  val execs = new ConcurrentLinkedQueue[Exec]()

  // Callbacks arrive asynchronously; the end of the execution's last
  // Catalyst phase dates it inside the query that ran it.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execs.add(Exec(qe.tracker.phases.values.map(_.endTimeMs).maxOption.getOrElse(-1L),
      PlanProbe.metrics(qe.executedPlan)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanProbe {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Sums of the operator metrics the benchmark reports. Timings are in
    * seconds, counts as counts.
    */
  def metrics(plan: SparkPlan): Map[String, Double] = {
    val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    def value(p: SparkPlan, name: String): Double = p.metrics.get(name) match {
      case Some(m) => m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
      case None => 0.0
    }
    nodes(plan).foreach { p =>
      val cls = p.getClass.getSimpleName
      if (cls.contains("Scan")) {
        acc("scan_rows") += value(p, "numOutputRows"); acc("scan_s") += value(p, "scanTime")
      }
      acc("codegen_s") += value(p, "pipelineTime")
      acc("agg_s") += value(p, "aggTime")
      acc("sort_s") += value(p, "sortTime")
      acc("join_build_s") += value(p, "buildTime")
      acc("shuffle_write_s") += value(p, "shuffleWriteTime")
      p match {
        case _: BaseJoinExec =>
          acc("joins") += 1; acc("join_rows_out") += value(p, "numOutputRows")
        case _ =>
      }
      if (p.metrics.contains("numFiles") && p.metrics.contains("numOutputBytes")) {
        acc("write_files") += value(p, "numFiles")
        acc("write_bytes") += value(p, "numOutputBytes")
        acc("write_rows") += value(p, "numOutputRows")
        acc("write_commit_s") += value(p, "taskCommitTime") + value(p, "jobCommitTime")
      }
    }
    acc.toMap
  }
}

/** Delegating parser that counts the SQL text reaching Spark's parser. */
final class CountingParser(delegate: ParserInterface) extends ParserInterface {
  private def count[T](text: String)(f: => T): T = {
    CountingParser.calls.incrementAndGet()
    CountingParser.chars.addAndGet(text.length)
    f
  }
  override def parsePlan(sqlText: String): LogicalPlan = count(sqlText)(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String): Expression = count(sqlText)(delegate.parseExpression(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier = count(sqlText)(delegate.parseTableIdentifier(sqlText))
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = count(sqlText)(delegate.parseFunctionIdentifier(sqlText))
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = count(sqlText)(delegate.parseMultipartIdentifier(sqlText))
  override def parseTableSchema(sqlText: String): StructType = count(sqlText)(delegate.parseTableSchema(sqlText))
  override def parseDataType(sqlText: String): DataType = count(sqlText)(delegate.parseDataType(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan = count(sqlText)(delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType = count(sqlText)(delegate.parseRoutineParam(sqlText))
}

object CountingParser {
  val calls = new AtomicLong()
  val chars = new AtomicLong()

  /** Injected after `GraftExtensions`, so it wraps graft's own parser. */
  val extension: SparkSessionExtensions => Unit =
    _.injectParser((_, parser) => new CountingParser(parser))
}

/** Largest heap occupancy reported after any collection in the JVM. */
object HeapProbe {
  private val peak = new AtomicLong()

  def install(): Unit = {
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ =>
    }
  }

  def peakBytes: Long = peak.get()
}
