package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory recorder behind the traced run: one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener. Every number is
  * keyed by the SQL execution id or the job it belongs to, never kept in
  * a session-wide running counter, so an op's numbers are exactly the
  * events carrying its ids. Listeners are registered only while an op
  * that should be traced runs; the bus is drained before anything is
  * read. */
final class Tracer(spark: SparkSession) {

  final class Agg {
    var tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes, outputBytes, recordsRead = 0L
    var firstTaskMs = Long.MaxValue
    def toMap: Map[String, Any] = Map(
      "tasks" -> tasks, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "shuffle_bytes" -> (shuffleRead + shuffleWrite), "spill_bytes" -> spill,
      "input_bytes" -> inputBytes, "output_bytes" -> outputBytes, "records_read" -> recordsRead,
      "first_task_ms" -> (if (firstTaskMs == Long.MaxValue) null else firstTaskMs))
  }

  final class Exec(val id: Long) {
    @volatile var start, end = -1L
    @volatile var qe: QueryExecution = _
    def plan: Plan = Option(qe).flatMap(q => Option(plans.get(q))).getOrElse(Plan("", Nil, "", 0.0, 0L))
  }

  /** What the QueryExecutionListener saw of one query. */
  final case class Plan(func: String, cols: Seq[String], path: String, planMs: Double, files: Long)

  final class Job(val id: Int, val execId: Long, val group: String, val submitMs: Long) {
    @volatile var endMs = -1L
    val agg = new Agg
  }

  val execs = new ConcurrentHashMap[Long, Exec]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  // keyed by identity: the execution-end event carries the same object
  private val plans = java.util.Collections.synchronizedMap(new java.util.IdentityHashMap[QueryExecution, Plan]())
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  private def exec(id: Long): Exec = execs.computeIfAbsent(id, i => new Exec(i))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val j = new Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("spark.jobGroup.id").getOrElse(""), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.putIfAbsent(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.agg.firstTaskMs = math.min(j.agg.firstTaskMs, e.taskInfo.launchTime)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val a = j.agg
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => exec(s.executionId).start = s.time
      case s: SparkListenerSQLExecutionEnd =>
        val x = exec(s.executionId)
        x.end = s.time
        x.qe = SparkInternals.queryExecution(s)
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = plans.put(qe, Plan(
      funcName,
      qe.analyzed.output.map(_.name),
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
        .getOrElse(""),
      qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum,
      qe.executedPlan.collect {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private var registered = false

  /** Listeners are attached only while a traced op runs. */
  def setEnabled(on: Boolean): Unit = if (on != registered) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    registered = on
  }

  def drain(): Unit = SparkInternals.drain(spark.sparkContext)

  /** Waits (bounded) until the progress event of streaming batch `id` has
    * arrived: it is posted after the batch commits, which can be after
    * `processAllAvailable` returns. */
  def awaitProgress(id: Long, timeoutMs: Long = 5000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!progress.asScala.exists(_("batch_id") == id) && System.currentTimeMillis() < until) {
      drain()
      Thread.sleep(2)
    }
    drain()
  }
}
