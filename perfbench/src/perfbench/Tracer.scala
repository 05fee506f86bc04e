package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what each Spark layer did, from outside graft: scheduler and
  * executor events from a SparkListener, Catalyst phase times and scan
  * metrics from a QueryExecutionListener, SQL execution intervals,
  * micro-batch phases from a
  * StreamingQueryListener, and codegen compile times from the
  * CodeGenerator's own log line. Events are kept in memory as plain maps
  * and written out once, after the measured window; spans and self times
  * are built from them by the Python side (perfbench/stats.py).
  *
  * All times are epoch milliseconds (Spark's listener clock); the
  * benchmark's own op spans use [[Clock.nowMs]], which shares that epoch
  * with sub-millisecond resolution. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val compiles = ArrayBuffer.empty[Map[String, Any]]
  private val executions = ArrayBuffer.empty[Map[String, Any]]
  private val executionStart = scala.collection.mutable.Map.empty[Long, Double]
  @volatile private var peakHeapBytes = 0L

  private val jobStart = scala.collection.mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private final class StageAcc {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var inBytes = 0L; var shrBytes = 0L; var shwBytes = 0L; var spill = 0L; var outBytes = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val stageAcc = scala.collection.mutable.Map.empty[(Int, Int), StageAcc]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      val tag = p.flatMap(x => Option(x.getProperty(Tracer.OpKey)))
        .orElse(p.flatMap(x => for {
          q <- Option(x.getProperty("sql.streaming.queryId"))
          b <- Option(x.getProperty("streaming.sql.batchId"))
        } yield s"stream:$q:$b")).getOrElse("")
      jobStart(e.jobId) = (e.time.toDouble, tag, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, tag, sids) =>
        jobs += Map("job" -> e.jobId, "start" -> t0, "end" -> e.time.toDouble,
          "tag" -> tag, "stages" -> sids)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      val m = e.taskMetrics
      val info = e.taskInfo
      a.tasks += 1
      a.durations += info.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.shrBytes += m.shuffleReadMetrics.totalBytesRead
        a.shwBytes += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        lock.synchronized(executionStart(x.executionId) = x.time.toDouble)
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        executionStart.remove(x.executionId).foreach { t0 =>
          executions += Map("start" -> t0, "end" -> x.time.toDouble)
        }
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val a = stageAcc.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
      stages += Map("stage" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
        "start" -> i.submissionTime.getOrElse(0L).toDouble,
        "end" -> i.completionTime.getOrElse(0L).toDouble,
        "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6,
        "gc_ms" -> a.gcMs, "delay_ms" -> a.delayMs, "input_bytes" -> a.inBytes,
        "shuffle_read_bytes" -> a.shrBytes, "shuffle_write_bytes" -> a.shwBytes,
        "spill_bytes" -> a.spill, "output_bytes" -> a.outBytes,
        "task_ms" -> a.durations.toSeq)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> Map("start" -> v.startTimeMs.toDouble, "end" -> v.endTimeMs.toDouble)
      }
      val scanFiles = Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case s: BatchScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      val row = Map("func" -> funcName, "end" -> Clock.nowMs, "duration_ms" -> durationNs / 1e6,
        "phases" -> phases, "scans" -> scanFiles.size, "files_read" -> scanFiles.sum)
      lock.synchronized(queries += row)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new ProgressLog

  private val compileAppender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val Pat = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Pat(ms) =>
        val end = Clock.nowMs
        lock.synchronized(compiles += Map("end" -> end, "ms" -> ms.toDouble))
      case _ =>
    }
  }
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  @volatile private var sampling = false
  private var heapSampler: Thread = _

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    compileAppender.start()
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(compileAppender, Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
    sampling = true
    heapSampler = new Thread(() => {
      val rt = Runtime.getRuntime
      while (sampling) {
        peakHeapBytes = math.max(peakHeapBytes, rt.totalMemory() - rt.freeMemory())
        Thread.sleep(50)
      }
    }, "perfbench-heap")
    heapSampler.setDaemon(true)
    heapSampler.start()
  }

  /** Stops recording; waits for the listener bus so no event of the
    * measured window is lost. */
  def detach(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
    compileAppender.stop()
    sampling = false
    heapSampler.join()
  }

  def dump: Map[String, Any] = lock.synchronized(Map(
    "jobs" -> jobs.toList, "stages" -> stages.toList, "queries" -> queries.toList,
    "progress" -> streamListener.rows, "compiles" -> compiles.toList,
    "executions" -> executions.toList,
    "peak_heap_mb" -> peakHeapBytes / 1048576.0))
}

/** Every micro-batch progress event of every streaming query, in arrival
  * order. Unlike `StreamingQuery.recentProgress`, which keeps only the
  * last `spark.sql.streaming.numRecentProgressUpdates` (100), it drops
  * nothing. */
final class ProgressLog extends StreamingQueryListener {
  private val log = ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val row = Map("query" -> p.id.toString, "name" -> Option(p.name).getOrElse(""),
      "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    log.synchronized(log += row)
  }
  def rows: List[Map[String, Any]] = log.synchronized(log.toList)
}

object Tracer {
  /** Spark local property naming the benchmark op a job belongs to. */
  val OpKey = "perfbench.op"
}

/** Epoch milliseconds with nanosecond-clock resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
