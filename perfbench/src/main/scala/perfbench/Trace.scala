package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener, registered
  * only while a traced unit of work runs.
  *
  * Every Spark job is assigned to the module whose source file is the
  * job's `callSite.short` (the first frame outside Spark), so a layer's
  * busy time is the union of its jobs' intervals and the driver's gap
  * is the traced wall time that no job covers. */
final class Trace(spark: SparkSession) {
  import Trace.Job

  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  private def get(k: String): Double =
    Option(counters.get(k)).map(_.sum).getOrElse(0.0)

  private val open = new ConcurrentHashMap[Int, (String, Long)]()
  private val finished = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val executionModule = new ConcurrentHashMap[Long, String]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val windows = ArrayBuffer.empty[(Long, Long)]

  private val jobListener = new SparkListener {
    // SQL jobs may start on other threads (adaptive query stages), so
    // they are assigned through their SQL execution's call site; other
    // jobs through their result stage, which is named after theirs
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionModule.put(s.executionId, Trace.moduleOf(s.description))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val module = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(executionModule.get(id.toLong)))
        .getOrElse(Trace.moduleOf(e.stageInfos.maxBy(_.stageId).name))
      open.put(e.jobId, (module, System.nanoTime()))
      e.stageIds.foreach(stageModule.put(_, module))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach { case (m, t0) =>
        finished.add(Job(m, t0, System.nanoTime()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("scheduler.tasks", 1)
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (records == 0) add("scheduler.empty_tasks", 1)
      val module = stageModule.getOrDefault(e.stageId, "other")
      add(s"$module.rows_out", m.outputMetrics.recordsWritten.toDouble)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("cache.blocks_stored", 1)
        add("cache.bytes_stored", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add(e.progress)
  }

  private var codegen0 = (0L, 0L)

  /** Drain the listener bus first, so the tail of untraced work is not
    * delivered to the listeners registered here. */
  def start(): Unit = {
    BenchBridge.drainListenerBus(spark.sparkContext)
    codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as one traced window (its wall time counts toward
    * the driver-gap denominators). */
  def window[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally windows.synchronized { windows += ((t0, System.nanoTime())) }
  }

  /** Drain the listener bus, unregister, and return the per-layer
    * metrics the listeners measure. */
  def stop(): Map[String, Double] = {
    BenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    val jobs = finished.asScala.toSeq
    val wall = windows.map { case (a, b) => b - a }.sum / 1e9
    val covered = Trace.unionSeconds(jobs.map(j => (j.start, j.end)))
    val progress = batches.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val state = progress.lastOption.flatMap(_.stateOperators.headOption)
    val tasks = get("scheduler.tasks")
    val perModule = Trace.Modules.flatMap { m =>
      val mine = jobs.filter(_.module == m)
      Seq(s"$m.jobs" -> mine.size.toDouble,
        s"$m.busy_s" -> Trace.unionSeconds(mine.map(j => (j.start, j.end))))
    }
    Map(
      "catalyst.analysis_ms" -> get("catalyst.analysis_ms"),
      "catalyst.optimization_ms" -> get("catalyst.optimization_ms"),
      "catalyst.planning_ms" -> get("catalyst.planning_ms"),
      "catalyst.executions" -> get("catalyst.executions"),
      "codegen.compilations" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1).toDouble,
      "codegen.compile_ms" -> (CodeGenerator.compileTime - codegen0._2) / 1e6,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> get("scheduler.stages"),
      "scheduler.tasks" -> tasks,
      "scheduler.driver_gap_s" -> math.max(0.0, wall - covered),
      "scheduler.empty_task_ratio" ->
        (if (tasks == 0) 0.0 else get("scheduler.empty_tasks") / tasks),
      "executor.run_s" -> get("executor.run_s"),
      "executor.cpu_s" -> get("executor.cpu_s"),
      "executor.gc_s" -> get("executor.gc_s"),
      "io.input_bytes" -> get("io.input_bytes"),
      "io.output_bytes" -> get("io.output_bytes"),
      "shuffle.write_bytes" -> get("shuffle.write_bytes"),
      "shuffle.read_bytes" -> get("shuffle.read_bytes"),
      "spill.memory_bytes" -> get("spill.memory_bytes"),
      "spill.disk_bytes" -> get("spill.disk_bytes"),
      "cache.blocks_stored" -> get("cache.blocks_stored"),
      "cache.bytes_stored" -> get("cache.bytes_stored"),
      "etl.rows_out" -> get("etl.rows_out"),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.batch_ms_p50" -> Stats.quantile(dur("triggerExecution"), 0.5),
      "streaming.add_batch_ms" -> dur("addBatch").sum,
      "streaming.query_planning_ms" -> dur("queryPlanning").sum,
      "streaming.wal_commit_ms" -> dur("walCommit").sum,
      "streaming.commit_offsets_ms" -> dur("commitOffsets").sum,
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
    ) ++ perModule
  }
}

object Trace {
  private final case class Job(module: String, start: Long, end: Long)

  /** The modules whose jobs and busy time are reported. */
  val Modules: Seq[String] = Seq("etl", "quality", "drift", "incidents", "llm.store",
    "llm.curate", "ops")

  private val SiteFile = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  /** Module of a job, from the source file of its call site. The
    * harness's curate file runs the curated-split write, so its jobs
    * belong to `llm.curate`. Jobs of files outside every reported module
    * (the runner, the stream's micro-batches, the harness) are `other`. */
  def moduleOf(callSite: String): String = callSite match {
    case SiteFile(file) => file match {
      case "Etl" => "etl"
      case "DataQuality" => "quality"
      case "DriftDetector" => "drift"
      case "IncidentLog" => "incidents"
      case "StateStores" | "PairGraph" | "DupRunStore" => "llm.store"
      case "CurationMain" | "CurateWorkload" => "llm.curate"
      case "PipelineRunner" | "SelfHealing" | "PipelineConfig" | "EventStreams" |
           "StreamWorkload" | "BenchMain" | "Gen" | "HealWorkload" | "Workloads" => "other"
      case _ => "ops"
    }
    case _ => "other"
  }

  /** Seconds covered by the union of [start, end) nanosecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += curE - curS
    total / 1e9
  }
}
