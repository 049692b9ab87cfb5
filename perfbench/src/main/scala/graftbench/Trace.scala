package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft, with Spark jobs and
  * stages as child spans, recorded through public listener APIs only.
  *
  * A span is opened around each public-function call of an op; its id
  * travels to the jobs the call submits as a SparkContext local property
  * (inherited by AQE and streaming threads), so every job and stage is
  * attributed to the op that caused it without instrumenting graft.
  * Everything stays in memory until [[write]].
  *
  * Listeners are attached only while [[on]] is true, so untraced ops run
  * with no benchmark listener at all and the traced/untraced difference
  * is the tracing overhead.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(1)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Microseconds since the epoch on the monotonic clock. */
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val executions = new ConcurrentLinkedQueue[Execution]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile var cacheBytesPeak = 0L

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  @volatile private var attached = false
  def on: Boolean = attached

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      val j = Job(e.jobId, span, e.time * 1000, 0L, e.stageIds)
      jobSpan.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(j => jobs.add(j.copy(endUs = e.time * 1000)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val scansDump = s.rddInfos.exists(r => r.name == "FileScanRDD" && r.callSite.contains("WikidataShredder"))
      val jdbc = s.name.startsWith("jdbc at") || s.rddInfos.exists(_.callSite.contains("GraftJdbcSink"))
      if (m != null) stages.add(Stage(
        s.stageId, Option(stageJob.get(s.stageId)).map(_.intValue).getOrElse(-1), s.name,
        s.submissionTime.getOrElse(0L) * 1000, s.completionTime.getOrElse(0L) * 1000,
        s.numTasks, m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        scansDump, jdbc))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val sz = b.memSize + b.diskSize
        if (sz == 0) blocks.remove(b.blockId.name) else blocks.put(b.blockId.name, sz)
        val total = blocks.values().asScala.foldLeft(0L)(_ + _)
        if (total > cacheBytesPeak) cacheBytesPeak = total
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      executions.add(Execution(funcName, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(Progress(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli * 1000,
        p.numInputRows, d.getOrElse("triggerExecution", 0L), d.getOrElse("queryPlanning", 0L)))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach or detach all three listeners. */
  def enable(v: Boolean): Unit = if (v != attached) {
    if (v) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(execListener)
      spark.streams.addListener(streamListener)
    } else {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(execListener)
      spark.streams.removeListener(streamListener)
    }
    attached = v
  }

  /** Wait until the listeners have seen the end of every job they saw
    * start, so a traced op's events are complete before detaching. */
  def drain(): Unit = {
    Thread.sleep(100)
    val limit = System.nanoTime() + 5000000000L
    while (!jobSpan.isEmpty && System.nanoTime() < limit) Thread.sleep(10)
  }

  /** Run `body` as a span named `name` of op `op`. Untraced: just runs. */
  def span[T](name: String, op: Long)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        spans.add(Span(id, name, op, parent, start, nowUs))
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Write every span, then every job and stage as child spans, one JSON
    * object per line. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      spans.asScala.foreach(s => out.println(
        s"""{"kind":"span","id":${s.id},"name":"${esc(s.name)}","op":${s.op},"parent":${s.parent},"start_us":${s.startUs},"end_us":${s.endUs}}"""))
      val opOf = spans.asScala.map(s => s.id -> s.op).toMap
      jobs.asScala.foreach(j => out.println(
        s"""{"kind":"job","id":"job-${j.jobId}","op":${opOf.getOrElse(j.span, -1L)},"parent":${j.span},"start_us":${j.startUs},"end_us":${j.endUs}}"""))
      stages.asScala.foreach(s => out.println(
        s"""{"kind":"stage","id":"stage-${s.stageId}","name":"${esc(s.name)}","parent":"job-${s.jobId}","start_us":${s.startUs},"end_us":${s.endUs},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ms":${s.cpuMs}}"""))
    } finally out.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  final case class Span(id: Int, name: String, op: Long, parent: Int, startUs: Long, endUs: Long) {
    def interval: (Long, Long) = (startUs, endUs)
  }
  final case class Job(jobId: Int, span: Int, startUs: Long, endUs: Long, stageIds: Seq[Int]) {
    def interval: (Long, Long) = (startUs, endUs)
  }
  final case class Stage(stageId: Int, jobId: Int, name: String, startUs: Long, endUs: Long,
      tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long, inputBytes: Long, inputRecords: Long,
      outputBytes: Long, outputRecords: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, scansDump: Boolean, jdbc: Boolean) {
    def interval: (Long, Long) = (startUs, endUs)
  }
  final case class Execution(funcName: String, analysisMs: Double, optimizationMs: Double,
      planningMs: Double)
  final case class Progress(runId: String, startUs: Long, rows: Long, batchMs: Long, planMs: Long)
}
