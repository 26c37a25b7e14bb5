package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into the engine,
  * plus the records Spark's public listener APIs deliver. Everything is
  * kept in memory and written out when the run ends. All times are
  * epoch milliseconds (fractional for spans). */
object Trace {

  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double) {
    def dur: Double = end - start
  }
  final case class Job(id: Int, start: Long, stages: Seq[Int], callSite: String,
                       execId: Option[Long], var end: Long = -1L)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
                        inRows: Long, shWrite: Long, shRead: Long, spill: Long)
  final case class Write(at: Long, files: Long, bytes: Long, jobCommitMs: Long, taskCommitMs: Long)
  final case class Batch(start: Long, durations: Map[String, Long], inputRows: Long) {
    def end: Long = start + durations.getOrElse("triggerExecution", 0L)
  }

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val writes = new ConcurrentLinkedQueue[Write]()
  /** SQL execution id → the call site of the action that started it. */
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var terminatedQueries = 0
  @volatile private var spanSeq = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var on = false
  @volatile var op = 0

  /** Time `f` as a span named `name`, nested under the innermost open
    * span of this thread. With tracing off this is just the call. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { spanSeq += 1; spanSeq }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val s = nowMs
      try f
      finally {
        spans.add(Span(id, name, parent, op, s, nowMs))
        stack.set(stack.get.tail)
      }
    }

  private val markerGroup = "perfbench-marker"
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerEnded = new java.util.concurrent.atomic.AtomicInteger(0)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      if (prop("spark.jobGroup.id").contains(markerGroup)) markerJobs.add(e.jobId)
      else if (on) jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds,
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""),
        prop("spark.sql.execution.id").flatMap(_.toLongOption)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(e.jobId)) markerEnded.incrementAndGet()
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if on => executions.put(x.executionId, x.details)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Metrics of every file-write command in a plan. Command results,
    * adaptive plans and query stages hold their inner plan outside
    * their children, so each is unwrapped explicitly. */
  private def writeCommands(p: SparkPlan): Seq[Map[String, SQLMetric]] = p match {
    case d: DataWritingCommandExec => Seq(d.cmd.metrics)
    case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case q: QueryStageExec => writeCommands(q.plan)
    case other => other.children.flatMap(writeCommands)
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
      writeCommands(qe.executedPlan).foreach { m =>
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        writes.add(Write(System.currentTimeMillis(), v("numFiles"), v("numOutputBytes"),
          v("jobCommitTime"), v("taskCommitTime")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Micro-batch progress. Registered in every run: the streaming
    * workload checks its progress-event count after every op, and
    * Spark posts these events whether or not anyone listens. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminatedQueries += 1
  }

  def installStreamListener(spark: SparkSession): Unit =
    spark.streams.addListener(streamListener)

  /** Register the listeners; records are kept only while `on`. */
  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
  }

  /** Wait until the listener bus has delivered everything posted so far:
    * a marker job's end event arrives after every earlier event in the
    * same queue. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val seen = markerEnded.get()
    sc.setJobGroup(markerGroup, "listener drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    def marker = markerEnded.get() > seen
    while (!marker && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def stop(spark: SparkSession): Unit = {
    drain(spark)
    on = false
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(writeListener)
  }

  /** The `graft.<module>` of the innermost engine frame on a call site,
    * "other" for engine code outside the named modules, or "spark" when
    * there is no engine frame. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$')
    } match {
      case Some(m) if modules.contains(m) => m
      case Some(_) => "other"
      case None => "spark"
    }

  val modules = Seq("etl", "quality", "io", "ext", "functions", "streaming")

  /** A job's module: from its own call site, or — for jobs Spark submits
    * from its own threads (adaptive query stages, broadcasts), which
    * carry no engine frame — from the call site of the SQL execution
    * the job belongs to. */
  def module(j: Job): String = moduleOf(j.callSite) match {
    case "spark" => j.execId.flatMap(x => Option(executions.get(x))).map(moduleOf).getOrElse("spark")
    case m => m
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- cl) {
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def escape(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }

  /** Spans and listener records as JSON lines. */
  def dump(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.asScala.toSeq.sortBy(_.id).foreach(s => w.println(
        f"""{"type":"span","id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start":${s.start}%.3f,"end":${s.end}%.3f}"""))
      jobs.values.asScala.toSeq.sortBy(_.id).foreach(j => w.println(
        s"""{"type":"job","id":${j.id},"start":${j.start},"end":${j.end},"stages":${j.stages.size},"module":"${module(j)}","exec":${j.execId.getOrElse(-1L)},"call_site":"${escape(j.callSite.linesIterator.take(6).mkString(" | "))}"}"""))
      writes.asScala.foreach(x => w.println(
        s"""{"type":"write","at":${x.at},"files":${x.files},"bytes":${x.bytes},"job_commit_ms":${x.jobCommitMs},"task_commit_ms":${x.taskCommitMs}}"""))
      batches.asScala.foreach(b => w.println(
        s"""{"type":"batch","start":${b.start},"input_rows":${b.inputRows},""" +
          b.durations.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"))
    } finally w.close()
  }
}
