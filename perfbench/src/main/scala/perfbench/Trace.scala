package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: `parent` is the id of the span that caused it
  * (0 for the run itself). Times are System.nanoTime values.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener counters for one op, summed over its jobs, stages and tasks. */
final class OpCounters {
  val jobsByPhase = mutable.Map.empty[String, Int].withDefaultValue(0)
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var tablesJobs = 0
  var tablesJobMs = 0L
  var taskWaitMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** (launch, finish) epoch-millisecond interval of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobs: Int = jobsByPhase.values.sum

  /** Milliseconds of [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var reach = fromMs
    taskIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, (toMs - fromMs) - covered)
  }
}

/** The traced run's recorder: a SparkListener and a
  * QueryExecutionListener that attribute every job, stage, task and
  * action to the op and phase the benchmark was in when it started,
  * plus the span tree the benchmark builds around its calls into each
  * layer. Everything stays in memory until [[spansJson]] is written at
  * the end of the run.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val PhaseKey = "perfbench.phase"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  @volatile private var current = 0 // span that new spans and actions hang under
  @volatile private var counters = new OpCounters
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val tablesJobIds = mutable.Set.empty[Int]

  /** Attaches both listeners; [[close]] detaches them. */
  def open(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    harvest()
  }

  /** Runs `body` as a child span of the current span; jobs it starts
    * are tagged with `phase` (when given) through a local property.
    * The bus is drained before the span closes, so the actions `body`
    * ran are delivered while it is still the current span.
    */
  def span[T](name: String, phase: String = null)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val parent = current
    val prevPhase = sc.getLocalProperty(PhaseKey)
    if (phase != null) sc.setLocalProperty(PhaseKey, phase)
    current = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      PerfbenchBus.drain(sc)
      synchronized { spans += Span(id, parent, name, t0, t1) }
      current = parent
      sc.setLocalProperty(PhaseKey, prevPhase)
    }
  }

  /** Delivers pending listener events, then returns and resets the
    * counters gathered since the last call.
    */
  def harvest(): OpCounters = {
    PerfbenchBus.drain(sc)
    synchronized {
      val c = counters
      counters = new OpCounters
      c
    }
  }

  def spanList: Seq[Span] = spans.toSeq

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  // ---- SparkListener: listener-bus thread

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    val phase = Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
    counters.jobsByPhase(phase) += 1
    jobStart(e.jobId) = e.time
    // A table open fires its schema-inference job from inside
    // graft.Tables, which the job's long call site (stage details) names.
    if (e.stageInfos.exists(_.details.contains("(Tables.scala:"))) tablesJobIds += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId)
    if (tablesJobIds.remove(e.jobId)) {
      counters.tablesJobs += 1
      counters.tablesJobMs += e.time - start.getOrElse(e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters.stages += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters
    val info = e.taskInfo
    c.tasks += 1
    if (!info.successful) c.failedTasks += 1
    stageSubmitted.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, info.launchTime - s))
    c.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  // ---- QueryExecutionListener: one span per finished action. The
  // callback only reports the duration, so the span ends when the
  // event is delivered, under the span that was current then.

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(funcName, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(funcName + ".failed", 0L)

  private def action(name: String, durationNs: Long): Unit = synchronized {
    val end = System.nanoTime()
    spans += Span(nextId, current, "action." + name, end - durationNs, end)
    nextId += 1
  }
}
