package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for
  * driver-side spans, whole for the ones Spark's listener events carry).
  * `parent` is the id of the span that caused this one, 0 for a root;
  * `op` names the benchmark operation the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "op" -> op, "start_ms" -> startMs, "end_ms" -> endMs,
    "attrs" -> attrs)
}

/** Span recorder for one benchmark process. Driver-side spans nest on the
  * calling thread; their id travels to Spark as the `perfbench.span` local
  * property, so every job the body submits names its parent span, and
  * `perfbench.op` names the operation. Spans stay in memory until the run
  * writes them out. When disabled, [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private var currentOp = ""
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val sc = spark.sparkContext

  @volatile var enabled = false

  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def spans: Seq[Span] = recorded.asScala.toSeq

  private[perfbench] def nextId(): Long = ids.incrementAndGet()

  private[perfbench] def add(s: Span): Unit = if (enabled) recorded.add(s): Unit

  /** Runs `body` inside a span named `name`; `op` starts a new operation
    * when given, otherwise the span belongs to the enclosing one. */
  def span[T](name: String, op: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      val prevOp = currentOp
      if (op != null) currentOp = op
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.op", currentOp)
      val start = nowMs
      try body
      finally {
        add(Span(id, parent, name, currentOp, start, nowMs))
        stack = stack.tail
        currentOp = prevOp
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
        sc.setLocalProperty("perfbench.op", if (stack.isEmpty) null else currentOp)
      }
    }

  private val jobListener = new JobListener(this)
  private val queryListener = new PhaseListener(this)

  /** Registers the listeners and starts recording. */
  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    enabled = true
  }

  /** Stops recording once Spark has delivered every pending event. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    enabled = false
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

/** Job and stage spans from Spark's scheduler events, with the task
  * metrics of each job summed onto its span. A job's parent is the driver
  * span that submitted it (the `perfbench.span` local property). */
final class JobListener(tracer: Tracer) extends SparkListener {
  private final class JobState(val id: Long, val parent: Long, val op: String,
                               val startMs: Double, val callSite: String) {
    val counts = TrieMap.empty[String, Double]
    def add(k: String, v: Double): Unit = counts.put(k, counts.getOrElse(k, 0.0) + v): Unit
  }
  private val jobs = TrieMap.empty[Int, JobState]
  private val stageToJob = TrieMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    // the short call site ("parquet at Tables.scala:17") of the job's
    // final stage names the user code that launched it
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, new JobState(tracer.nextId(), parent, op, e.time.toDouble, callSite))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (jobId <- stageToJob.get(info.stageId); job <- jobs.get(jobId);
         start <- info.submissionTime; end <- info.completionTime) {
      job.add("stages", 1)
      if (info.numTasks == 1) job.add("one_task_stages", 1)
      tracer.add(Span(tracer.nextId(), job.id, "stage", job.op, start.toDouble,
        end.toDouble, Map("tasks" -> info.numTasks)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (jobId <- stageToJob.get(e.stageId); job <- jobs.get(jobId)) {
      val m = e.taskMetrics
      val info = e.taskInfo
      job.add("tasks", 1)
      if (m != null) {
        job.add("run_ms", m.executorRunTime.toDouble)
        job.add("cpu_ns", m.executorCpuTime.toDouble)
        job.add("gc_ms", m.jvmGCTime.toDouble)
        job.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        job.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        job.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        job.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        job.add("records_read", m.inputMetrics.recordsRead.toDouble)
        // the scheduler delay as Spark's UI defines it: task wall time
        // not spent deserializing, running or shipping the result
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        job.add("sched_delay_ms", math.max(0L, delay).toDouble)
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { job =>
      tracer.add(Span(job.id, job.parent, "job", job.op, job.startMs, e.time.toDouble,
        job.counts.toMap ++ Map("call_site" -> job.callSite)))
    }
}

/** Catalyst's analysis, optimization and planning phases of every query
  * execution, from its `QueryPlanningTracker`. Spark delivers these events
  * after the fact, without the submitting thread's local properties, so
  * the spans carry no parent; the statistics tie each one to the driver
  * span whose interval contains it (ops run one at a time). */
final class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      tracer.add(Span(tracer.nextId(), -1L, s"catalyst.$phase", "",
        p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
