package graftbench

import java.io.PrintWriter
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock with sub-millisecond resolution on the same epoch base as
  * Spark's listener event times (`System.currentTimeMillis`). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. The layer is the name up to its first dot.
  * `parent` is 0 for a root and -1 when the parent is resolved later
  * by time containment within the same operation (spans observed
  * through listeners, which run on Spark's listener thread). */
final case class Span(id: Long, name: String, op: String, parent: Long,
    startMs: Double, endMs: Double)

/** In-memory span recorder. Off unless `on` is set, so untraced runs
  * pay one volatile read per call. Spans are written when the run ends. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, name, op, outer.headOption.getOrElse(0L), t0, Clock.nowMs))
      }
    }

  /** Record an interval observed after the fact, parent resolved later. */
  def record(name: String, op: String, startMs: Double, endMs: Double): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, op, -1L, startMs, endMs))

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"op":${Json.str(s.op)},""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally w.close()
  }
}

/** Spark-side counters for the traced run, gathered through Spark's public
  * listener interfaces only. Jobs attach to an operation through the job
  * group the benchmark sets around each operation; a streaming query's
  * jobs carry its run id as their group. */
final class SparkCounters(spark: SparkSession) {
  import SparkCounters._

  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var flushed = -1

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageGroup.put(id, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = Option(jobGroup.get(e.jobId)).getOrElse("")
      if (g == SparkCounters.FlushGroup) flushed = e.jobId
      else {
        val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
        Trace.record("spark.job", g, t0.toDouble, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val g = Option(stageGroup.get(si.stageId)).getOrElse("")
      if (g != SparkCounters.FlushGroup) {
        val m = si.taskMetrics
        val t1 = si.completionTime.getOrElse(System.currentTimeMillis())
        stages.add(Stage(g, si.submissionTime.getOrElse(t1), t1, si.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach { s =>
          Trace.record(s"spark.plan.$p", "", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        }
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Progress(p.runId.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Wait until the shared listener queue has delivered every event posted
    * before this call: a marker job's end event is queued behind them. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(SparkCounters.FlushGroup, "listener flush")
    val before = flushed
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000L
    while (flushed == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object SparkCounters {
  val FlushGroup = "harness.flush"
  final case class Stage(group: String, startMs: Long, endMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final case class Progress(runId: String, batchId: Long, startMs: Long,
      inputRows: Long, durations: Map[String, Long])
}
