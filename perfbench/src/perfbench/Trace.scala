package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into the program's layers. Spans nest
  * on the one client thread; a change-feed fold opens its span on the
  * stream thread while the client blocks in the drain span, so the stack
  * is still strictly nested. Disabled (untraced operations), `apply` is a
  * plain call. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        t0Ms: Long, t0Ns: Long) {
    @volatile var t1Ms: Long = 0L
    @volatile var t1Ns: Long = 0L
  }

  @volatile var enabled = false
  /** Innermost open span (0 = none), read by [[CountingFs]]. */
  @volatile var current: Int = 0
  private val ids = new AtomicInteger(0)
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val s = synchronized {
      val sp = Span(ids.incrementAndGet(), stack.headOption.fold(0)(_.id),
        name, layer, System.currentTimeMillis(), System.nanoTime())
      all += sp
      stack = sp :: stack
      current = sp.id
      sp
    }
    try body finally synchronized {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      stack = stack.tail
      current = stack.headOption.fold(0)(_.id)
    }
  }

  def records: Seq[Map[String, Any]] = synchronized {
    all.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "t0" -> s.t0Ms, "t1" -> s.t1Ms,
      "ms" -> (s.t1Ns - s.t0Ns) / 1e6))
  }
}

/** Counts job starts in every run: the guard that a timed operation did
  * real work (launched a job or committed a version). */
class JobCounter extends SparkListener {
  val started = new AtomicLong(0L)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.incrementAndGet()
}

/** The traced run's collector: jobs with their task metrics, the
  * QueryPlanningTracker phases of every query execution, and streaming
  * progress. Everything stays in memory until the run writes it out. */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val t0: Long, val desc: String) {
    var t1 = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inRecords = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, desc))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) plans.synchronized {
      plans += Map("t0" -> ph.values.map(_.startTimeMs).min,
        "t1" -> ph.values.map(_.endTimeMs).max,
        "phases" -> ph.map { case (k, v) => k -> v.durationMs })
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        val p = e.progress
        progress += Map("t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "desc" -> j.desc,
      "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
      "in_records" -> j.inRecords)),
    "plans" -> plans.synchronized(plans.toSeq),
    "stream_progress" -> progress.synchronized(progress.toSeq),
    "fs" -> CountingFs.records)
}
