package osmbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` numbers the client operation the
  * call belongs to; `parent` is the enclosing span (-1 at top level).
  * Times are epoch milliseconds with sub-millisecond precision, the
  * clock Spark's scheduler events use. */
final case class Span(id: Int, name: String, op: Long, parent: Int,
                      start: Double, end: Double) {
  def wallS: Double = (end - start) / 1000.0
}

/** Span recorder plus Spark's public listeners. Disabled, `span` only
  * runs its body: untraced runs register no listener and keep no span.
  *
  * Enabled, every span is kept in memory and Spark jobs, tasks and
  * bytes are attributed to the innermost span whose interval holds
  * them. Attribution by time is exact because the benchmark's client
  * is a single thread: nothing else submits jobs while a span is open.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var op = 0L

  /** Start a new client operation (spans opened after it carry its id). */
  def nextOp(): Long = { op += 1; op }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, op, parent, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = nowMs)
      }
    }

  // ---- listeners (registered only when enabled) -----------------------

  final case class TaskRec(start: Double, end: Double, runS: Double,
                           cpuS: Double, shuffleBytes: Long,
                           spillBytes: Long, bytesWritten: Long)
  final case class JobRec(time: Double, callSite: String)

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val execMs = new ConcurrentLinkedQueue[java.lang.Double]()
  val streamMs = new ConcurrentLinkedQueue[(String, Long)]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse("?")
      jobs.add(JobRec(e.time.toDouble, site))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) tasks.add(TaskRec(
        info.launchTime.toDouble, info.finishTime.toDouble,
        m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases
      planMs.add(phases.values.map(_.durationMs).sum.toDouble)
      execMs.add(ns / 1e6)
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        streamMs.add(k -> v.longValue)
      }
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Remove the listeners (once; later calls do nothing). */
  def detach(spark: SparkSession): Unit = if (attached) {
    attached = false
    // the listener bus is asynchronous: give queued events a moment to
    // land before the counts are read
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spark work inside one span's interval (its descendants included). */
  final case class Usage(jobs: Int, tasks: Int, taskS: Double, cpuS: Double,
                         driverS: Double, shuffleMb: Double, spillMb: Double,
                         bytesWritten: Long, callSites: Map[String, Int])

  def usage(s: Span): Usage = {
    val ts = tasks.asScala.filter(t => t.end >= s.start && t.end <= s.end)
      .toVector
    val js = jobs.asScala.filter(j => j.time >= s.start && j.time <= s.end)
      .toVector
    // driver time: the part of the span during which no task ran
    val covered = ts.map(t => (math.max(t.start, s.start), t.end))
      .sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
        case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
      }._1
    Usage(js.size, ts.size, ts.map(_.runS).sum, ts.map(_.cpuS).sum,
      math.max(0.0, (s.end - s.start) - covered) / 1000.0,
      ts.map(_.shuffleBytes).sum / 1e6, ts.map(_.spillBytes).sum / 1e6,
      ts.map(_.bytesWritten).sum,
      js.groupBy(_.callSite).map { case (k, v) => k -> v.size })
  }
}
