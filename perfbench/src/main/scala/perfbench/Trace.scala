package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are nanoseconds
  * since the recorder's origin; `parent` is 0 at the top of a pass. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the single driver thread. Disabled, `apply`
  * only runs the body, so an untraced pass pays nothing for it. */
final class Spans {
  var enabled = false
  private val origin = System.nanoTime()
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var pass = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, pass, name, t0 - origin, System.nanoTime() - origin)
      }
    }

  /** A span timed by the caller (absolute System.nanoTime values). */
  def record(name: String, parent: Int, t0: Long, t1: Long): Unit =
    if (enabled) {
      buf += Span(nextId, parent, pass, name, t0 - origin, t1 - origin)
      nextId += 1
    }

  /** The innermost open span, 0 outside any. */
  def current: Int = stack.headOption.getOrElse(0)

  def all: Seq[Span] = buf.toSeq
  def ofPass(p: Int): Seq[Span] = buf.filter(_.pass == p).toSeq
}

/** Cumulative scheduler-side counters; `jobs` keeps each job's
  * (start, end) wall-clock milliseconds for the no-job-running share. */
final class SparkCounters extends SparkListener {
  private val c = scala.collection.mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val started = scala.collection.mutable.Map[Int, Long]()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1); started(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(add("spark.stages", 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
      add("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
    }
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** Jobs started within [t0, t1] (epoch ms). */
  def jobsStartedIn(t0: Long, t1: Long): Int = synchronized {
    (intervals.map(_._1) ++ started.values).count(t => t >= t0 && t <= t1)
  }

  /** Milliseconds of [t0, t1] during which at least one job ran. */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = (intervals ++ started.values.map(s => (s, t1)))
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}

/** Sums Catalyst's own phase timings over every Dataset action. */
final class CatalystCounters extends QueryExecutionListener {
  private val phases = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases(s"catalyst.${phase}_s") = phases(s"catalyst.${phase}_s") + s.durationMs / 1e3
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  def snapshot(): Map[String, Double] = synchronized(phases.toMap)
}
