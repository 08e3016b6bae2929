package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into a layer. Times are wall-clock ms (comparable with
  * Spark listener event times) plus a monotonic duration. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    seconds: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the driver thread (the benchmark's single
  * closed-loop client). While `on` is false, `apply` only runs its body. */
final class Tracer(val runId: String) {
  @volatile var on = false
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, w0, System.currentTimeMillis(),
          (System.nanoTime() - t0) / 1e9)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per layer: each span's duration minus the time its direct
    * children cover (children run inside their parent on the same thread,
    * so they never overlap each other). */
  def selfSecondsByLayer: Map[String, Double] = {
    val childSec = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0.0, s.seconds - childSec.getOrElse(s.id, 0.0))).sum
    }
  }
}

/** Spark job/task counters, attributed to operations by job start time. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var tasks = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Jobs started inside [t0, t1] (wall ms). */
  def within(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= t0 && j.startMs <= t1).toSeq
  }

  /** ms of [t0, t1] during which at least one job was running. */
  def busyMs(t0: Long, t1: Long): Long = {
    val ivs = within(t0, t1).map(j => (j.startMs, if (j.endMs < 0) t1 else math.min(j.endMs, t1)))
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}
