package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. `op` groups the spans of one benchmark
  * operation; `parent` is the enclosing span (0 for an operation root). */
final case class Span(name: String, op: Long, id: Long, parent: Long,
    startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the benchmark's own calls into each
  * engine layer. Disabled (`on == false`) it only evaluates the body.
  * The current (op, span) pair lives in an inheritable thread-local so
  * that spans opened on the threads a graph wave starts nest under the
  * span that started the wave.
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0L)
  private val ctx = new InheritableThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val spans = new ConcurrentLinkedQueue[Span]()

  def all: Seq[Span] = spans.asScala.toSeq

  /** Time `f` as the root span of a new operation; returns the op id
    * (0 when tracing is off) with the result. */
  def op[T](name: String)(f: => T): (Long, T) =
    if (!on) (0L, f)
    else {
      val opId = ids.incrementAndGet()
      val saved = ctx.get
      ctx.set((opId, 0L))
      try (opId, span(name)(f)) finally ctx.set(saved)
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val (opId, parent) = ctx.get
      val id = ids.incrementAndGet()
      ctx.set((opId, id))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(name, opId, id, parent, t0, System.nanoTime()))
        ctx.set((opId, parent))
      }
    }

  /** Self time per span: its duration minus the part of it covered by
    * the union of its children's intervals. */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Total length of the union of [start, end) nanosecond intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}

/** Spark execution counts from a listener registered by the benchmark:
  * each job with its stages, tasks and task metrics, keyed by the job's
  * submission time so they can be charged to the operation whose
  * interval contains it. */
final class JobListener extends SparkListener {
  final class Job(val startMs: Long) {
    @volatile var endMs: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var inBytes = 0L
    var inRecords = 0L
    var shReadBytes = 0L
    var shWriteBytes = 0L
    var spillBytes = 0L
    var outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    (stageJob.get(e.stageId), Option(e.taskMetrics)) match {
      case (Some(j), Some(m)) =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      case (Some(j), None) => j.tasks += 1
      case _ =>
    }
  }

  /** Block until every started job has ended, so no late event of a
    * measured operation is missing when the jobs are charged. */
  def settle(timeoutMs: Long = 20000L): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.exists(_.endMs < 0))
    while (open && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last job
    !open
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }
}
