package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval on the benchmark's clock (`System.nanoTime`).
  * `parent` is 0 for a root span; spans of one request share `trace`. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    start: Long, end: Long)

/** Spans kept in memory and written out once, at exit. Harness spans are
  * opened around calls into the program; job spans come from
  * [[LayerListener]] and get their parent by time containment in
  * [[adoptJobs]]. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def add(parent: Long, trace: String, name: String, start: Long, end: Long): Span = {
    val s = Span(ids.incrementAndGet(), parent, trace, name, start, end)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Record each job interval as a child of the innermost harness span of
    * `under` that contains its start; a job outside all of them is
    * recorded as a root span in trace "-". */
  def adoptJobs(jobs: Seq[JobRec], under: Seq[Span]): Unit =
    jobs.foreach { j =>
      val host = under.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption
      add(host.map(_.id).getOrElse(0L), host.map(_.trace).getOrElse("-"),
        s"job:${j.jobId}", j.start, j.end)
    }

  /** Self time per span name: each span's duration minus the union of its
    * children's intervals, summed by name. Job spans are keyed "job". */
  def selfTimeMs: Seq[(String, Double, Int)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(s => if (s.name.startsWith("job:")) "job" else s.name).toSeq.map {
      case (name, group) =>
        val self = group.map { s =>
          val covered = Intervals.unionWithin(
            kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
          (s.end - s.start - covered) / 1e6
        }.sum
        (name, self, group.length)
    }.sortBy(_._1)
  }
}

object Intervals {
  /** Total length of the union of `ivs` clipped to [lo, hi]. */
  def unionWithin(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Cumulative counters of the engine's layers at one instant. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, compiles: Long, compileNs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    compiles - o.compiles, compileNs - o.compileNs)
}

/** One finished job: its interval on the `nanoTime` clock and the work of
  * its completed stages and tasks. */
final case class JobRec(jobId: Int, start: Long, end: Long, stages: Long,
    tasks: Long, taskCpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** Spark's public hooks, registered by the benchmark: a `SparkListener` for
  * jobs, stages and tasks, a `StreamingQueryListener` for micro-batch
  * progress, and the codegen counters. Listener timestamps are wall-clock
  * milliseconds; they are mapped onto the `nanoTime` clock the harness
  * spans use. */
final class LayerListener(sc: SparkContext) extends SparkListener {
  private val epochMinusNano: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def toNano(epochMs: Long): Long = epochMs * 1000000L - epochMinusNano

  private final class Acc {
    val stages, tasks, cpuNs, gcMs, shuffle, spill = new AtomicLong
  }
  private val total = new Acc
  private val jobs = new AtomicLong
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Acc)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val done = new ConcurrentLinkedQueue[JobRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def accs(stageId: Int): Seq[Acc] =
    total +: Option(stageJob.get(stageId)).flatMap(j => Option(open.get(j))).map(_._2).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    open.put(e.jobId, (toNano(e.time), new Acc))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (st, a) =>
      done.add(JobRec(e.jobId, st, toNano(e.time), a.stages.get, a.tasks.get,
        a.cpuNs.get, a.gcMs.get, a.shuffle.get, a.spill.get))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    accs(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    accs(e.stageId).foreach { a =>
      a.tasks.incrementAndGet()
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counters(jobs.get, total.stages.get, total.tasks.get, total.cpuNs.get,
      total.gcMs.get, total.shuffle.get, total.spill.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }

  /** Finished jobs, oldest first. */
  def finishedJobs: Seq[JobRec] = done.asScala.toSeq.sortBy(_.start)

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
  }
}
