package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.InventoryStream

/** Settings of one fold workload. A closed loop feeds `eventsPerBatch`
  * events, waits until the stream has folded them, and repeats. An open
  * loop sends `rate` events per second from one generator thread on a fixed
  * schedule of `ticksPerSecond` sends, whatever the stream is doing. */
final case class FoldSpec(keys: Int, closed: Boolean, eventsPerBatch: Int,
    rate: Int, trigger: Trigger, ticksPerSecond: Int = 100)

/** One addData call: when it was due, when it ran, the offset it created
  * and the number of events it carried. */
final case class Feed(dueNs: Long, startNs: Long, endNs: Long, offset: Long, events: Int)

/** A running fold stream: `InventoryStream.decode → foldStream → encode`
  * over a MemoryStream of wire events, into a sink that keeps what it
  * receives. */
final class FoldStream(spark: SparkSession, spec: FoldSpec, checkpoint: String) {
  // one source partition per core, like a topic with that many partitions,
  // however many addData calls a batch spans
  val input: MemoryStream[WireEvent] = MemoryStream[WireEvent](
    spark.sparkContext.defaultParallelism)(Encoders.product[WireEvent], spark.sqlContext)
  val sink = new ConcurrentLinkedQueue[SinkBatch]()

  private val b0 = System.nanoTime()
  private val out: DataFrame = InventoryStream.encode(
    InventoryStream.foldStream(InventoryStream.decode(input.toDF())))
  val buildNs: (Long, Long) = (b0, System.nanoTime())

  val query: StreamingQuery = out.writeStream
    .outputMode(OutputMode.Update)
    .option("checkpointLocation", checkpoint)
    .trigger(spec.trigger)
    .foreachBatch { (df: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      val rows = df.collect()
      val t1 = System.nanoTime()
      val keys = new Array[String](rows.length)
      val values = new Array[String](rows.length)
      var i = 0
      while (i < rows.length) { keys(i) = rows(i).getString(0); values(i) = rows(i).getString(1); i += 1 }
      sink.add(SinkBatch(id, t0, t1, System.nanoTime(), keys, values))
      ()
    }
    .start()

  /** Send `rows`, already rendered as wire JSON, in one addData call. */
  def feed(rows: Seq[WireEvent], dueNs: Long): Feed = {
    val t0 = System.nanoTime()
    val off = input.addData(rows).json().toLong
    Feed(dueNs, t0, System.nanoTime(), off, rows.length)
  }

  def lastBatchId: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

  def stop(): Unit = query.stop()
}

/** Result of one measured stream. */
final case class FoldResult(
    windowNs: Long, events: Long, processed: Long, feeds: Seq[Feed],
    batches: Seq[StreamingQueryProgress], sink: Seq[SinkBatch],
    lagEvents: Long, problems: Seq[String], buildNs: (Long, Long), warmNs: Long) {

  private val sinkById = sink.map(b => b.batchId -> b).toMap

  /** The batch that carried each feed, from the source offsets in the
    * progress reports: batch b covers offsets (start, end]. */
  lazy val feedBatch: Seq[(Feed, Long)] = {
    val ranges = batches.map { p =>
      val s = p.sources.head
      (Option(s.startOffset).map(_.toLong).getOrElse(-1L), s.endOffset.toLong, p.batchId)
    }
    feeds.flatMap(f => ranges.find { case (a, b, _) => f.offset > a && f.offset <= b }
      .map(r => (f, r._3)))
  }

  /** Event-to-changelog latency per batch: (batchId, ms of each feed's
    * events). An event is timed from when it was due to when the sink held
    * the batch with its key's updated count. */
  lazy val latencies: Seq[(Long, Seq[(Double, Int)])] =
    feedBatch.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (bid, fs) =>
      sinkById.get(bid).map(sb =>
        bid -> fs.map { case (f, _) => ((sb.receivedNs - f.dueNs) / 1e6, f.events) })
    }

  def batchMs: Seq[Double] =
    batches.map(p => p.durationMs.get("triggerExecution").doubleValue)
}

object Fold {
  /** Untimed driving before each measured window; the first batches of a
    * fresh JVM run about half again slower than the tenth. */
  val WarmSeconds = 8

  val wide = FoldSpec(keys = 1000000, closed = true, eventsPerBatch = 20000,
    rate = 0, trigger = Trigger.ProcessingTime(0L))
  val hot = FoldSpec(keys = 1000, closed = false, eventsPerBatch = 0,
    rate = 2500, trigger = Trigger.ProcessingTime("1 second"))

  /** Start a stream on a fresh checkpoint and fold one warm-up batch, so
    * that state-store start, codegen and first-batch planning are paid
    * before anything is timed. The warm-up events come from the run's own
    * generator and count in the model. */
  def start(spark: SparkSession, spec: FoldSpec, checkpoint: String, gen: EventGen,
      model: ModelFold): FoldStream = {
    val fs = new FoldStream(spark, spec, checkpoint)
    val warm = gen.take(if (spec.closed) spec.eventsPerBatch else spec.rate / spec.ticksPerSecond)
    model.add(warm)
    fs.feed(warm.wire, System.nanoTime())
    fs.query.processAllAvailable()
    fs
  }

  /** What one stretch of driving a stream sent: its feeds, its length, the
    * events sent and, for an open loop, the events still unprocessed when
    * it ended. */
  private final case class Drive(feeds: Seq[Feed], windowNs: Long, sent: Long, lag: Long)

  private def drive(fs: FoldStream, spec: FoldSpec, seconds: Int, gen: EventGen,
      model: ModelFold, progress: () => Seq[StreamingQueryProgress]): Drive = {
    val since = fs.lastBatchId
    if (spec.closed) {
      // closed loop: only the time from a feed to its batch being folded
      // counts; generating the next batch happens off the clock
      val feeds = Seq.newBuilder[Feed]
      var window = 0L
      var sent = 0L
      while (window < seconds * 1000000000L) {
        val ev = gen.take(spec.eventsPerBatch)
        model.add(ev)
        val rows = ev.wire
        val f = fs.feed(rows, System.nanoTime())
        fs.query.processAllAvailable()
        window += System.nanoTime() - f.startNs
        feeds += f
        sent += ev.length
      }
      Drive(feeds.result(), window, sent, 0L)
    } else {
      val perTick = spec.rate / spec.ticksPerSecond
      val ticks = seconds * spec.ticksPerSecond
      val tickNs = 1000000000L / spec.ticksPerSecond
      // the whole schedule is generated before the clock starts
      val chunks = Array.fill(ticks) { val ev = gen.take(perTick); model.add(ev); ev.wire }
      val sendLog = new ConcurrentLinkedQueue[Feed]()
      val t0 = System.nanoTime() + 10000000L
      val sender = new Thread(() => {
        var j = 0
        while (j < ticks) {
          val due = t0 + j * tickNs
          val wait = due - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          sendLog.add(fs.feed(chunks(j), due))
          j += 1
        }
      }, "perfbench-generator")
      sender.start()
      sender.join()
      val window = System.nanoTime() - t0
      val sent = perTick.toLong * ticks
      val processed = progress().filter(_.batchId > since).map(_.numInputRows).sum
      Drive(sendLog.asScala.toSeq, window, sent, sent - processed)
    }
  }

  /** Drive `fs` untimed for `warmSeconds` and let it drain, so the JIT and
    * the state store settle; then measure it for `seconds`, drain it, stop
    * it and check its whole changelog against the model. */
  def measure(fs: FoldStream, spec: FoldSpec, warmSeconds: Int, seconds: Int,
      gen: EventGen, model: ModelFold,
      progress: () => Seq[StreamingQueryProgress]): FoldResult = {
    val w0 = System.nanoTime()
    if (warmSeconds > 0) {
      drive(fs, spec, warmSeconds, gen, model, progress)
      fs.query.processAllAvailable()
    }
    val warmNs = System.nanoTime() - w0
    val warmBatch = fs.lastBatchId
    val d = drive(fs, spec, seconds, gen, model, progress)
    fs.query.processAllAvailable()
    val err = fs.query.exception
    fs.stop()
    val ps = progress().filter(p => p.batchId > warmBatch && p.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
    val sink = fs.sink.asScala.toSeq.sortBy(_.batchId)
    val problems = err.map(e => s"stream failed: ${e.getMessage.take(200)}").toSeq ++
      OutputCheck.verify(sink, model)
    FoldResult(d.windowNs, d.sent, ps.map(_.numInputRows).sum, d.feeds, ps,
      sink.filter(_.batchId > warmBatch), d.lag, problems, fs.buildNs, warmNs)
  }
}
