package perfbench

/** One Kafka-shaped input record: key and value as wire JSON, plus the
  * offset that orders events, which is what `InventoryStream.decode`
  * reads. */
final case class WireEvent(key: String, value: String, offset: Long)

/** A run of consecutive generated events, held as primitive columns.
  * `first` is the global index (the wire offset) of event 0. */
final class Events(val first: Long, val key: Array[Int], val action: Array[Byte],
    val delta: Array[Byte]) {
  def length: Int = key.length

  def wire: Seq[WireEvent] = Array.tabulate(length) { i =>
    val code = EventGen.productCode(key(i))
    WireEvent(s"""{"productCode":"$code"}""",
      s"""{"delta":${delta(i)},"key":{"productCode":"$code"},"action":"${EventGen.Actions(action(i))}"}""",
      first + i)
  }.toSeq
}

/** Seeded update events with the reference generator's distribution
  * (FIXTURES.md): keys uniform over `keys` product codes, actions uniform
  * over INC/DEC/REP, deltas uniform in 1..10. The sequence depends only on
  * the seed, so the same seed gives the same events however they are
  * chunked. */
final class EventGen(seed: Long, keys: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var next = 0L

  def take(n: Int): Events = {
    val k = new Array[Int](n)
    val a = new Array[Byte](n)
    val d = new Array[Byte](n)
    var i = 0
    while (i < n) {
      k(i) = rnd.nextInt(keys)
      a(i) = rnd.nextInt(3).toByte
      d(i) = (1 + rnd.nextInt(10)).toByte
      i += 1
    }
    val ev = new Events(next, k, a, d)
    next += n
    ev
  }
}

object EventGen {
  val Actions: Array[String] = Array("INC", "DEC", "REP")
  def productCode(k: Int): String = "p" + k
}

/** The benchmark's own model of the fold: the latest count per key after
  * INC adds, DEC subtracts and REP replaces, applied in event order. It is
  * kept apart from the program's fold so that it can check it. */
final class ModelFold(keys: Int) {
  val count = new Array[Int](keys)
  val seen = new java.util.BitSet(keys)
  var events = 0L

  def add(ev: Events): Unit = {
    var i = 0
    while (i < ev.length) {
      val k = ev.key(i)
      count(k) = ev.action(i) match {
        case 0 => count(k) + ev.delta(i)
        case 1 => count(k) - ev.delta(i)
        case _ => ev.delta(i).toInt
      }
      seen.set(k)
      i += 1
    }
    events += ev.length
  }
}

/** What the sink received for one micro-batch, still as wire JSON. */
final case class SinkBatch(batchId: Long, startNs: Long, receivedNs: Long,
    endNs: Long, keys: Array[String], values: Array[String])

object OutputCheck {
  private val KeyJson = """\{"productCode":"p(\d+)"\}""".r
  private val CountJson = """\{"count":(-?\d+),"key":null\}""".r

  /** Decodes every emitted record and compares the changelog with the
    * model: no key twice in one batch, every record well formed, and the
    * latest emitted count of every key equal to the model's count, with
    * no key missing and none extra. Returns the problems found (at most
    * `limit` of them, plus a count of the rest). */
  def verify(batches: Seq[SinkBatch], model: ModelFold, limit: Int = 5): Seq[String] = {
    val problems = Seq.newBuilder[String]
    var n = 0
    def problem(s: String): Unit = { n += 1; if (n <= limit) problems += s }
    val latest = scala.collection.mutable.HashMap[Int, Int]()
    batches.sortBy(_.batchId).foreach { b =>
      val inBatch = new java.util.HashSet[Int]()
      var i = 0
      while (i < b.keys.length) {
        (String.valueOf(b.keys(i)), String.valueOf(b.values(i))) match {
          case (KeyJson(k), CountJson(c)) =>
            val key = k.toInt
            if (!inBatch.add(key)) problem(s"batch ${b.batchId}: key p$key emitted twice")
            latest(key) = c.toInt
          case (k, v) => problem(s"batch ${b.batchId}: malformed record key=$k value=$v")
        }
        i += 1
      }
    }
    var k = model.seen.nextSetBit(0)
    while (k >= 0) {
      latest.remove(k) match {
        case None => problem(s"key p$k: folded by the model but never emitted")
        case Some(got) if got != model.count(k) =>
          problem(s"key p$k: emitted $got, model ${model.count(k)}")
        case _ => ()
      }
      k = model.seen.nextSetBit(k + 1)
    }
    latest.keys.toSeq.sorted.foreach(x => problem(s"key p$x: emitted but never sent"))
    if (n > limit) problems += s"... and ${n - limit} more"
    problems.result()
  }
}
