package perfbench

/** Tests of the benchmark's own logic: the generator, the percentile and
  * tail rule, and the output check. Every run executes them (they take
  * milliseconds) and is marked incorrect if one fails; `main` runs them
  * alone and exits 1 on a failure. */
object SelfCheck {

  def failures(): Seq[String] = {
    val out = Seq.newBuilder[String]
    def check(name: String)(ok: => Boolean): Unit =
      try { if (!ok) out += name } catch { case e: Throwable => out += s"$name: $e" }

    def events(seed: Long, sizes: Seq[Int]): Seq[(Long, Int, Byte, Byte)] = {
      val g = new EventGen(seed, 1000)
      sizes.flatMap { n =>
        val e = g.take(n)
        (0 until n).map(i => (e.first + i, e.key(i), e.action(i), e.delta(i)))
      }
    }
    check("generator: the same seed gives the same events however chunked") {
      events(7, Seq(500)) == events(7, Seq(100, 1, 399))
    }
    check("generator: another seed gives other events") {
      events(7, Seq(500)) != events(8, Seq(500))
    }
    check("generator: keys, actions and deltas stay in range and cover it") {
      val e = events(3, Seq(20000))
      e.forall(x => x._2 >= 0 && x._2 < 1000 && x._3 >= 0 && x._3 <= 2 && x._4 >= 1 && x._4 <= 10) &&
        e.map(_._3).distinct.length == 3 && e.map(_._4).distinct.length == 10
    }
    check("generator: wire JSON carries the event") {
      val w = new EventGen(1, 10).take(1)
      w.wire.head.value == s"""{"delta":${w.delta(0)},"key":{"productCode":"p${w.key(0)}"},"action":"${EventGen.Actions(w.action(0))}"}""" &&
        w.wire.head.key == s"""{"productCode":"p${w.key(0)}"}""" && w.wire.head.offset == 0L
    }

    val xs = (1 to 100).map(_.toDouble)
    check("tail: 100 samples give p90 with ten beyond it") {
      Stats.tail(xs) == Stats.Pct(90.0, 90.0, 100)
    }
    check("tail: 25 samples give p60") {
      Stats.tail(xs.take(25)) == Stats.Pct(15.0, 60.0, 25)
    }
    check("tail: fewer samples fall back to the upper median, never below p50") {
      Stats.tail(xs.take(15)) == Stats.Pct(8.0, 100.0 * 8 / 15, 15) &&
        Stats.tail(xs.take(10)) == Stats.Pct(6.0, 60.0, 10) &&
        Stats.tail(xs.take(1)) == Stats.Pct(1.0, 100.0, 1)
    }
    check("tail: order of the input does not matter") {
      Stats.tail(xs.reverse) == Stats.tail(xs)
    }
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    // a changelog emitted by a correct fold of three batches
    val g = new EventGen(11, 50)
    val model = new ModelFold(50)
    val state = new Array[Int](50)
    val batches = (0 until 3).map { b =>
      val e = g.take(200)
      model.add(e)
      val touched = scala.collection.mutable.LinkedHashSet[Int]()
      (0 until e.length).foreach { i =>
        val k = e.key(i)
        state(k) = e.action(i) match {
          case 0 => state(k) + e.delta(i)
          case 1 => state(k) - e.delta(i)
          case _ => e.delta(i).toInt
        }
        touched += k
      }
      val ks = touched.toArray
      SinkBatch(b, 0, 0, 0, ks.map(k => s"""{"productCode":"p$k"}"""),
        ks.map(k => s"""{"count":${state(k)},"key":null}"""))
    }
    check("output check: a correct changelog passes") {
      OutputCheck.verify(batches, model).isEmpty
    }
    check("output check: an injected wrong count is caught") {
      val last = batches.last
      val bad = last.copy(values = last.values.updated(0,
        last.values(0).replaceFirst("\"count\":(-?\\d+)", "\"count\":999999")))
      OutputCheck.verify(batches.init :+ bad, model).exists(_.contains("model"))
    }
    check("output check: a key emitted twice in one batch is caught") {
      val last = batches.last
      val dup = last.copy(keys = last.keys :+ last.keys(0), values = last.values :+ last.values(0))
      OutputCheck.verify(batches.init :+ dup, model).exists(_.contains("twice"))
    }
    check("output check: a missing key is caught") {
      val gone = batches.head.keys(0)
      val cut = batches.map { b =>
        val keep = b.keys.indices.filter(i => b.keys(i) != gone)
        b.copy(keys = keep.map(b.keys).toArray, values = keep.map(b.values).toArray)
      }
      OutputCheck.verify(cut, model).exists(_.contains("never emitted"))
    }
    check("output check: a tombstone or malformed record is caught") {
      val last = batches.last
      val bad = last.copy(values = last.values.updated(0, null))
      OutputCheck.verify(batches.init :+ bad, model).exists(_.contains("malformed"))
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val f = failures()
    f.foreach(x => println(s"FAIL $x"))
    println(if (f.isEmpty) "self-check: all passed" else s"self-check: ${f.length} failed")
    if (f.nonEmpty) sys.exit(1)
  }
}
