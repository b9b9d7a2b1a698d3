package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Command-line settings; `perfbench/run.py` fills in the host-derived
  * ones (cores, data directory, run directory, fingerprints). */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, runDir: String,
    dataDir: String, cores: Int, expected: String, sourceSha: String,
    gitHead: String, heap: String, keys: Option[Int], eventsPerBatch: Option[Int],
    rate: Option[Int])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Option[Int] = kv.get(k).map(_.toInt)
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("run-dir"), get("data-dir"), get("cores").toInt,
      get("expected"), kv.getOrElse("source-sha", "unknown"),
      kv.getOrElse("git-head", "unknown"), kv.getOrElse("heap", "unknown"),
      int("keys"), int("events-per-batch"), int("rate"))
  }
}

/** What one run reports: the contract's four fields, the metrics in the
  * order they are declared, and details for the run record. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    metrics: Seq[(String, Double, String)], details: Seq[(String, String)])

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "batch_p50_ms" -> "ms", "batch_tail_ms" -> "ms",
    "build_ms" -> "ms", "build_jobs" -> "count",
    "driver_gap_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "in_job_ms" -> "ms", "tasks" -> "count", "task_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "codegen_compiles" -> "count", "codegen_ms" -> "ms", "served_ms" -> "ms",
    "plan_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
    "add_batch_ms" -> "ms",
    "state_update_ms" -> "ms", "rocksdb_get_ms" -> "ms", "rocksdb_put_ms" -> "ms",
    "state_rows_total" -> "count", "state_memory_bytes" -> "bytes",
    "rocksdb_sst_bytes" -> "bytes",
    "state_commit_ms" -> "ms", "rocksdb_sync_ms" -> "ms", "rocksdb_zip_ms" -> "ms",
    "feed_ms" -> "ms", "source_lag_events" -> "count", "generator_late_ms" -> "ms",
    "sink_ms" -> "ms", "rows_emitted" -> "count", "trace_overhead_pct" -> "%",
    "failed_ratio" -> "ratio")

  val Workloads: Set[String] = Set("registry-sf0.1", "fold-wide", "fold-hot-1s")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    Files.createDirectories(Paths.get(a.runDir))
    val selfCheck = SelfCheck.failures()
    val tracer = new Tracer
    val o =
      if (a.workload.startsWith("registry")) RegistryRun(a, tracer)
      else FoldRun(a, tracer)
    val problems = selfCheck.map("self-check: " + _) ++ o.problems
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val want = if (a.trace) PerLayer else EndToEnd
    val metrics = o.metrics :+ (("failed_ratio", o.failed.toDouble / math.max(1L, o.attempted), "ratio"))
    val byName = metrics.map(m => m._1 -> m).toMap
    val missing = want.map(_._1).filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val metricsJson = want.map { case (n, _) =>
      val (_, v, u) = byName(n)
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val line = s"""{"correct":${problems.isEmpty},"attempted":${o.attempted},"failed":${o.failed},"metrics":$metricsJson}"""
    val record = (Seq("result" -> line, "problems" -> Json.arr(problems.map(Json.str)),
      "all_metrics" -> metrics.map { case (n, v, u) =>
        s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}"))
      ++ o.details).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    Files.write(Paths.get(a.runDir, "result.json"), (record + "\n").getBytes(UTF_8))
    if (a.trace) writeSpans(tracer, Paths.get(a.runDir, "spans.jsonl").toString)
    println(line)
    System.out.flush()
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val spans = t.all
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},"name":${Json.str(s.name)},"start_ms":${Json.num((s.start - t0) / 1e6)},"end_ms":${Json.num((s.end - t0) / 1e6)}}""")
    Files.write(Paths.get(path), lines.asJava, UTF_8)
  }

  /** The configuration a result was measured under. */
  def fingerprint(a: Args, spark: SparkSession): String = Json.obj(Seq(
    "nproc" -> a.cores.toString,
    "heap" -> Json.str(a.heap),
    "spark_version" -> Json.str(spark.version),
    "java_version" -> Json.str(System.getProperty("java.version")),
    "state_provider" -> Json.str(spark.conf.get(
      "spark.sql.streaming.stateStore.providerClass", "default")),
    "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
    "git_head" -> Json.str(a.gitHead),
    "source_sha" -> Json.str(a.sourceSha),
    "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
    "seconds" -> a.seconds.toString, "trace" -> a.trace.toString))

  /** Set-ups per run; `setup_s` is their median, so the first one, which
    * also loads the JVM's classes, does not set it. */
  val SetupCount = 5

  /** Median of the timed set-ups; the last one's result is kept. */
  def setups[T](one: Int => (T, Double)): (T, Double, Seq[Double]) = {
    val rs = (0 until SetupCount).map(one)
    (rs.last._1, Stats.median(rs.map(_._2)), rs.map(_._2))
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def pctJson(p: Stats.Pct): String =
    s"""{"value":${Json.num(p.value)},"percentile":${Json.num(p.pct)},"samples":${p.n}}"""
}

object Json {
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("\\p{Cntrl}", " ") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Sessions built through the program's own factory, `graft.Graft.session`,
  * each on fresh warehouse, local and checkpoint directories. */
object Session {
  def start(a: Args, k: Int): (SparkSession, String) = {
    val dir = s"${a.runDir}/session-$k"
    System.setProperty("spark.sql.warehouse.dir", s"$dir/warehouse")
    System.setProperty("spark.local.dir", s"$dir/local")
    val spark = graft.Graft.session("perfbench", Some(s"local[${a.cores}]"), Some(a.cores))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    (spark, dir)
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object RegistryRun {
  private def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def apply(a: Args, tracer: Tracer): Outcome = {
    val ((spark, _), sessionS, sessionAll) = Main.setups { k =>
      val r = Main.timed(Session.start(a, k))
      if (k < Main.SetupCount - 1) Session.stop(r._1._1)
      r
    }
    // two untimed passes: the JIT is still speeding the second one up
    val warmPasses = Seq.fill(2)(Registry.warmUp(spark, a.dataDir))
    val warm = warmPasses.flatten
    val warmS = warm.map(_._2).sum
    val rows = warm.map(w => w._1 -> w._3)
    val warmFailures = rows.collect { case (q, Left(e)) => s"$q: $e" }
    val listener = new LayerListener(spark.sparkContext)
    // untraced passes, and with --trace 1 traced passes in between them
    val runs = Seq.newBuilder[QueryRun]
    val passLog = Seq.newBuilder[String]
    // passes start until --seconds have gone by, at least two (with
    // --trace 1, at least one of each kind)
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && n % 2 == 1
      if (traced) listener.attach()
      val (gc0, cg0) = (gcMs(), compiles())
      val p = Registry.pass(spark, a.dataDir, n, if (traced) Some(listener) else None)
      passLog += Json.obj(Seq("wall_ms" -> Json.num(p.map(_.wallMs).sum),
        "gc_ms" -> Json.num(gcMs() - gc0), "compiles" -> Json.num(compiles() - cg0),
        "traced" -> traced.toString))
      runs ++= p
      if (traced) listener.detach()
      n += 1
    }
    val all = runs.result()
    val plain = all.filterNot(_.traced)
    val problems = warmFailures.map("warm-up " + _) ++
      all.flatMap(r => r.error.map(e => s"${r.name} (pass ${r.pass}): $e")) ++
      Registry.checkRows(rows, Registry.readExpected(a.expected))
    val ok = plain.filter(_.error.isEmpty)
    val perQuery = ok.groupBy(_.name).map { case (q, rs) => q -> Stats.median(rs.map(_.wallMs)) }
    val suiteS = perQuery.values.sum / 1000
    val latP50 = Stats.p50(ok.map(_.wallMs))
    val latTail = Stats.tail(ok.map(_.wallMs))
    val batP50 = Stats.p50(ok.map(_.forceMs))
    val batTail = Stats.tail(ok.map(_.forceMs))
    val e2e = Seq(
      ("setup_s", sessionS + warmS, "s"),
      ("throughput_per_s", perQuery.size / suiteS, "1/s"),
      ("latency_p50_ms", latP50.value, "ms"), ("latency_tail_ms", latTail.value, "ms"),
      ("batch_p50_ms", batP50.value, "ms"), ("batch_tail_ms", batTail.value, "ms"))
    val (layers, layerProblems, layerDetails) =
      if (a.trace) traceLayers(all, listener, tracer) else (Nil, Nil, Nil)
    val fingerprint = Main.fingerprint(a, spark)
    Session.stop(spark)
    // the streaming layers are not used by batch queries (failed_ratio is
    // added by Main for every workload)
    val unused = if (!a.trace) Nil else Main.PerLayer.collect {
      case (n, u) if n != "failed_ratio" && !(e2e ++ layers).exists(_._1 == n) => (n, 0.0, u) }
    Outcome(all.length, all.count(_.error.nonEmpty), problems ++ layerProblems,
      e2e ++ layers ++ unused,
      Seq("fingerprint" -> fingerprint,
        "setup" -> Json.obj(Seq("session_s" -> Json.arr(sessionAll.map(Json.num)),
          "warmup_s" -> Json.num(warmS),
          "warmup_pass_s" -> Json.arr(warmPasses.map(p => Json.num(p.map(_._2).sum))))),
        "passes" -> Json.arr(passLog.result()),
        "suite_s" -> Json.num(suiteS),
        "fresh_s" -> Json.num(perQuery.collect {
          case (q, ms) if !Registry.served(q) => ms }.sum / 1000),
        "latency_p50_ms" -> Main.pctJson(latP50), "latency_tail_ms" -> Main.pctJson(latTail),
        "batch_p50_ms" -> Main.pctJson(batP50), "batch_tail_ms" -> Main.pctJson(batTail),
        "query_ms" -> Json.obj(perQuery.toSeq.sortBy(_._1).map { case (q, ms) => q -> Json.num(ms) }))
        ++ layerDetails)
  }

  /** Per-layer numbers of the traced passes, per pass; the spans; and the
    * reconciliation of each traced query's wall time with its layers. */
  private def traceLayers(all: Seq[QueryRun], l: LayerListener, tracer: Tracer)
      : (Seq[(String, Double, String)], Seq[String], Seq[(String, String)]) = {
    val traced = all.filter(r => r.traced && r.error.isEmpty)
    val plainPass = all.filter(!_.traced).groupBy(_.pass).values.map(_.map(_.wallMs).sum).toSeq
    val tracedPass = traced.groupBy(_.pass).values.map(_.map(_.wallMs).sum).toSeq
    val passes = traced.map(_.pass).distinct.length.toDouble
    def per(f: QueryRun => Double): Double = traced.map(f).sum / passes
    def c(f: Counters => Long): QueryRun => Double =
      r => (r.build.map(f).getOrElse(0L) + r.force.map(f).getOrElse(0L)).toDouble
    val harness = traced.flatMap { r =>
      val q = tracer.add(0, s"${r.name}#${r.pass}", "query", r.startNs, r.endNs)
      Seq(tracer.add(q.id, q.trace, "build", r.startNs, r.builtNs),
        tracer.add(q.id, q.trace, "force", r.forceStartNs, r.endNs))
    }
    tracer.adoptJobs(l.finishedJobs, harness)
    // build + gap + in-job adds up to the wall time only if every job of a
    // query ran inside its build or its force interval (listener times are
    // whole milliseconds, hence the slack)
    val slack = 2000000L
    val jobs = l.finishedJobs
    val unreconciled = traced.flatMap { r =>
      jobs.filter(j => j.end > r.startNs && j.start < r.endNs).collect {
        case j if !(j.start >= r.startNs - slack && j.end <= r.builtNs + slack) &&
            !(j.start >= r.forceStartNs - slack && j.end <= r.endNs + slack) =>
          f"${r.name} (pass ${r.pass}): job ${j.jobId} ran outside its build and force intervals"
      }
    }
    val overhead = (Stats.median(tracedPass) / Stats.median(plainPass) - 1) * 100
    val layers = Seq(
      ("build_ms", per(_.buildMs), "ms"),
      ("build_jobs", per(r => r.build.map(_.jobs).getOrElse(0L).toDouble), "count"),
      ("driver_gap_ms", per(_.gapMs), "ms"),
      ("jobs", per(c(_.jobs)), "count"), ("stages", per(c(_.stages)), "count"),
      ("in_job_ms", per(_.inJobNs / 1e6), "ms"),
      ("tasks", per(c(_.tasks)), "count"),
      ("task_cpu_ms", per(c(_.taskCpuNs)) / 1e6, "ms"),
      ("gc_ms", per(c(_.gcMs)), "ms"),
      ("shuffle_write_bytes", per(c(_.shuffleWriteBytes)), "bytes"),
      ("spill_bytes", per(c(_.spillBytes)), "bytes"),
      ("codegen_compiles", per(c(_.compiles)), "count"),
      ("codegen_ms", per(c(_.compileNs)) / 1e6, "ms"),
      ("served_ms", per(r => if (Registry.served(r.name)) r.wallMs else 0), "ms"),
      ("trace_overhead_pct", overhead, "%"))
    val self = tracer.selfTimeMs
    self.foreach { case (n, ms, k) => println(f"[perfbench] self time $n%-6s $ms%10.1f ms over $k spans") }
    println(f"[perfbench] tracing overhead $overhead%.2f%% (traced pass ${Stats.median(tracedPass)}%.0f ms vs untraced ${Stats.median(plainPass)}%.0f ms)")
    (layers, unreconciled.map("reconcile: " + _),
      Seq("self_time_ms" -> Json.obj(self.map { case (n, ms, _) => n -> Json.num(ms) }),
        "trace_overhead" -> Json.obj(Seq("traced_pass_ms" -> Json.num(Stats.median(tracedPass)),
          "untraced_pass_ms" -> Json.num(Stats.median(plainPass)),
          "pct" -> Json.num(overhead)))))
  }
}

object FoldRun {
  def apply(a: Args, tracer: Tracer): Outcome = {
    val base = if (a.workload == "fold-wide") Fold.wide else Fold.hot
    val spec = base.copy(
      keys = a.keys.getOrElse(base.keys),
      eventsPerBatch = a.eventsPerBatch.getOrElse(base.eventsPerBatch),
      rate = a.rate.getOrElse(base.rate))
    var streams = 0
    def fresh(spark: SparkSession, dir: String): (FoldStream, EventGen, ModelFold) = {
      val gen = new EventGen(a.seed, spec.keys)
      val model = new ModelFold(spec.keys)
      streams += 1
      (Fold.start(spark, spec, s"$dir/checkpoint-$streams", gen, model), gen, model)
    }
    val ((spark, dir, first), setupS, setupAll) = Main.setups { k =>
      val r = Main.timed { val (s, d) = Session.start(a, k); (s, d, fresh(s, d)) }
      if (k < Main.SetupCount - 1) { r._1._3._1.stop(); Session.stop(r._1._1) }
      r
    }
    val (fs, gen, model) = first
    // with --trace 1 the window is split: an untraced stream, then a traced
    // one on a fresh checkpoint with the same events
    val window = if (a.trace) math.max(1, a.seconds / 2) else a.seconds
    val plain = Fold.measure(fs, spec, Fold.WarmSeconds, window, gen, model,
      () => fs.query.recentProgress.toSeq)
    val tracedRun = if (!a.trace) None else {
      val l = new LayerListener(spark.sparkContext)
      l.attach()
      spark.streams.addListener(l.streamListener)
      val (tfs, tgen, tmodel) = fresh(spark, dir)
      val before = l.snapshot()
      val r = Fold.measure(tfs, spec, Fold.WarmSeconds, window, tgen, tmodel,
        () => { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); l.progress.asScala.toSeq })
      val after = l.snapshot()
      spark.streams.removeListener(l.streamListener)
      l.detach()
      Some((r, l, after - before))
    }
    val fingerprint = Main.fingerprint(a, spark)
    Session.stop(spark)

    def e2e(r: FoldResult): (Seq[(String, Double, String)], Seq[(String, String)]) = {
      val lat = r.latencies
      val events = lat.flatMap(_._2.map(_._2)).sum
      // p50 over events; the tail over micro-batches, each represented by
      // its oldest event
      val latP50 = weightedMedian(lat.flatMap(_._2))
      val latTail = Stats.tail(lat.map(_._2.map(_._1).max))
      val batP50 = Stats.p50(r.batchMs)
      val batTail = Stats.tail(r.batchMs)
      val spanNs =
        if (spec.closed) r.windowNs
        else r.sink.map(_.receivedNs).max - r.feeds.map(_.dueNs).min
      val thr = r.processed / (spanNs / 1e9)
      (Seq(("throughput_per_s", thr, "1/s"),
        ("latency_p50_ms", latP50, "ms"), ("latency_tail_ms", latTail.value, "ms"),
        ("batch_p50_ms", batP50.value, "ms"), ("batch_tail_ms", batTail.value, "ms")),
        Seq("latency_p50_ms" -> Main.pctJson(Stats.Pct(latP50, 50, events.toInt)),
          "latency_tail_ms" -> Main.pctJson(latTail),
          "batch_p50_ms" -> Main.pctJson(batP50), "batch_tail_ms" -> Main.pctJson(batTail),
          "events" -> r.events.toString, "processed" -> r.processed.toString,
          "batch_ms" -> Json.arr(r.batchMs.map(Json.num)), "window_s" -> Json.num(r.windowNs / 1e9)))
    }
    val (plainE2e, plainDetails) = e2e(plain)
    val headline = if (spec.closed) "throughput_per_s" else "latency_p50_ms"
    val (layers, layerDetails) = tracedRun match {
      case None => (Nil, Nil)
      case Some((r, l, work)) =>
        val (te2e, tdet) = e2e(r)
        val p = plainE2e.find(_._1 == headline).get._2
        val t = te2e.find(_._1 == headline).get._2
        val overhead = (if (spec.closed) p / t - 1 else t / p - 1) * 100
        println(f"[perfbench] tracing overhead $overhead%.2f%% ($headline traced $t%.1f vs untraced $p%.1f)")
        (FoldLayers(r, l, tracer, spec, work) :+ (("trace_overhead_pct", overhead, "%")),
          Seq("traced" -> Json.obj(tdet), "trace_overhead" -> Json.obj(Seq(
            "metric" -> Json.str(headline), "traced" -> Json.num(t),
            "untraced" -> Json.num(p), "pct" -> Json.num(overhead)))))
    }
    val all = Seq(plain) ++ tracedRun.map(_._1).toSeq
    Outcome(all.map(_.events).sum, all.map(r => r.events - r.processed).sum,
      all.flatMap(_.problems),
      // set-up is session start, stream start and the first batch; the
      // warm-up drive is a fixed stretch of the harness and left out
      (("setup_s", setupS, "s") +: plainE2e) ++ layers,
      Seq("fingerprint" -> fingerprint,
        "setup" -> Json.obj(Seq("setup_s" -> Json.arr(setupAll.map(Json.num)),
          "warmup_s" -> Json.num(plain.warmNs / 1e9))),
        "spec" -> Json.obj(Seq("keys" -> spec.keys.toString, "closed" -> spec.closed.toString,
          "events_per_batch" -> spec.eventsPerBatch.toString, "rate" -> spec.rate.toString,
          "trigger" -> Json.str(spec.trigger.toString)))) ++ plainDetails ++ layerDetails)
  }

  /** Median of (value, weight) pairs, each value counted `weight` times. */
  def weightedMedian(xs: Seq[(Double, Int)]): Double = {
    val s = xs.sortBy(_._1)
    val half = s.map(_._2.toLong).sum / 2.0
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= half }.map(_._1).getOrElse(Double.NaN)
  }
}

/** Per-layer numbers of a traced stream: per micro-batch medians of the
  * progress phases, state-store metrics and the work of the jobs inside
  * each batch; state sizes at the last batch; codegen compiles of the whole
  * traced stream, warm-up included, per measured batch. */
object FoldLayers {
  def apply(r: FoldResult, l: LayerListener, tracer: Tracer, spec: FoldSpec,
      work: Counters): Seq[(String, Double, String)] = {
    val jobs = l.finishedJobs
    val sinkById = r.sink.map(b => b.batchId -> b).toMap
    val feedsByBatch = r.feedBatch.groupBy(_._2)
    case class B(p: StreamingQueryProgress, start: Long, end: Long, jobs: Seq[JobRec])
    val bs = r.batches.map { p =>
      val st = l.toNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val en = st + p.durationMs.get("triggerExecution").longValue * 1000000L
      B(p, st, en, jobs.filter(j => j.start >= st && j.start <= en))
    }
    // spans: per batch a root "batch" span with its feeds before it and
    // its sink inside it; jobs go under the innermost span holding them
    val hosts = bs.flatMap { b =>
      val id = s"batch-${b.p.batchId}"
      val feeds = feedsByBatch.getOrElse(b.p.batchId, Nil).map { case (f, _) =>
        tracer.add(0, id, "feed", f.startNs, f.endNs) }
      val bspan = tracer.add(0, id, "batch", b.start, b.end)
      feeds ++ Seq(bspan) ++ sinkById.get(b.p.batchId).map(s =>
        tracer.add(bspan.id, id, "sink", s.startNs, s.endNs)).toSeq
    }
    tracer.adoptJobs(jobs.filter(j => bs.exists(b => j.start >= b.start && j.start <= b.end)), hosts)
    tracer.selfTimeMs.foreach { case (n, ms, k) =>
      println(f"[perfbench] self time $n%-6s $ms%10.1f ms over $k spans") }

    def med(f: B => Double): Double = Stats.median(bs.map(f))
    def dur(k: String): B => Double =
      b => Option(b.p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): B => Double =
      b => b.p.stateOperators.headOption.map(f).getOrElse(0.0)
    def custom(k: String): B => Double =
      state(s => Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0))
    def inJob(b: B): Double = Intervals.unionWithin(b.jobs.map(j => (j.start, j.end)), b.start, b.end) / 1e6
    def sum(f: JobRec => Long): B => Double = b => b.jobs.map(f).sum.toDouble
    val last = bs.last
    val buildJobs = jobs.count(j => j.start >= r.buildNs._1 && j.start <= r.buildNs._2)
    val feedMs = (b: B) => feedsByBatch.getOrElse(b.p.batchId, Nil).map(f => (f._1.endNs - f._1.startNs) / 1e6).sum
    val sinkMs = (b: B) => sinkById.get(b.p.batchId).map { s =>
      (s.endNs - s.startNs - Intervals.unionWithin(b.jobs.map(j => (j.start, j.end)), s.startNs, s.endNs)) / 1e6
    }.getOrElse(0.0)
    val late = if (spec.closed) 0.0 else r.feeds.map(f => (f.startNs - f.dueNs) / 1e6).max
    Seq(
      ("build_ms", (r.buildNs._2 - r.buildNs._1) / 1e6, "ms"),
      ("build_jobs", buildJobs.toDouble, "count"),
      ("driver_gap_ms", med(b => dur("triggerExecution")(b) - inJob(b)), "ms"),
      ("jobs", med(_.jobs.length.toDouble), "count"),
      ("stages", med(sum(_.stages)), "count"),
      ("in_job_ms", med(inJob), "ms"),
      ("tasks", med(sum(_.tasks)), "count"),
      ("task_cpu_ms", med(sum(_.taskCpuNs)) / 1e6, "ms"),
      ("gc_ms", med(sum(_.gcMs)), "ms"),
      ("shuffle_write_bytes", med(sum(_.shuffleWriteBytes)), "bytes"),
      ("spill_bytes", med(sum(_.spillBytes)), "bytes"),
      ("codegen_compiles", work.compiles.toDouble / bs.length, "count"),
      ("codegen_ms", work.compileNs / 1e6 / bs.length, "ms"),
      ("served_ms", 0.0, "ms"),
      ("plan_ms", med(dur("queryPlanning")), "ms"),
      ("wal_commit_ms", med(dur("walCommit")), "ms"),
      ("commit_offsets_ms", med(dur("commitOffsets")), "ms"),
      ("add_batch_ms", med(dur("addBatch")), "ms"),
      ("state_update_ms", med(state(_.allUpdatesTimeMs.toDouble)), "ms"),
      ("rocksdb_get_ms", med(custom("rocksdbGetLatency")), "ms"),
      ("rocksdb_put_ms", med(custom("rocksdbPutLatency")), "ms"),
      ("state_rows_total", state(_.numRowsTotal.toDouble)(last), "count"),
      ("state_memory_bytes", state(_.memoryUsedBytes.toDouble)(last), "bytes"),
      ("rocksdb_sst_bytes", custom("rocksdbSstFileSize")(last), "bytes"),
      ("state_commit_ms", med(state(_.commitTimeMs.toDouble)), "ms"),
      ("rocksdb_sync_ms", med(custom("rocksdbCommitFileSyncLatencyMs")), "ms"),
      ("rocksdb_zip_ms", med(custom("rocksdbSaveZipFilesLatencyMs")), "ms"),
      ("feed_ms", med(feedMs), "ms"),
      ("source_lag_events", r.lagEvents.toDouble, "count"),
      ("generator_late_ms", late, "ms"),
      ("sink_ms", med(sinkMs), "ms"),
      ("rows_emitted", med(b => sinkById.get(b.p.batchId).map(_.keys.length.toDouble).getOrElse(0.0)), "count"))
  }
}
