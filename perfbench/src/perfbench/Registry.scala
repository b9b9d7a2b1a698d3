package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{ArtifactTwins, Bench, SparkEntry}

/** One query run: construction (`SparkEntry.queries(name)(spark, dir)`) and
  * execution (`Bench.force`), timed separately. Traced runs also carry the
  * layer counters of each half and the in-job time of the force half. */
final case class QueryRun(name: String, pass: Int, traced: Boolean,
    startNs: Long, builtNs: Long, forceStartNs: Long, endNs: Long,
    error: Option[String], build: Option[Counters], force: Option[Counters],
    inJobNs: Long) {
  def buildMs: Double = (builtNs - startNs) / 1e6
  def forceMs: Double = (endNs - forceStartNs) / 1e6
  def wallMs: Double = buildMs + forceMs
  def gapMs: Double = forceMs - inJobNs / 1e6
}

/** The batch registry workload: a fixed slice of `SparkEntry.queries`, run
  * in name order, pass after pass. */
object Registry {

  /** The measured slice, chosen to cover the layers at a cost a run can
    * afford (the whole registry takes minutes per pass on a small host):
    * q3_shipping_priority is construction-heavy (three schema-inference
    * jobs), funnel_events planning-heavy (16 jobs), events_anomaly_mad
    * codegen-heavy, multimodal_jpeg compute in a UDF, knn_cosine_ivf
    * artifact-served, and inventory_fold is the flagship fold as a batch
    * query. */
  val slice: Seq[String] = Seq(
    "events_anomaly_mad", "funnel_events", "inventory_fold",
    "knn_cosine_ivf", "multimodal_jpeg", "q3_shipping_priority")

  def served: Set[String] = ArtifactTwins.allServed

  def clearCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
  }

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val missing = slice.filterNot(all.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    slice.map(n => n -> all(n))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(200)

  /** One untimed pass that builds artifacts, compiles code and warms the
    * JIT. Each query's result is also counted, outside the pass's time.
    * Returns each query's seconds and its row count or failure. */
  def warmUp(spark: SparkSession, dir: String): Seq[(String, Double, Either[String, Long])] =
    queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      var t1 = t0
      val r =
        try {
          val df = fn(spark, dir)
          Bench.force(df)
          t1 = System.nanoTime()
          try Right(df.count()) catch { case e: Throwable => Left(s"count: ${describe(e)}") }
        } catch { case e: Throwable => t1 = System.nanoTime(); Left(describe(e)) }
      clearCaches(spark)
      (name, (t1 - t0) / 1e9, r)
    }

  /** One timed pass over the slice. With a listener, each query's layer
    * counters are read (after draining the listener bus) between its halves
    * and after it, outside the timed intervals. */
  def pass(spark: SparkSession, dir: String, n: Int,
      listener: Option[LayerListener]): Seq[QueryRun] =
    queries.map { case (name, fn) =>
      val c0 = listener.map(_.snapshot())
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      var t3 = t0
      var c1: Option[Counters] = None
      val err =
        try {
          val df = fn(spark, dir)
          t1 = System.nanoTime()
          c1 = listener.map(_.snapshot())
          t2 = System.nanoTime()
          Bench.force(df)
          t3 = System.nanoTime()
          None
        } catch { case e: Throwable => t3 = System.nanoTime(); Some(describe(e)) }
      val c2 = listener.map(_.snapshot())
      clearCaches(spark)
      val inJob = listener.map(l => Intervals.unionWithin(
        l.finishedJobs.map(j => (j.start, j.end)), t2, t3)).getOrElse(0L)
      QueryRun(name, n, listener.nonEmpty, t0, t1, t2, t3, err,
        for (a <- c0; b <- c1) yield b - a,
        for (b <- c1; c <- c2) yield c - b, inJob)
    }

  /** Problems with the row counts against the recorded ones. */
  def checkRows(got: Seq[(String, Either[String, Long])], expected: Map[String, Long]): Seq[String] =
    got.flatMap {
      case (_, Left(_)) => None
      case (name, Right(n)) => expected.get(name) match {
        case None => Some(s"$name: no recorded row count")
        case Some(m) if m != n => Some(s"$name: $n rows, recorded $m")
        case _ => None
      }
    }

  def readExpected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t"); k -> v.toLong }.toMap
    finally src.close()
  }
}
