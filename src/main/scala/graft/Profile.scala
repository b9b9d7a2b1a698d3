package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool (r21 optimization round): per-query execution profile — wall
  * time vs. scheduled task time, job/stage/task counts — to tell
  * overhead-bound queries (wall ≫ task time: too many tiny stages, plan
  * latency) from compute-bound ones (task time ≈ wall × cores). Mirrors
  * Bench's session + force() so the measured shape is the bench's.
  * Usage: runMain graft.Profile <sfDir> <query> [query ...]
  *
  * Approximation note (r21 ADVICE): the listener bus delivers events
  * asynchronously, so per-run counters reset on the main thread can miss
  * late task-end events or bleed them into the next run; the bus is
  * drained (waitUntilEmpty) before each reset/readout to keep the counts
  * deterministic. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Bench.session(sfDir)
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageCpuMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageGcMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        stageNames.put(s.stageInfo.stageId, s.stageInfo.name.take(120))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) {
          taskMs += t.taskInfo.duration
          stageTaskMs.merge(t.stageId, t.taskInfo.duration, Long.box(_) + _)
          stageTasks.merge(t.stageId, 1, Integer.sum(_, _))
        }
        if (t.taskMetrics != null) {
          stageCpuMs.merge(t.stageId, t.taskMetrics.executorCpuTime / 1000000L, Long.box(_) + _)
          stageGcMs.merge(t.stageId, t.taskMetrics.jvmGCTime, Long.box(_) + _)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Drain the async listener bus so run i's late task-end events cannot
    // bleed into run i+1's counters (or be missed before the readout).
    // waitUntilEmpty is private[spark] — reflection with a sleep fallback
    // is fine for a dev tool.
    def drainListenerBus(): Unit =
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(300) }
    def clearCaches(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sharedState.cacheManager.clearCache()
    }
    val qs = SparkEntry.queries
    names.foreach { name =>
      val fn = qs(name)
      // warm-up (artifact builds, codegen) — untimed, like Bench
      try Bench.force(fn(spark, sfDir)) catch { case e: Throwable =>
        println(s"$name warmup failed: $e") }
      clearCaches()
      (1 to 3).foreach { i =>
        drainListenerBus()
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        stageTaskMs.clear(); stageTasks.clear(); stageNames.clear()
        stageCpuMs.clear(); stageGcMs.clear()
        val t0 = System.nanoTime()
        Bench.force(fn(spark, sfDir))
        val wallMs = (System.nanoTime() - t0) / 1e6
        drainListenerBus()
        clearCaches()
        println(f"[profile] $name run$i wall=${wallMs}%.0fms jobs=$jobs stages=$stages tasks=$tasks taskTime=${taskMs}ms parallelism=${taskMs / wallMs}%.1f")
        if (i == 3) {
          import scala.jdk.CollectionConverters._
          stageTaskMs.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (sid, ms) =>
            println(f"[stage] $name sid=$sid dur=${ms}ms cpu=${stageCpuMs.getOrDefault(sid, 0L)}ms gc=${stageGcMs.getOrDefault(sid, 0L)}ms tasks=${stageTasks.getOrDefault(sid, 0)} ${stageNames.getOrDefault(sid, "?")}")
          }
        }
      }
    }
    spark.stop()
  }
}
