package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Graft.localCores
    val spark = Graft.session(master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    // Artifact-buyback invariant (r18 VERDICT item 2): every declared
    // artifact-served row and its fresh twin must be registered, no twin
    // may itself be artifact-served, and oracle-replay-only rows must
    // still carry their replay-from-raw oracle. Fails the whole dump loud
    // rather than letting a dropped twin silently weaken the bench's
    // freshness story.
    ArtifactTwins.check(
      SparkEntry.queries.keySet,
      SparkEntry.allQueries
        .filter(q => q.oracle.isDefined || q.oracleFor.isDefined)
        .map(_.name).toSet)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter, mirroring Bench: SPARK_GRAFT_ONLY=n1,n2 dumps a
    // subset. Unset (the driver's invocation) → the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // the root cause is what matters for triage (Spark wraps planner
        // failures in INTERNAL_ERROR with the real exception as the cause)
        var c = e.getCause
        while (c != null) {
          System.err.println(s"[verify]   caused by: $c")
          c.getStackTrace.take(6).foreach(f => System.err.println(s"[verify]     at $f"))
          c = c.getCause
        }
      }
      // drop intermediates materialized by the query (hermetic runs)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
