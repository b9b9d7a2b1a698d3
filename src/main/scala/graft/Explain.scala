package graft

/** Dev tool: dump formatted physical plans for selected queries.
  * Usage: runMain graft.Explain <sfDir> [queryName ...] (default: all). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else SparkEntry.queries.keySet
    val cpus = Graft.localCores
    val spark = Graft.session(master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allQueries.filter(q => names(q.name)).foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try println(q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
