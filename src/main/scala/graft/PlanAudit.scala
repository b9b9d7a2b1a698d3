package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan audit CLI: for each named query (args, or every registered query
  * with no args), walk the STATIC physical plan — through AQE wrappers,
  * query stages, and cache boundaries — and print every BroadcastExchange
  * whose build side contains a generator (the r19 OOM-cliff shape, see
  * BroadcastGeneratorGateSpec). Usage:
  *   runMain graft.PlanAudit <sfDir> [query ...]
  * Prints one header line per query (`name: N generator-fed broadcasts`)
  * and the first lines of each offending build subtree. */
object PlanAudit {
  /** Expand one node: through the AQE wrapper, into query-stage subplans,
    * and into cached-relation plans (a materialize boundary hides the
    * generator that produced the cached rows, but not from the estimator —
    * pre-materialization, stats flow straight through the cache node). */
  def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      Seq(im.relation.cachedPlan)
    case other => other.children
  }
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(allNodes)
  /** A keyless (global) aggregate immediately under the exchange is ONE
    * row by construction — the "1-row stats" allowance (e.g. a corpus
    * total crossJoined back in); only trivial row-preserving nodes may sit
    * between the exchange and the aggregate. */
  @scala.annotation.tailrec
  def isOneRowByConstruction(p: SparkPlan): Boolean = p match {
    case pr: org.apache.spark.sql.execution.ProjectExec => isOneRowByConstruction(pr.child)
    case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
      h.groupingExpressions.isEmpty
    case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
      o.groupingExpressions.isEmpty
    case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
      s.groupingExpressions.isEmpty
    case _ => false
  }
  /** Broadcast builds in `root` whose shipped side contains a generator
    * and is not 1-row by construction. */
  def generatorBroadcasts(root: SparkPlan): Seq[SparkPlan] =
    allNodes(root)
      .collect { case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b }
      .filterNot(b => isOneRowByConstruction(b.child))
      .filter(b => allNodes(b).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = Graft.localCores
    val spark = Graft.session(master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val bad = generatorBroadcasts(df.queryExecution.executedPlan)
        // distinct by plan id: a reused build appears once per reference
        val uniq = bad.groupBy(_.id).map(_._2.head).toSeq.sortBy(_.id)
        println(s"== $name: ${uniq.size} distinct generator-fed broadcast build(s) " +
          s"(${bad.size} references)")
        uniq.foreach { b =>
          println(b.treeString.linesIterator.take(12).map("   " + _).mkString("\n"))
          println("   ...")
        }
      } catch { case e: Throwable =>
        println(s"== $name: ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      } finally {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
