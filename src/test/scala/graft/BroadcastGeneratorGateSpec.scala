package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate for the round-19 broadcast cliff (r19 verdict item 2).
  *
  * The incident: generator-produced pair streams (posexplode/explode
  * fan-outs in the posting-list dedup forms) carry LOW compile-time
  * cardinality estimates, so Catalyst driver-broadcasts a corpus-sized
  * table that sits BELOW the generator exactly when execution memory is
  * scarcest — "Not enough memory to build and broadcast", caught by the
  * 10× duplicate-dense probe (BASELINE.md §Round-19, SCALE.md). The r19
  * fix pinned `shuffle_hash` point-wise (Dedup card joins, basket support
  * joins, spanLongestOn satH). This spec makes the lesson a standing gate:
  * a future restructure that reintroduces an estimator-trusted broadcast
  * under an explode fails `sbt test`, not a cluster.
  *
  * What is swept: the STATIC (pre-execution) physical plan of every
  * pair-stream query — the plan whose broadcast decisions come from
  * Catalyst's size ESTIMATES. Runtime AQE broadcast conversions are
  * deliberately out of scope: those fire on REAL materialized sizes, the
  * exact signal the estimator lacked, and a side that is genuinely small
  * at runtime is safe to ship. The walk descends through AQE wrappers,
  * query stages, and `Tables.materialize` cache boundaries
  * (InMemoryTableScan → cachedPlan), because the r19 incident's broadcast
  * side reached its generator THROUGH a persisted intermediate.
  *
  * What is allowed: construction-bounded broadcasts — sides whose
  * cardinality is bounded by a counted driver-side probe before the hint
  * is applied (the MaxBroadcastEvalDocs discipline), never by an estimate.
  * Each allowance is named with its bounding gate. */
class BroadcastGeneratorGateSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The swept surface: every registered query in the pair-stream families
    * the r19 incident implicates — dedup_*, basket_*, contamination_*,
    * embedding_*, and the PMI collocation report. Artifact-served rows
    * plan as parquet reads and pass trivially; their fresh twins carry the
    * computation. */
  private val swept: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => n.startsWith("dedup_") || n.startsWith("basket_") ||
      n.startsWith("contamination_") || n.startsWith("embedding_") ||
      n == "text_pmi_collocations")

  /** Construction-bounded allowances — each names the counted driver-side
    * gate that bounds the shipped side BEFORE the broadcast hint is
    * applied, and the maximum number of distinct generator-fed broadcast
    * builds the gated plan may carry (so the allowance cannot silently
    * absorb a NEW ungated broadcast). */
  private val countedBounded: Map[String, (Int, String)] = Map(
    "basket_part_pairs" -> (2 ->
      ("the two support joins broadcast only under the part-table row "
        + "bound — |sup| ≤ |part| by FK, a zero-column metadata count "
        + "(Tables.boundedBroadcast, Analytics.basketPairs)")),
    "contamination_span" -> (2 ->
      ("eval span stream ships broadcast only under the counted " +
        "MaxBroadcastEvalDocs + MaxBroadcastSpanRows limit+count gates " +
        "(Dedup.spanExtentQuery)")),
    "contamination_ngram" -> (1 ->
      ("eval gram set ships broadcast only under the counted " +
        "MaxBroadcastEvalGrams limit+count gate (TrainingData.evalGramSide)")),
    "contamination_strip" -> (1 ->
      ("eval gram set ships broadcast only under the counted " +
        "MaxBroadcastEvalGrams limit+count gate (TrainingData.evalGramSide)")),
    "dedup_minhash_lsh_md5" -> (3 ->
      ("band self-join + two posting verification joins broadcast only " +
        "under counted MaxBroadcastBandRows/MaxBroadcastPostingRows gates " +
        "(Tables.countedBroadcast)")),
    "dedup_simhash_neardup" -> (1 ->
      ("band self-join broadcasts only under the counted " +
        "MaxBroadcastBandRows gate (Tables.countedBroadcast)")),
    "embedding_cosine_pairs_lsh" -> (5 ->
      ("band self-join + four member-expansion joins broadcast only under " +
        "counted MaxBroadcastBandRows/MaxBroadcastMemberRows gates " +
        "(Tables.countedBroadcast)")),
    "dedup_embedding_cosine" -> (4 ->
      ("four member-expansion joins broadcast only under the counted " +
        "MaxBroadcastMemberRows gate (Tables.countedBroadcast)")),
    "dedup_image_dhash" -> (3 ->
      ("band self-join + near/per-doc joins broadcast only under the " +
        "counted MaxBroadcastSigRows gate (ImageDedup.report)")),
    "dedup_audio_fingerprint" -> (3 ->
      ("band self-join + near/per-doc joins broadcast only under the " +
        "counted MaxBroadcastSigRows gate (ImageDedup.report)")),
    "dedup_video_fingerprint" -> (3 ->
      ("band self-join + near/per-doc joins broadcast only under the " +
        "counted MaxBroadcastSigRows gate (ImageDedup.report)")),
    "dedup_incremental_image" -> (4 ->
      ("probe-side tables broadcast only under the counted " +
        "MaxBroadcastProbeDocs batch bound (ImageDedup.incrementalDropped)")),
    "dedup_incremental_audio" -> (4 ->
      ("probe-side tables broadcast only under the counted " +
        "MaxBroadcastProbeDocs batch bound (ImageDedup.incrementalDropped)")),
    "dedup_incremental_video" -> (4 ->
      ("probe-side tables broadcast only under the counted " +
        "MaxBroadcastProbeDocs batch bound (ImageDedup.incrementalDropped)")),
    "dedup_incremental_minhash_md5" -> (4 ->
      ("probe-side tables broadcast only under the counted " +
        "MaxBroadcastProbeDocs batch bound (MinHashLSH.incrementalMinHashMd5)")))

  test("no estimator-trusted broadcast build descends from a generator " +
      "in any pair-stream query's static plan") {
    val offenders = swept.flatMap { name =>
      val df: DataFrame = SparkEntry.queries(name)(spark, dir)
      val static = df.queryExecution.executedPlan // NOT collected: pre-AQE
      val bad = PlanAudit.generatorBroadcasts(static).groupBy(_.id).map(_._2.head).toSeq
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.sharedState.cacheManager.clearCache()
      countedBounded.get(name) match {
        case Some((cap, _)) if bad.size <= cap => None
        case Some((cap, why)) => Some(s"$name: ${bad.size} generator-fed " +
          s"broadcast builds exceed the $cap allowed by its counted gate " +
          s"($why)\n${bad.head.treeString.linesIterator.take(30).mkString("\n")}")
        case None if bad.isEmpty => None
        case None => Some(s"$name: ${bad.size} broadcast build(s) over a " +
          s"generator stream\n" +
          bad.head.treeString.linesIterator.take(30).mkString("\n"))
      }
    }
    assert(offenders.isEmpty,
      "estimator-trusted broadcast under an explode (the r19 OOM-cliff " +
        s"shape) — pin shuffle_hash or gate on a counted bound:\n" +
        offenders.mkString("\n---\n"))
  }
}
