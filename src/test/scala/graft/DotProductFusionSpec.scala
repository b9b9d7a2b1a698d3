package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DotProductFusion: the HOF dot-product pattern rewrites to the native
  * expression, non-matching shapes are left alone, and the rewrite is
  * value-preserving (bit-exact, since DotProduct IS the HOF's fold).
  *
  * All cases run over a parquet-backed relation: over a local Seq,
  * ConvertToLocalRelation evaluates projections during optimization before
  * the user-provided rule batch runs, so a LocalRelation-based positive
  * case is vacuous (and order-dependent across suites). */
class DotProductFusionSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Non-null double arrays derived from a parquet column: sequence()
    * produces containsNull=false, and the transform keeps it. */
  private def arrays = Tables.documents(spark, dir)
    .select(col("doc_id"),
      expr("transform(sequence(1, CAST(pmod(doc_id, 4) + 2 AS INT)), x -> x * 0.5d)").as("a"),
      expr("transform(sequence(1, CAST(pmod(doc_id, 4) + 2 AS INT)), x -> x * 2.0d)").as("b"))

  private def hofDot = expr(
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)")

  /** Runs `f` with the rule installed (`on`) or explicitly absent, then
    * restores the session's prior optimizations exactly. A suite earlier in
    * the JVM may already have installed it (Graft.session and
    * TopKPerGroup.apply both register it), so an "unfused" baseline taken
    * without removing it would compare fused with fused, and stripping it
    * afterwards would change the shared session for every later suite. */
  private def withRule[T](on: Boolean)(f: => T): T = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prior.filterNot(_ == graft.plans.DotProductFusion) ++
        (if (on) Seq(graft.plans.DotProductFusion) else Nil)
    try f finally spark.experimental.extraOptimizations = prior
  }

  test("HOF dot product fuses to graft_dot and keeps bit-exact values") {
    val unfused = withRule(on = false) {
      arrays.select(col("doc_id"), hofDot.as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val (fused, plan) = withRule(on = true) {
      val q = arrays.select(col("doc_id"), hofDot.as("d"))
      (q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
        q.queryExecution.optimizedPlan.toString)
    }
    assert(plan.contains("graft_dot"), s"pattern must fuse:\n$plan")
    assert(!plan.toLowerCase.contains("aggregate("), s"HOF must be gone:\n$plan")
    assert(fused === unfused, "rewrite must be value-preserving")
    assert(fused.nonEmpty)
  }

  test("non-matching shapes are left alone") {
    val wrongZero = expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 1.0d, (acc, v) -> acc + v)")
    val sumNotProduct = expr(
      "aggregate(zip_with(a, b, (x, y) -> x + y), 0.0d, (acc, v) -> acc + v)")
    withRule(on = true) {
      for ((e, label) <- Seq((wrongZero, "non-zero seed"), (sumNotProduct, "non-product zip"))) {
        val plan = arrays.select(e.as("d")).queryExecution.optimizedPlan.toString
        assert(!plan.contains("graft_dot"), s"$label must not fuse:\n$plan")
      }
    }
  }

  test("unequal-length arrays still fuse but keep the HOF's NULL result") {
    // zip_with pads the shorter array with nulls → HOF yields NULL; the
    // rewrite must emit the size-guarded form, not the truncating bare loop
    val skewed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("transform(sequence(1, CAST(pmod(doc_id, 4) + 2 AS INT)), x -> x * 0.5d)").as("a"),
        expr("transform(sequence(1, CAST(pmod(doc_id, 3) + 2 AS INT)), x -> x * 2.0d)").as("b"))
    val unfused = withRule(on = false) {
      skewed.select(col("doc_id"), hofDot.as("d"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    }
    val (fused, plan) = withRule(on = true) {
      val q = skewed.select(col("doc_id"), hofDot.as("d"))
      (q.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap,
        q.queryExecution.optimizedPlan.toString)
    }
    assert(plan.contains("graft_dot"), s"pattern must still fuse:\n$plan")
    assert(fused === unfused, "size guard must preserve NULL on mismatched dims")
    assert(unfused.values.exists(_.isEmpty), "fixture must contain mismatched rows")
    assert(unfused.values.exists(_.nonEmpty), "fixture must contain matched rows")
  }

  test("nullable-element arrays are not fused (null semantics differ)") {
    // parquet float arrays declare nullable elements; the element-cast keeps
    // containsNull=true → the rule must stay out, because a null element
    // nulls the HOF result but not the fused loop
    val df = Tables.embeddings(spark, dir)
      .select(
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("a"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("b"))
    withRule(on = true) {
      val plan = df.select(hofDot.as("d")).queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_dot"), s"nullable elements must not fuse:\n$plan")
    }
  }
}
