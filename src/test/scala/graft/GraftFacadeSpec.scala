package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFacadeSpec extends AnyFunSuite {

  test("facade session runs a registered query with SQL functions available") {
    // getOrCreate reuses SharedSpark's context; facade must still register
    // its functions and expose the query surface on the returned session
    SharedSpark.spark // force base session first
    val before = SharedSpark.spark.conf.get("spark.sql.shuffle.partitions")
    // simulate an embedding app whose session breaks graft's semantics
    SharedSpark.spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val s = Graft.session(appName = "graft-facade-test", master = Some("local[4]"))
    // adopting an existing session must NOT re-apply graft's conf onto it —
    // the silent shuffle.partitions rewrite broke other suites' plans (r4)
    assert(s.conf.get("spark.sql.shuffle.partitions") === before)
    // ... but the semantics-critical runtime confs ARE applied on adoption:
    // a graft query must not return different timestamps on an adopted
    // session than on a fresh one (r5 advice)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(Graft.queries.contains("inventory_fold"))
    val df = Graft.run(s, "inventory_fold", "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val dot = s.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot === 11.0)
    // the mains rely on the factory, not on operator bodies, to install
    // graft's planner strategy and optimizer rule
    assert(s.experimental.extraStrategies.contains(graft.plans.TopKPerGroupStrategy))
    assert(s.experimental.extraOptimizations.contains(graft.plans.DotProductFusion))
  }
}
