package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the 10× "decade probe" used by SCALE.md's measured-scaling tables:
  * every fact table is replicated `copies` times under distinct keys, dims
  * (`region`, `nation`) stay as-is, and `documents`/`embeddings` rows are
  * VERBATIM copies under fresh ids — adversarially duplicate-dense on
  * purpose, so dedup/similarity-family ratios are upper bounds (every doc
  * gains `copies-1` exact twins).
  *
  * Key plumbing: copy c offsets every primary AND foreign key by c·10⁸, so
  * the join graph replicates structurally (each copy joins only to itself,
  * like a day-partitioned lake where keys never collide across partitions).
  * Copy 0 is bit-identical to the source, so probe results are supersets.
  *
  * Usage: runMain graft.ProbeGen <srcSfDir> <outDir> [copies=10]
  */
object ProbeGen {
  private val Off = 100000000L

  /** One union of `copies` scans with the named int64 key columns offset per
    * copy. A constant-folded projection per copy — the write is the only
    * cost. (An explode-based single-scan form would also work, but ten scans
    * of a local file are cheap and this keeps the projection trivial.) */
  private def replicate(df: DataFrame, keys: Seq[String], copies: Int): DataFrame =
    (0 until copies).map { c =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * Off)))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/probe10x")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = Graft.localCores
    val spark = Graft.session(master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("WARN")

    val keyed: Seq[(String, Seq[String])] = Seq(
      "customer"   -> Seq("c_custkey"),
      "supplier"   -> Seq("s_suppkey"),
      "part"       -> Seq("p_partkey"),
      "orders"     -> Seq("o_orderkey", "o_custkey"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events"     -> Seq("event_id", "user_id"),
      "documents"  -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
    )
    keyed.foreach { case (t, keys) =>
      replicate(Tables.t(spark, src, t), keys, copies)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    Seq("region", "nation").foreach { t =>
      Tables.t(spark, src, t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"probe":"$out","copies":$copies,"src":"$src"}""")
    spark.stop()
  }
}
