package graft

import org.apache.spark.sql.functions._

/** Measurement probe (not driver contract): time the incremental
  * (deferred-prune) k-core against the recompute-per-round oracle on the
  * REAL q_kcore graph of a scale dir — the BASELINE.md "kCore at depth"
  * row. The round-11 deep-peel win was thin at test scale because the
  * ~0.2 s/round job floor dominates; the sf10 point is where the shuffle
  * asymmetry (minority rounds shuffle only the decrement table vs ALL
  * surviving E) should separate the curves — or measurably tie, which
  * BASELINE.md records honestly either way.
  *
  * Usage: runMain graft.KCoreScale <sfDir> [reps]
  */
object KCoreScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.local()
    spark.range(1000).selectExpr("sum(id)").collect()

    // the exact q_kcore edge construction (SparkEntry), materialized once
    // so both variants time the PEEL, not the pair-join edge build
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val pp = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
        && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
      .distinct()
      .filter(graft.operators.Corpus.hashUnit(concat(col("x").cast("string"),
        lit(":"), col("y").cast("string")), "kcore") < 0.07)
    val edges = pp.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(pp.select(col("y").as("src"), col("x").as("dst")))
      .localCheckpoint()
    println(s"KCORESCALE edges=${edges.count()} sf=$sfDir")

    def time(label: String, f: () => Long): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = f()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val med = ts.map(_._1).sorted.apply(ts.length / 2)
      println(f"KCORESCALE $label%-12s median=$med%8.3f s rows=${ts.head._2}")
    }
    time("incremental", () =>
      graft.operators.Graph.kCore(edges, 4).count())
    time("recompute", () =>
      graft.operators.Graph.kCoreRecompute(edges, 4).count())
    spark.stop()
  }
}
