package graft

import graft.llm.Dedup
import org.apache.spark.sql.SparkSession

/** The reliable-checkpoint escape hatch: with a checkpoint dir + the
  * session flag set, every iterative materialization point switches from
  * localCheckpoint to reliable checkpoint() — same results, but per-round
  * state survives executor loss (the preemptible-cluster trade).
  */
class MaterializeSpec extends SparkSpec {

  private def withReliable[A](body: SparkSession => A): A = {
    spark.sparkContext.setCheckpointDir(tmpDir("reliable_ckpt"))
    Sessions.withConf(spark, Materialize.ReliableKey -> "true")(body)
  }

  test("flag resolution: reliable only when BOTH the conf flag and a " +
       "checkpoint dir are present") {
    val df = spark.range(2).toDF("x")
    assert(!Materialize.reliable(df))
    withReliable { spark =>
      assert(Materialize.reliable(spark.range(2).toDF("x")))
    }
    assert(!Materialize.reliable(df))
  }

  test("clustersFromEdges under reliable checkpointing: identical closure " +
       "on a multi-round chain graph") {
    // a long chain forces several contraction rounds; disable the local
    // union-find finish by keeping the graph iterative? No — exercise the
    // DEFAULT path exactly as production would, both modes end-to-end.
    val n = 400
    def closure(spark: SparkSession): Seq[(Long, Long)] = {
      import spark.implicits._
      val vertices = (0L until n.toLong).toDF("doc_id")
      val pairs = (0L until (n - 1).toLong)
        .map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      Dedup.clustersFromEdges(vertices, pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val base = closure(spark)
    val rel = withReliable(closure)
    assert(rel == base, "reliable mode must not change the closure")
    assert(base.forall(_._2 == 0L), "chain collapses to one cluster")
  }

  test("curation funnel under reliable checkpointing: identical output") {
    def funnel(spark: SparkSession) = graft.operators.LlmQueries
      .q70CurationFunnel(spark, sf0001).collect().map(_.toSeq).toSeq
    val base = funnel(spark)
    val rel = withReliable(funnel)
    assert(rel == base)
  }
}
