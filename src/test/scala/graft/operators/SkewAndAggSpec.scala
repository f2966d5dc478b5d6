package graft.operators

import graft.{Sessions, SparkSpec}
import graft.functions.HistogramAgg
import graft.llm.Dedup
import org.apache.spark.sql.functions._

class SkewAndAggSpec extends SparkSpec {

  test("saltedJoin is row-identical to the plain join under heavy skew") {
    import spark.implicits._
    // 90% of fact rows share key 7 — the pathological hot key
    val big = (0 until 5000).map { i =>
      (if (i % 10 == 0) (i % 50).toLong else 7L, s"payload$i")
    }.toDF("key", "payload")
    val small = (0 until 50).map(i => (i.toLong, s"dim$i")).toDF("key", "dim")

    val plain = big.join(small, "key")
      .select("key", "payload", "dim").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val salted = Skew.saltedJoin(big, small, "key", 8, Seq("payload"))
      .select("key", "payload", "dim").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("AQE skew-join covers the UNSALTED hot-key join: the final " +
       "adaptive plan splits the skewed partition (skew=true) and rows " +
       "are identical to the salted join") {
    // the engine hand-salts deterministically (q35's bucket join); this
    // pins the OTHER coverage path — at 100× a skewed join with no manual
    // salt must still be split by AQE's runtime skew handling. Thresholds
    // are lowered on a clone (the defaults key on 256 MB partitions).
    // No broadcast: a 50-row dim would otherwise BHJ and sidestep the
    // skew machinery entirely (which is the normal, correct plan — the
    // scenario here is the non-broadcastable skewed join).
    Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k") {
        spark =>
      // 90% of 40k fact rows land on key 7 → one hot shuffle partition
      val big = spark.range(40000).select(
        when(col("id") % 10 === 0, col("id") % 50).otherwise(lit(7L))
          .as("key"),
        concat(lit("payload-"), col("id")).as("payload"))
      val small = spark.range(50).select(
        col("id").as("key"), concat(lit("dim"), col("id")).as("dim"))
      val joined = big.join(small, "key").select("key", "payload", "dim")
      val rows = joined.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
             s"AQE must mark the hot partition's join skew=true:\n$plan")
      val salted = Skew.saltedJoin(big, small, "key", 8, Seq("payload"))
        .select("key", "payload", "dim").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
      assert(rows.toSeq == salted.toSeq,
             "AQE-split join must be row-identical to the salted join")
    }
  }

  test("salt is deterministic and spans the full [0, n) range") {
    import spark.implicits._
    val df = (0 until 1000).map(i => Tuple1(s"row$i")).toDF("v")
    val salts = df.select(Skew.salt(8, col("v")).as("s"))
    val distinct = salts.distinct().collect().map(_.getInt(0)).sorted
    assert(distinct.toSeq == (0 until 8))
    assert(salts.collect().map(_.getInt(0)).toSeq ==
      salts.collect().map(_.getInt(0)).toSeq)
  }

  test("U6: HistogramAgg matches the groupBy-floor histogram, incl. edge bins") {
    import spark.implicits._
    val scores = (0 until 500).map(i => (i % 97) / 97.0) ++ Seq(-0.5, 1.5)
    val df = scores.toDF("score")
    val agg = udaf(new HistogramAgg(10, 0.0, 1.0))
    val viaAgg = df.agg(agg(col("score")).as("h")).head().getSeq[Long](0)
    val viaGroupBy = df
      .select(least(greatest(floor(col("score") * 10), lit(0)), lit(9))
        .cast("int").as("bin"))
      .groupBy("bin").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { b =>
      assert(viaAgg(b) == viaGroupBy.getOrElse(b, 0L), s"bin $b")
    }
    assert(viaAgg.sum == 502)
  }

  test("approx_percentile tracks exact percentile within its accuracy bound") {
    import graft.sources.Tables
    val v = Tables.events(spark, sf0001).select(col("value"))
    val row = v.agg(
      expr("percentile(value, 0.5)").as("exact"),
      expr("approx_percentile(value, 0.5, 1000)").as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / math.max(exact, 1e-9) < 0.02,
           s"approx $approx vs exact $exact")
  }

  test("embeddingClusters groups near-identical embedding vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat))
    // 3 copies of each base vector with tiny jitter + 6 unique vectors
    val rows = (0 until 24).map { i =>
      val v = base(i % 8).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq)
    } ++ (100 until 106).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val clusters = Dedup.embeddingClusters(df, dim = 16, threshold = 0.98,
                                           nBits = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // copies of base(0) are ids 0, 8, 16 → all should share cluster 0
    assert(clusters(8L) == 0L && clusters(16L) == 0L)
    assert((100L until 106L).forall(i => clusters(i) == i),
           "unique vectors must stay singletons")
  }
}
