package graft.sources

import graft.{Sessions, SparkSpec}

class BucketingSpec extends SparkSpec {

  test("bucketed equi-join runs without a shuffle Exchange") {
    try Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      import spark.implicits._
      val left = (0 until 2000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
      val right = (0 until 2000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
      Bucketing.writeBucketed(left, "bkt_left", "k", 4)
      Bucketing.writeBucketed(right, "bkt_right", "k", 4)

      val joined = Bucketing.cocolocatedJoin(spark, "bkt_left", "bkt_right", "k")
      assert(joined.count() == 2000)
      joined.collect()
      val bucketedPlan = joined.queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange"),
             s"bucketed join must not shuffle:\n$bucketedPlan")

      // control: identical join over plain (non-bucketed) data shuffles
      val plain = left.join(right, "k")
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange"),
             "control join over unbucketed data should shuffle")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
