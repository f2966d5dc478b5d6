package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScalarQueriesSpec extends SparkSpec {

  test("q21 rounds a half-way mean up exactly: 8 events summing to 4.09 " +
       "average 0.51125, which a double mean lands below") {
    import spark.implicits._
    val values = Seq(0.18, 0.73, 0.98, 0.09, 0.33, 0.16, 0.64, 0.98)
    // the exact value of the double mean is below the decimal tie, so
    // round(avg(double), 4) gives 0.5112
    val doubleMean = new java.math.BigDecimal(values.foldLeft(0.0)(_ + _) / 8)
    assert(doubleMean.compareTo(new java.math.BigDecimal("0.51125")) < 0,
           "fixture must bite avg(double)")
    val dir = tmpDir("q21_tie")
    values.zipWithIndex.toDF("value", "i")
      .select(timestamp_seconds(lit(86400L) + col("i") * 60L).as("ts"),
              lit("click").as("event_type"), col("value"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val rows = ScalarQueries.queries("q21_events_hourly")(spark, dir)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n") == 8L)
    assert(rows.head.getAs[Double]("value_avg") == 0.5113)
  }
}
