package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Dev probe (round-16): print the state-data-source schemas of the
  * four stateful operator families over tiny staged file streams, so
  * the full-estate attestation can read value fields (deadlines,
  * buffered event times) by exact path.
  */
object StateSchemaProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("4", "state-schema-probe")
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val b = java.nio.file.Files.createTempDirectory("graft_ssp_").toString
    val t0 = 1700000000L
    val feed = Seq(
      (t0, "s", 1L, 1.0, 0L), (t0 + 60, "s", 1L, 2.0, 0L),
      (t0 + 14400, "s", 2L, 1.0, 1L), (t0 + 14460, "s", 2L, 2.0, 1L),
      (t0 + 28800, "s", 3L, 1.0, 2L), (t0 + 28860, "s", 3L, 2.0, 2L))
      .toDF("epoch", "event_type", "user_id", "value", "b")
      .select(timestamp_seconds(col("epoch")).as("ts"), col("event_type"),
              col("user_id"), col("value"), col("b"))
    EventStreams.stageMicroBatchFiles(feed, col("b"), 3, s"$b/in")
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(s"$b/in")
      .as[Event]

    // FMGWS sessions
    val q1 = EventStreams.sessionize(stream(), gapMs = 30 * 60000L)
      .writeStream
      .foreachBatch((bt: org.apache.spark.sql.Dataset[
          EventStreams.SessionOut], id: Long) =>
        EventStreams.upsertBatch(bt.toDF(), id, s"$b/fm_out"))
      .option("checkpointLocation", s"$b/fm_ckpt")
      .outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    val fm = EventStreams.stateReadout(spark, s"$b/fm_ckpt")
    println("=== FMGWS state schema ===")
    fm.printSchema()
    fm.show(false)

    // TWS sessions
    val q2 = graft.Sessions.withConf(
        EventStreams.twsSessionize(stream(), gapMs = 30 * 60000L),
        EventStreams.RocksDbState) { _.writeStream
        .foreachBatch((bt: org.apache.spark.sql.Dataset[
            EventStreams.SessionOut], id: Long) =>
          EventStreams.upsertBatch(bt.toDF(), id, s"$b/tw_out"))
        .option("checkpointLocation", s"$b/tw_ckpt")
        .outputMode("append").start()
    }
    try q2.processAllAvailable() finally q2.stop()
    Seq("session", "timer").foreach { v =>
      val d = spark.read.format("statestore")
        .option("path", s"$b/tw_ckpt").option("stateVarName", v).load()
      println(s"=== TWS $v schema ===")
      d.printSchema()
      d.show(false)
    }

    // stream-stream join
    val su = feed.select(col("ts"), col("event_type"), col("user_id"),
                         col("value"), col("b"))
    EventStreams.stageMicroBatchFiles(su, col("b"), 3, s"$b/js_in")
    EventStreams.stageMicroBatchFiles(
      su.withColumn("ts", col("ts") + expr("INTERVAL 300 SECONDS")),
      col("b"), 3, s"$b/jp_in")
    def fstream(in: String) = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val joined = EventStreams.streamStreamJoin(
      fstream(s"$b/js_in"), fstream(s"$b/jp_in"),
      lateness = "30 minutes", window = "30 minutes")
    val q3 = joined.writeStream
      .foreachBatch((bt: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        EventStreams.upsertBatch(bt.toDF(), id, s"$b/j_out"))
      .option("checkpointLocation", s"$b/j_ckpt")
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    Seq("left", "right").foreach { side =>
      val d = spark.read.format("statestore")
        .option("path", s"$b/j_ckpt").option("joinSide", side).load()
      println(s"=== join $side schema ===")
      d.printSchema()
      d.show(false)
    }
    println(s"probe base: $b")
    spark.stop()
  }
}
