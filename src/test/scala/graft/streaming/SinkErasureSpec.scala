package graft.streaming

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The streaming-estate RTBF pass ([[EventStreams.eraseFromSink]] +
  * q279): partition pruning is the whole point — only partitions
  * holding erased keys may be rewritten, untouched ones must stay
  * BYTE-identical, and the post-erasure sink must equal a rebuild
  * over the net corpus.
  */
class SinkErasureSpec extends SparkSpec {

  private def partFiles(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.list(p).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f)
        f.getFileName.toString ->
          java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
      }.toMap
  }

  test("eraseFromSink rewrites ONLY touched partitions, scrubs every " +
       "erased key, and leaves untouched partitions byte-identical") {
    import spark.implicits._
    val base = tmpDir("graft_se_")
    val out = s"$base/out"
    def batch(rows: (String, Long, Long)*) =
      rows.toDF("event_type", "user_id", "score")
    EventStreams.upsertBatch(
      batch(("a", 1L, 10L), ("a", 3L, 20L), ("a", 5L, 30L)), 0L, out)
    EventStreams.upsertBatch(
      batch(("a", 2L, 1L), ("a", 4L, 2L), ("a", 6L, 3L)), 1L, out)
    EventStreams.upsertBatch(
      batch(("b", 7L, 9L), ("b", 8L, 8L)), 2L, out)
    val before0 = partFiles(s"$out/batch_id=0")
    val before1 = partFiles(s"$out/batch_id=1")
    val (touched, erased) = EventStreams.eraseFromSink(
      spark, out, Seq(3L, 7L).toDF("user_id"), "user_id")
    assert(touched == 2L, "exactly batches 0 and 2 hold erased keys")
    assert(erased == 2L)
    assert(partFiles(s"$out/batch_id=1") == before1,
           "the untouched partition must stay byte-identical")
    assert(partFiles(s"$out/batch_id=0") != before0,
           "a touched partition must actually be rewritten")
    val after = spark.read.parquet(out)
    assert(after.filter(col("user_id").isin(3L, 7L)).count() == 0,
           "no erased key may survive anywhere in the sink")
    assert(after.count() == 6, "kept rows must all survive")
    assert(after.select("event_type", "user_id", "score").collect()
             .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
             .toSet ==
           Set(("a", 1L, 10L), ("a", 5L, 30L), ("a", 2L, 1L),
               ("a", 4L, 2L), ("a", 6L, 3L), ("b", 8L, 8L)),
           "kept rows must be value-identical")
    // idempotence: a second pass touches nothing
    val (t2, e2) = EventStreams.eraseFromSink(
      spark, out, Seq(3L, 7L).toDF("user_id"), "user_id")
    assert(t2 == 0L && e2 == 0L, "the erasure pass must be idempotent")
  }

  private def mv(from: String, to: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(from),
                             java.nio.file.Paths.get(to))

  test("crash-ordered swap: every interrupted state recovers — no " +
       "row is ever lost, staging dirs are invisible to plain reads, " +
       "and a re-run completes the erasure") {
    import spark.implicits._
    val base = tmpDir("graft_sec_")
    val out = s"$base/out"
    def batch(rows: (String, Long, Long)*) =
      rows.toDF("event_type", "user_id", "score")
    def land(): Unit = {
      EventStreams.upsertBatch(
        batch(("a", 1L, 10L), ("a", 3L, 20L)), 0L, out)
      EventStreams.upsertBatch(batch(("b", 7L, 9L)), 1L, out)
    }
    val erase = Seq(3L).toDF("user_id")

    // state 1 — crash BEFORE the aside rename: a (possibly partial)
    // __erase_tmp_* exists next to the intact live partition. A plain
    // read must not see it as extra rows; recovery drops it; the
    // re-run erases.
    land()
    batch(("a", 99L, 99L)).write.parquet(s"$out/__erase_tmp_b0")
    assert(spark.read.parquet(out).count() == 3,
           "staging dirs must be invisible to a plain read")
    val (t1, e1) = EventStreams.eraseFromSink(spark, out, erase,
                                              "user_id")
    assert(t1 == 1L && e1 == 1L)
    assert(!java.nio.file.Files.exists(
             java.nio.file.Paths.get(s"$out/__erase_tmp_b0")))
    assert(spark.read.parquet(out).select("user_id").collect()
             .map(_.getLong(0)).toSet == Set(1L, 7L))

    // state 2 — crash BETWEEN the two renames: live is aside, tmp is
    // complete. Recovery must finish the swap (old data never lost),
    // and the re-run then has nothing to erase.
    val out2 = s"$base/out2"
    def land2(): Unit = {
      EventStreams.upsertBatch(
        batch(("a", 1L, 10L), ("a", 3L, 20L)), 0L, out2)
      EventStreams.upsertBatch(batch(("b", 7L, 9L)), 1L, out2)
    }
    land2()
    batch(("a", 1L, 10L)).write.parquet(s"$out2/__erase_tmp_b0")
    mv(s"$out2/batch_id=0", s"$out2/__erase_old_b0")
    val (t2, e2) = EventStreams.eraseFromSink(spark, out2, erase,
                                              "user_id")
    assert(t2 == 0L && e2 == 0L,
           "recovery must have completed the interrupted erasure")
    assert(spark.read.parquet(out2).select("user_id").collect()
             .map(_.getLong(0)).toSet == Set(1L, 7L))
    assert(!java.nio.file.Files.exists(
             java.nio.file.Paths.get(s"$out2/__erase_old_b0")))

    // state 3 — crash AFTER swap-in, before the old delete: new
    // partition live, old aside. Recovery drops the aside; rows
    // unchanged.
    val out3 = s"$base/out3"
    EventStreams.upsertBatch(batch(("a", 1L, 10L)), 0L, out3)
    EventStreams.upsertBatch(batch(("b", 7L, 9L)), 1L, out3)
    batch(("a", 1L, 10L), ("a", 3L, 20L))
      .write.parquet(s"$out3/__erase_old_b0")
    EventStreams.recoverSinkSwaps(spark, out3)
    assert(!java.nio.file.Files.exists(
             java.nio.file.Paths.get(s"$out3/__erase_old_b0")))
    assert(spark.read.parquet(out3).count() == 2)

    // state 4 — aside present, live AND tmp missing (live vanished
    // after a completed restore was itself lost): recovery restores
    // the pre-erasure partition rather than losing it.
    val out4 = s"$base/out4"
    EventStreams.upsertBatch(batch(("b", 7L, 9L)), 1L, out4)
    batch(("a", 1L, 10L), ("a", 3L, 20L))
      .write.parquet(s"$out4/__erase_old_b0")
    EventStreams.recoverSinkSwaps(spark, out4)
    assert(spark.read.parquet(out4).count() == 3,
           "the aside partition must be restored, never dropped")
  }

  test("q279: the post-erasure trending table equals the in-engine " +
       "rebuild over the net corpus (decay clock from the FULL " +
       "timeline), and no erased user appears") {
    val got = graft.operators.TimeSeriesQueries
      .queries("q279_sink_erasure")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getLong(3))).toSeq
    val erasedUsers = Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 97 === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(erasedUsers.nonEmpty)
    assert(!got.exists(t => erasedUsers(t._3)),
           "an erased user survived into the trending table")
    // independent rebuild: q243's exact logic over NET events, with
    // the reference day pinned from the FULL events table
    val full = Tables.events(spark, sf0001)
    val refDay = full.agg(max(expr("unix_timestamp(ts) div 86400")))
      .head.getLong(0)
    val net = full.filter(!col("user_id").isin(erasedUsers.toSeq: _*))
      .select(col("event_type"), col("user_id"),
              expr("unix_timestamp(ts) div 86400").as("day"))
    val scored = graft.operators.TimeSeriesQueries
      .decayedScores(net, lit(refDay)).filter(col("score") > 0L)
    val w = Window.partitionBy("event_type")
      .orderBy(desc("score"), asc("user_id"))
    val want = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("event_type", "rank", "user_id", "score")
      .orderBy("event_type", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                 r.getLong(3))).toSeq
    assert(got == want, "post-erasure sink must equal the net rebuild")
  }
}
