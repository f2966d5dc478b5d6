package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

class SessionsSpec extends SparkSpec {

  private val Key = "spark.sql.shuffle.partitions"
  private val Scoped = "3" // any count but the spec session's own 4

  private def agg(spark: SparkSession): DataFrame =
    spark.range(100).groupBy((col("id") % 7).as("k")).count()

  /** The shuffle partition counts `df` is planned with (AQE's plan
    * before it runs, so before it coalesces anything).
    */
  private def shuffles(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      .executedPlan.collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions }

  test("a query planned on the parent while a scope's body blocks on " +
       "another thread keeps the parent's shuffle partitions") {
    val parentN = spark.conf.get(Key).toInt
    assert(parentN.toString != Scoped)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val body = Future(Sessions.withConf(spark, Key -> Scoped) { spark =>
      entered.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      shuffles(agg(spark))
    })(ExecutionContext.global)
    try {
      assert(entered.await(60, TimeUnit.SECONDS))
      assert(shuffles(agg(spark)) == Seq(parentN),
             "the parent planned with the scope's conf")
    } finally release.countDown()
    assert(Await.result(body, 2.minutes) == Seq(Scoped.toInt))
  }

  test("a temp view made in a scope stays on the clone; a table saved " +
       "in a scope is visible on the parent") {
    try {
      Sessions.withConf(spark, Key -> Scoped) { spark =>
        spark.range(3).createOrReplaceTempView("sessions_spec_view")
        spark.range(3).write.mode("overwrite")
          .saveAsTable("sessions_spec_table")
        assert(spark.catalog.tableExists("sessions_spec_view"))
      }
      assert(!spark.catalog.tableExists("sessions_spec_view"))
      assert(spark.table("sessions_spec_table").count() == 3)
    } finally spark.sql("DROP TABLE IF EXISTS sessions_spec_table")
  }

  /** Classes Spark has compiled in this JVM so far. */
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second round of the same plans compiles no class: the codegen " +
       "cache holds more than Spark's default 100 entries") {
    // 150 distinct plans, 2 generated classes each
    def round(): Long = {
      val c0 = compiles()
      (1 to 150).foreach(i =>
        spark.range(10).selectExpr(s"id * $i + 7").collect())
      compiles() - c0
    }
    assert(round() > 0)
    assert(round() == 0, "classes recompiled: evicted from the cache")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
           Sessions.CodegenCacheEntries.toString)
  }

  /** The messages `body` logs at WARN or above. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("sessions-spec", null, null, true,
                                        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("Sessions.local returns the live session as it is, without " +
       "handing it to the builder again") {
    val warned = warnings(assert(Sessions.local("2", "another") eq spark))
    assert(!warned.exists(_.contains("Using an existing Spark session")),
           warned.mkString("\n"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
