package graft.plans

import graft.{Sessions, SparkSpec}
import graft.operators.SqlAnchors
import graft.tools.CboAnchors

/** The CBO estate applied to the engine's OWN standing relational
  * anchors (round-13 left it on purpose-built fixtures): statistics
  * published on the real catalog tables, every SQL anchor twin
  * compiled under four legs (blind / cbo at the default broadcast
  * threshold, and both again at the 128 KB "scaled" threshold that
  * emulates 100 TB relative table sizes), plus the answers-unchanged
  * execution leg. The measured boundary this suite pins — no flips at
  * the default local threshold, reorder flips on q03/q05 in the
  * scaled regime — is recorded in PLANS.md (round 14).
  */
class CboAnchorsSpec extends SparkSpec {

  private lazy val sweep01: Map[String, Map[String, String]] =
    CboAnchors.sweep(spark, sf01).toMap

  /** Dataset gate + Spark-line gate: the flip facts below are measured
    * against the driver's sf0.1 parquet under Spark 4.1's reorder
    * costing — on a machine without the dataset, or a Spark line where
    * the CBO costing changed, the suite skips rather than fails.
    */
  private def assumeSweepable(): Unit = {
    assumeData(sf01)
    assume(spark.version.startsWith("4.1"),
           s"plan-shape flips pinned against Spark 4.1.x, " +
             s"running ${spark.version}")
  }

  test("publishing stats on a column list containing TIMESTAMP_NTZ " +
       "columns neither crashes the publish nor the CBO compile") {
    assumeSweepable()
    // l_shipdate / o_orderdate load as TIMESTAMP_NTZ;
    // FilterEstimation (Spark 4.1.2) MatchErrors if any stats reach
    // such a column, so publish() must drop them — the sweep below
    // compiles every anchor with CBO on, which crashed before the fix.
    assert(sweep01.nonEmpty)
  }

  test("default threshold: no standing anchor flips — size-based " +
       "broadcast is already optimal at local SF (the measured " +
       "boundary of the CBO estate's 100 TB claim)") {
    assumeSweepable()
    val diffs = sweep01.collect {
      case (n, legs) if legs("blind") != legs("cbo") => n
    }
    assert(diffs.isEmpty, s"unexpected default-threshold flips: $diffs")
  }

  test("scaled threshold (128 KB ~ tables larger than threshold, the " +
       "100 TB regime): join reorder flips q03 and q05") {
    assumeSweepable()
    // q03: blind runs the big lineitem⋈orders sort-merge FIRST and
    // applies customer after; CBO reorders to broadcast the
    // BUILDING-filtered customer onto orders BEFORE the sort-merge,
    // so the fact-side shuffle carries one segment's orders only.
    val q03 = sweep01("q03_shipping_priority")
    assert(q03("blind@128k") != q03("cbo@128k"),
           s"q03 must flip under stats: $q03")
    assert(q03("cbo@128k").startsWith("SMJ"),
           "q03's cbo tree keeps the lineitem join sort-merge on top " +
             s"with the dimension broadcast below: $q03")
    // q05: CBO rebuilds the tree around region→nation→supplier
    // broadcasts onto lineitem before orders/customer are touched.
    val q05 = sweep01("q05_region_revenue")
    assert(q05("blind@128k") != q05("cbo@128k"),
           s"q05 must flip under stats: $q05")
  }

  test("scaled threshold: the date-filtered anchors q17/q18/q19 do " +
       "NOT flip — their selective filters are on TIMESTAMP_NTZ " +
       "columns whose stats are unpublishable (documented gap)") {
    assumeSweepable()
    Seq("q17_semi_join", "q18_left_join_count", "q19_anti_join")
      .foreach { n =>
        val legs = sweep01(n)
        assert(legs("blind@128k") == legs("cbo@128k"),
               s"$n unexpectedly flipped: $legs")
      }
  }

  test("epoch-day twins (q17/q19 on o_orderdate_day): the date filter " +
       "now ESTIMATES from real min/max — the optimizer's rowCount " +
       "tracks the true half-year count where the NTZ anchor sits at " +
       "default selectivity — and the 128 KB legs still (measuredly) " +
       "do not flip: the decisive build side is genuinely above the " +
       "threshold, a no-flip with an honest estimate, not a blind one") {
    assumeSweepable()
    val base = CboAnchors.ensureTables(spark, sf01)
    val day = StatsCatalog.ensureDayTable(spark, sf01, "orders",
                                          Seq("o_orderdate"))
    CboAnchors.publishAll(spark, base)
    SqlAnchors.dayStatsColumns.foreach { case (_, cols) =>
      StatsCatalog.publish(spark, day, cols)
    }
    val mapping = base + ("orders_day" -> day)
    Sessions.withConf(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") { spark =>
      val daySql = SqlAnchors.rebind(
        SqlAnchors.dayTwins.toMap.apply("q17_semi_join_day"), mapping)
      val ntzSql = SqlAnchors.rebind(
        SqlAnchors.twins.toMap.apply("q17_semi_join"), mapping)
      val est = CboAnchors.filterEstimate(spark, daySql,
                                          "o_orderdate_day")
      val ntz = CboAnchors.filterEstimate(spark, ntzSql, "o_orderdate")
      val total = spark.table(day).count()
      val truth = spark.table(day)
        .filter("o_orderdate_day >= 9862 AND o_orderdate_day < 10043")
        .count()
      assert(est.isDefined, "day-twin filter must carry a rowCount")
      assert(est.get > BigInt(truth) / 2 && est.get < BigInt(truth) * 2,
             s"day estimate ${est.get} must track truth $truth")
      // the NTZ filter cannot estimate: selectivity defaults to ~1
      assert(ntz.forall(_ > BigInt((total * 0.9).toLong)),
             s"NTZ estimate $ntz should sit at default selectivity " +
               s"(~$total rows)")
      assert(est.get < BigInt((total * 0.2).toLong),
             s"day estimate ${est.get} must be far below total $total")
    }
    // and the measured boundary: even with the real estimate, the
    // 128 KB legs do not flip (the build side is above threshold)
    val day17 = CboAnchors.sweepDay(spark, sf01).toMap
    Seq("q17_semi_join_day", "q19_anti_join_day").foreach { n =>
      assert(day17(n)("blind@128k") == day17(n)("cbo@128k"),
             s"$n: measured no-flip expected: ${day17(n)}")
    }
  }

  test("answers unchanged: every anchor executed with stats + CBO + " +
       "reorder equals the DataFrame program bit-for-bit (sf0.001)") {
    assumeData(sf0001)
    val mapping = CboAnchors.ensureTables(spark, sf0001)
    CboAnchors.publishAll(spark, mapping)
    Sessions.withConf(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") { spark =>
      SqlAnchors.twins.foreach { case (name, sql) =>
        val viaCbo = spark.sql(SqlAnchors.rebind(sql, mapping))
          .collect().toSeq
        val viaDf = graft.SparkEntry.queries(name)(spark, sf0001)
          .collect().toSeq
        assert(viaCbo == viaDf, s"$name rows differ under CBO")
        assert(viaCbo.nonEmpty, s"$name must return rows")
      }
    }
  }
}
