package graft.plans

import graft.{Sessions, SparkSpec}
import graft.operators.RelationalQueries
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** The statistics CONSUMER ([[StatsCatalog]] + q278): published
  * catalog stats must actually change Catalyst's compile-time plan,
  * the estimates must straddle the derived threshold for the reason
  * the scaladoc claims, and the published values must equal what the
  * q277 collector computes — collector and consumer are one story.
  */
class StatsCatalogSpec extends SparkSpec {

  test("q278: stats flip the compile-time join strategy SMJ → BHJ, " +
       "and the answer is scenario-invariant") {
    val rows = RelationalQueries
      .queries("q278_cbo_broadcast_flip")(spark, sf0001).collect()
    val byTag = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byTag("a_no_stats_cbo_on") == "SortMergeJoin",
           s"stats-blind plan must sort-merge: $byTag")
    assert(byTag("b_stats_cbo_off") == "SortMergeJoin",
           s"publishing without the consumer must change nothing: $byTag")
    assert(byTag("c_stats_cbo_on") == "BroadcastHashJoin",
           s"published stats + CBO must broadcast: $byTag")
    assert(rows.map(r => (r.getLong(2), r.getString(3)))
             .distinct.length == 1,
           "the plan flip must never change the answer")
  }

  test("q280: published stats + joinReorder rebuild the join tree " +
       "with the selective dimension join at the bottom, same answer") {
    val rows = RelationalQueries
      .queries("q280_cbo_join_reorder")(spark, sf0001).collect()
    val byTag = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byTag("a_written_order") == "customer+orders",
           s"without the reorderer the written order must survive: " +
             s"$byTag")
    assert(byTag("b_reordered") == "customer+nation",
           s"the reorderer must put the filtered dimension first: " +
             s"$byTag")
    assert(rows.map(r => (r.getLong(2), r.getString(3)))
             .distinct.length == 1,
           "the reorder must never change the answer")
  }

  test("the flip is a property of the ESTIMATES: the CBO row-count " +
       "estimate tracks the range selectivity and its size lands " +
       "under the threshold the blind estimate stays above") {
    val cust = StatsCatalog.ensureTable(spark, sf0001, "customer")
    StatsCatalog.publish(spark, cust,
      Seq("c_custkey", "c_acctbal", "c_nationkey"))
    def filteredStats(cbo: Boolean) =
      Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> cbo.toString) { spark =>
        spark.table(cust).where(col("c_acctbal").between(100, 400))
          .select("c_custkey")
          .queryExecution.optimizedPlan.stats
      }
    val blind = filteredStats(cbo = false)
    val est = filteredStats(cbo = true)
    val threshold = blind.sizeInBytes.toLong / 2
    assert(est.sizeInBytes.toLong < threshold,
           s"CBO estimate ${est.sizeInBytes} must drop below " +
             s"$threshold (blind ${blind.sizeInBytes})")
    // row-count estimate ≈ n × (hi−lo)/(max−min): the published
    // min/max drive it; allow the estimator's rounding slack
    val n = spark.table(cust).count()
    val r = spark.table(cust)
      .agg(min("c_acctbal"), max("c_acctbal")).head()
    val expect = n * 300.0 / (r.getDouble(1) - r.getDouble(0))
    val got = est.rowCount.get.toDouble
    assert(math.abs(got - expect) <= math.max(2.0, expect * 0.5),
           s"estimated rows $got vs selectivity-implied $expect")
    assert(blind.rowCount.isEmpty || blind.rowCount.get.toLong == n,
           "the blind plan must not estimate the filter")
  }

  test("q281's bins published as a Catalyst Histogram fix " +
       "FilterEstimation on the long-tailed column: the hot-head " +
       "range estimate moves from the ~4×-under uniform guess to " +
       "near the true count") {
    val ev = StatsCatalog.ensureTable(spark, sf0001, "events")
    StatsCatalog.publish(spark, ev, Seq("value", "user_id"))
    def estRows() =
      Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> "true") { spark =>
        spark.table(ev).where(col("value").between(0.0, 50.0))
          .select("event_id")
          .queryExecution.optimizedPlan.stats.rowCount.get.toLong
      }
    val trueRows = spark.table(ev)
      .where(col("value").between(0.0, 50.0)).count()
    val withoutHist = estRows()
    assert(withoutHist < trueRows / 2,
           s"fixture drift: uniform must under-estimate the hot " +
             s"head ($withoutHist vs true $trueRows)")
    // publish the SAME bins q281 computes, converted to native units
    val bins = graft.operators.RelationalQueries
      .valueHistogramBins(graft.sources.Tables.events(spark, sf0001),
                          32)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1) / 1000.0, r.getLong(2) / 1000.0,
                 r.getLong(4)))
    val nonNull = spark.table(ev)
      .filter(col("value").isNotNull).count()
    StatsCatalog.publishHistogram(spark, ev, "value", bins.toSeq,
                                  nonNull.toDouble / 32)
    val withHist = estRows()
    assert(withHist > withoutHist * 2,
           s"histogram must lift the hot-head estimate: $withHist " +
             s"vs $withoutHist (true $trueRows)")
    assert(math.abs(withHist - trueRows) <
             math.abs(withoutHist - trueRows),
           s"histogram estimate must be closer to the truth: " +
             s"$withHist vs $withoutHist (true $trueRows)")
  }

  test("q284's bins published as a Catalyst Histogram reach " +
       "JOIN estimation: the self-join rowCount on the skewed " +
       "floor(value) key moves from the NDV-uniform guess toward " +
       "the Σc² truth") {
    // materialize the derived long-tailed key as a catalog table
    // (catalog stats hang off columns, not expressions) — the same
    // key q284 measures
    val vk = graft.sources.Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").as("vk"),
              col("event_id"))
    val base = tmpDir("graft_jehist_")
    vk.write.mode("overwrite").parquet(s"$base/events_vk.parquet")
    val t = StatsCatalog.ensureTable(spark, base, "events_vk")
    StatsCatalog.publish(spark, t, Seq("vk"))
    def joinEst(): Long =
      Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> "true") { spark =>
        val a = spark.table(t).select(col("vk"))
        val b = spark.table(t).select(col("vk").as("vk2"))
        a.join(b, col("vk") === col("vk2"))
          .queryExecution.optimizedPlan.stats.rowCount.get.toLong
      }
    val truth = spark.table(t).groupBy("vk").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    val uniform = joinEst()
    assert(uniform < truth,
           s"fixture drift: uniform must under-estimate the skewed " +
             s"self-join ($uniform vs true $truth)")
    // publish the SAME equi-height bins q284 computes
    val bins = graft.operators.RelationalQueries
      .keyHistogramBins(spark.table(t), "vk", "event_id", 16)
      .orderBy("bin").collect()
      .map(r => (r.getLong(1).toDouble, r.getLong(2).toDouble,
                 r.getLong(4)))
    val n = spark.table(t).count()
    StatsCatalog.publishHistogram(spark, t, "vk", bins.toSeq,
                                  n.toDouble / 16)
    val withHist = joinEst()
    assert(math.abs(withHist - truth) < math.abs(uniform - truth),
           s"histogram join estimate must be closer to the truth: " +
             s"$withHist vs uniform $uniform (true $truth)")
    assert(withHist > uniform,
           s"on an under-estimated skewed key the histogram must " +
             s"raise the estimate: $withHist vs $uniform")
  }

  test("q284 never executes the self-join it estimates: no shuffle " +
       "join in its physical plan (truth folds from per-key counts)") {
    val plan = graft.operators.RelationalQueries
      .queries("q284_hist_join_estimate")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
             !plan.contains("ShuffledHashJoin") &&
             !plan.contains("CartesianProduct"),
           s"q284 must not join the corpus with itself:\n$plan")
  }

  test("publish normalizes session-dependent external types: " +
       "Instant/LocalDate (java8API on) and Timestamp/Date/BigDecimal " +
       "land as identical catalog strings") {
    import spark.implicits._
    val base = tmpDir("graft_sc_")
    Seq(("2024-01-02 03:04:05", "2024-01-02", "1.23"),
        ("2024-06-07 08:09:10", "2024-06-07", "45.67"))
      .toDF("ts_s", "d_s", "m_s")
      .select(col("ts_s").cast("timestamp").as("ts"),
              col("d_s").cast("date").as("d"),
              col("m_s").cast("decimal(9,2)").as("m"))
      .write.mode("overwrite").parquet(s"$base/typed.parquet")
    val name = StatsCatalog.ensureTable(spark, base, "typed")
    def stats() = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name)).stats.get.colStats
    Sessions.withConf(spark,
      "spark.sql.datetime.java8API.enabled" -> "true") { spark =>
      StatsCatalog.publish(spark, name, Seq("ts", "d", "m"))
    }
    val java8 = stats()
    assert(java8("ts").min.get.startsWith("2024-01-02"),
           s"Instant min must round-trip: ${java8("ts").min}")
    assert(java8("d").max.get == "2024-06-07",
           s"LocalDate max must round-trip: ${java8("d").max}")
    assert(BigDecimal(java8("m").max.get) == BigDecimal("45.67"))
    Sessions.withConf(spark,
      "spark.sql.datetime.java8API.enabled" -> "false") { spark =>
      StatsCatalog.publish(spark, name, Seq("ts", "d", "m"))
    }
    val legacy = stats()
    Seq("ts", "d", "m").foreach { c =>
      assert(legacy(c).min == java8(c).min &&
               legacy(c).max == java8(c).max,
             s"$c stats must not depend on the java8API conf")
    }
  }

  test("published catalog stats EQUAL the q277 collector's values " +
       "where the two overlap (one statistics story, two surfaces)") {
    val ord = StatsCatalog.ensureTable(spark, sf0001, "orders")
    StatsCatalog.publish(spark, ord,
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(ord)).stats.get
    val q277 = RelationalQueries
      .queries("q277_analyze_stats")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
             (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
              r.getLong(6))).toMap
    val (nRows, nNull, ndv, minEnc, maxEnc) =
      q277(("orders", "o_custkey"))
    assert(meta.rowCount.get.toLong == nRows)
    val cs = meta.colStats("o_custkey")
    assert(cs.distinctCount.get.toLong == ndv)
    assert(cs.nullCount.get.toLong == nNull)
    // o_custkey is the "int" encoder: min_enc/max_enc are the raw
    // longs, directly comparable to the catalog's external strings
    assert(cs.min.get.toLong == minEnc && cs.max.get.toLong == maxEnc)
    // milli encoder: floor(x*1000) is monotonic, so the catalog's
    // double extremes must encode to exactly q277's values
    val (_, _, _, pMin, pMax) = q277(("orders", "o_totalprice"))
    val ps = meta.colStats("o_totalprice")
    assert(math.floor(ps.min.get.toDouble * 1000).toLong == pMin)
    assert(math.floor(ps.max.get.toDouble * 1000).toLong == pMax)
  }
}
