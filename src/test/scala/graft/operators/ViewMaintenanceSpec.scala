package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental join-view maintenance (q256): rolled ≡ rebuilt on the
  * real tables, the empty delta is the identity, and both merge cases
  * (late lines onto standing keys, brand-new keys) are genuinely live
  * in the q256 split — including the late-line key whose order never
  * entered the day-1 view (line numbers are not 1-based per order).
  */
class ViewMaintenanceSpec extends SparkSpec {

  private def canon(df: DataFrame): Set[(Long, Long, String, Long, String)] =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
              col("n_items"), col("revenue").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                 r.getLong(3), r.getString(4)))
      .toSet

  private lazy val o = Tables.orders(spark, sf0001)
  private lazy val l = Tables.lineitem(spark, sf0001)

  private lazy val standing = ViewMaintenance.orderRevenueView(
    o.filter(col("o_orderkey") % 10 < 8),
    l.filter(col("l_orderkey") % 10 < 8 && col("l_linenumber") <= 4))

  private lazy val deltaLines =
    l.filter(col("l_orderkey") % 10 >= 8 || col("l_linenumber") > 4)

  private lazy val rolled = ViewMaintenance.orderRevenueRoll(
    standing,
    o.join(deltaLines.select(col("l_orderkey").as("o_orderkey")).distinct,
           Seq("o_orderkey"), "left_semi"),
    deltaLines)

  test("rolled view equals the from-scratch rebuild exactly " +
       "(values AND decimal rendering)") {
    val rebuilt = ViewMaintenance.orderRevenueView(o, l)
    assert(canon(rolled) == canon(rebuilt))
  }

  test("empty delta is the identity") {
    val same = ViewMaintenance.orderRevenueRoll(
      standing, o.limit(0), l.limit(0))
    assert(canon(same) == canon(standing))
  }

  test("both merge cases are live, and no attribute comes back null") {
    val sv = canon(standing)
    val rv = canon(rolled)
    val standingItems = sv.map(t => t._1 -> t._4).toMap
    val grew = rv.count(t =>
      standingItems.get(t._1).exists(_ < t._4))
    val fresh = rv.count(t => !standingItems.contains(t._1))
    assert(grew > 0, "no standing key gained late lines")
    assert(fresh > 0, "no brand-new key entered the view")
    // the bug case: a late line (key % 10 < 8) for an order absent from
    // the day-1 view must still resolve its attributes via deltaOrders
    val lateFresh = rv.count(t =>
      t._1 % 10 < 8 && !standingItems.contains(t._1))
    assert(lateFresh > 0,
           "split no longer exercises the late-line-without-view-row case")
    assert(rolled.filter(col("o_custkey").isNull ||
                         col("o_orderpriority").isNull).count() == 0)
  }

  test("revenue stays DECIMAL(24,4) on both the build and roll paths") {
    import org.apache.spark.sql.types.DecimalType
    assert(standing.schema("revenue").dataType == DecimalType(24, 4))
    assert(rolled.schema("revenue").dataType == DecimalType(24, 4))
  }

  // --- retractable changelog (q257) ---

  private lazy val fullView = ViewMaintenance.orderRevenueView(o, l)
  private lazy val hot = col("l_quantity") > 45
  private lazy val changelog = l.filter(hot).withColumn("op", lit(-1))
    .unionByName(
      l.filter(hot && col("l_orderkey") % 7 =!= 0)
        .withColumn("l_discount", lit(0.0)).withColumn("op", lit(1)))
  private lazy val retracted = ViewMaintenance.orderRevenueRetractRoll(
    fullView,
    o.join(changelog.select(col("l_orderkey").as("o_orderkey")).distinct,
           Seq("o_orderkey"), "left_semi"),
    changelog)

  test("retract roll equals the rebuild over the net table exactly") {
    val net = l.filter(!hot)
      .unionByName(l.filter(hot && col("l_orderkey") % 7 =!= 0)
        .withColumn("l_discount", lit(0.0)))
    assert(canon(retracted) ==
           canon(ViewMaintenance.orderRevenueView(o, net)))
  }

  test("fully-retracted orders leave the view; updates keep their " +
       "count but change revenue") {
    val fv = canon(fullView)
    val rv = canon(retracted)
    val vanished = fv.map(_._1) -- rv.map(_._1)
    assert(vanished.nonEmpty, "no order was fully retracted")
    // only the pure-delete cohort can vanish
    vanished.foreach(k => assert(k % 7 == 0, s"key $k vanished outside" +
                                 " the delete-only cohort"))
    val fullItems = fv.map(t => t._1 -> t._4).toMap
    val fullRev = fv.map(t => t._1 -> BigDecimal(t._5)).toMap
    val updated = rv.count(t => fullItems(t._1) == t._4 &&
                                BigDecimal(t._5) > fullRev(t._1))
    assert(updated > 0, "no update-encoded (delete+reinsert) key " +
                        "kept its count while gaining revenue")
    val shrunk = rv.count(t => fullItems(t._1) > t._4)
    assert(shrunk > 0, "no partially-deleted key shrank")
  }

  test("empty changelog is the retract identity") {
    val same = ViewMaintenance.orderRevenueRetractRoll(
      fullView, o.limit(0), l.withColumn("op", lit(1)).limit(0))
    assert(canon(same) == canon(fullView))
  }

  test("q271: the co-located roll over the PERSISTED bucketed view " +
       "gives the same rows and reads the view Exchange- AND " +
       "Sort-free; a PLAIN-persisted view pays the extra shuffle") {
    val df = RelationalQueries.q271BucketedViewRoll(spark, sf0001)
    assert(canon(df) == canon(rolled),
           "co-located strategy must produce the union strategy's rows")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") &&
             plan.contains("SelectedBucketsCount"),
           s"the standing view must scan as a bucketed table:\n$plan")
    // the view-side child of the full-outer merge join is the bucketed
    // FileScan with NO Exchange — at most an in-partition Sort (Spark
    // only trusts the writer's sortBy when each bucket is one file)
    val lines = plan.linesIterator.toVector
    val smj = lines.indexWhere(l => l.contains("SortMergeJoin") &&
                                    l.contains("FullOuter"))
    assert(smj >= 0, s"the merge must be the full-outer join:\n$plan")
    val viewScan = lines.indexWhere(
      l => l.contains("FileScan parquet") && l.contains("graft_jv"), smj)
    assert(viewScan > smj, s"bucketed view scan not under the join:\n$plan")
    assert(!lines.slice(smj + 1, viewScan).exists(_.contains("Exchange")),
           s"the view must feed the join with no Exchange:\n$plan")
    // the honest 100 TB comparison: the same union-shaped roll over a
    // PLAIN-persisted (unbucketed) view must re-shuffle the view
    graft.llm.IndexStore.savePlainArtifact(
      RelationalQueries.jvSplit(spark, sf0001)._1, "graft_jv_plain_spec")
    val plainView = graft.llm.IndexStore
      .loadPlainArtifact(spark, "graft_jv_plain_spec")
    val (_, dOrders, dLines) = RelationalQueries.jvSplit(spark, sf0001)
    val plainPlan = ViewMaintenance
      .orderRevenueRoll(plainView, dOrders, dLines)
      .queryExecution.executedPlan.toString
    // tree print order: ancestors precede descendants. Plain view: the
    // merge's hash exchange prints ABOVE the view scan — view rows ride
    // a shuffle. Bucketed view: every hash exchange prints AFTER the
    // view scan — only delta rows ever move.
    val pLines = plainPlan.linesIterator.toVector
    val plainScan = pLines.indexWhere(_.contains("graft_jv_plain_spec"))
    val plainFirstEx =
      pLines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(plainFirstEx >= 0 && plainScan > plainFirstEx,
           s"plain-persisted view rows must ride a shuffle:\n$plainPlan")
    val firstEx =
      lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(firstEx > viewScan,
           s"no shuffle may sit above the bucketed view scan:\n$plan")
  }

  test("q275: erasure retracts EXACTLY the dead orders from the view " +
       "and leaves every kept row byte-identical") {
    val erased = RelationalQueries.queries("q275_view_erasure")(
      spark, sf0001)
    val full = canon(fullView)
    val got = canon(erased)
    val eraseSet = graft.sources.Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 97 === 0)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val deadKeys = graft.sources.Tables.orders(spark, sf0001)
      .filter(col("o_custkey").isin(eraseSet.toSeq: _*))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(got == full.filterNot(t => deadKeys(t._1)),
           "erased view must be the full view minus dead orders, " +
             "kept rows untouched")
    assert(full.exists(t => deadKeys(t._1)),
           "the erase set must actually hit the view")
    // round-13 pins: (a) the cascade's erase-proportional
    // intermediates are MATERIALIZED — the final plan consumes them
    // as pinned leaves (LogicalRDD) instead of re-evaluating the
    // embedded corpus-scan subtrees (round 13 measured the un-pinned
    // form at 266 s vs 2.7 s at ×20); (b) no broadcast-
    // hinted side anywhere is an anti-derived (kept) complement
    val opt = erased.queryExecution.optimizedPlan
    assert(opt.collectLeaves().exists(
             _.nodeName.contains("LogicalRDD")),
           s"the cascade intermediates must be materialized leaves:\n" +
             opt.toString.take(2000))
    val hinted = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
          .collect { case (Some(h), side) if h.strategy.isDefined =>
            side }
    }.flatten
    hinted.foreach { side =>
      val antis = side.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType ==
            org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(antis.isEmpty,
             s"an anti-derived set is hinted for broadcast:\n$side")
    }
  }

  // --- streamed roll (q258) ---

  test("streamed micro-batch roll lands exactly the rebuilt view " +
       "(stream ≡ roll ≡ build at a second SF beside the driver's)") {
    val streamed = RelationalQueries.q258StreamedViewRoll(spark, sf0001)
    assert(canon(streamed) == canon(fullView))
  }

  test("streamed RETRACTABLE roll lands exactly the batch retract " +
       "roll's state (the fourth leg: stream × CDC-with-deletes)") {
    val streamed =
      RelationalQueries.q259StreamedRetractRoll(spark, sf0001)
    assert(canon(streamed) == canon(retracted))
  }
}
