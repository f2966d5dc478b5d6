package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SavedOnce
import graft.sources.Tables

/** Relational operator coverage over the TPC-H-ish tables (SURVEY.md §2.5:
  * the reference inherits joins/sorts/set-ops from Spark SQL; we exercise
  * them as first-class engine capabilities).
  *
  * Scale notes (100 TB design point):
  *  - All aggregations are declarative `groupBy().agg()` — Catalyst plans
  *    partial (map-side) aggregation before the shuffle, so the shuffle
  *    carries one row per (partition × group), not per input row.
  *  - Dimension tables (region, nation — O(10^2) rows at any SF) are
  *    explicitly `broadcast()`ed in q03/q05: the fact side is never
  *    shuffled for those joins.
  *  - Money aggregates in the headline queries (q01/q03/q05, like q16) are
  *    DECIMAL-exact: inputs cast to tight decimals before arithmetic, so
  *    sums are order-independent at ANY scale. Remaining double aggregates
  *    (ratios/averages) are rounded identically in the Spark query and the
  *    DuckDB oracle for hash stability at the tested SFs.
  *  - Every query ends in an ORDER BY with a full tie-break so row order
  *    is deterministic for the driver compare.
  */
object RelationalQueries {

  private def ts(s: String) = to_timestamp(lit(s))

  /** Decimal-exact money arithmetic (the q16 pattern, applied to the
    * headline queries): inputs cast to tight decimals BEFORE any
    * arithmetic — prices fit DECIMAL(12,2) (TPC-H domain: ≤ ~105k),
    * discount/tax are 2-decimal rates — and every row-level product is
    * cast back to the smallest exactly-representable decimal so the
    * combined precision stays within BOTH Spark's and DuckDB's 38-digit
    * cap. Sums over these are exact and independent of summation order —
    * the property double sums lose near 1e16 at the 100 TB design point.
    * Rendered as strings so the driver compare is representation-exact.
    */
  private val ep2     = col("l_extendedprice").cast("decimal(12,2)")
  private val qty2    = col("l_quantity").cast("decimal(12,2)")
  private val oneMinusDisc =
    (lit(1) - col("l_discount").cast("decimal(3,2)")).cast("decimal(3,2)")
  private val onePlusTax =
    (lit(1) + col("l_tax").cast("decimal(3,2)")).cast("decimal(4,2)")
  // price × rate: exact scale 4, value < 105k → DECIMAL(14,4) is lossless
  private val discPriceRow = (ep2 * oneMinusDisc).cast("decimal(14,4)")
  // × second rate: exact scale 6, value < 114k → DECIMAL(16,6) lossless
  private val chargeRow    = (discPriceRow * onePlusTax).cast("decimal(16,6)")

  /** TPC-H Q1-style pricing summary: full-scan aggregate over lineitem.
    * One shuffle (by the 2-value group key) after map-side partial agg.
    * Money sums are decimal-exact (order-independent); the avg diagnostics
    * stay double+round (a ratio, not ledger money).
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(qty2).cast("decimal(38,2)").cast("string").as("sum_qty"),
        sum(ep2).cast("decimal(38,2)").cast("string").as("sum_base_price"),
        sum(discPriceRow).cast("decimal(38,2)").cast("string")
          .as("sum_disc_price"),
        sum(chargeRow).cast("decimal(38,2)").cast("string").as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style shipping priority: 3-way join then top-10 by revenue.
    *
    * customer scales with SF, so it is NOT force-broadcast — AQE broadcasts
    * it at small SF and falls back to shuffle join at cluster scale.
    * orders⋈lineitem shuffles both sides on orderkey. The final top-10 is
    * TakeOrderedAndProject — per-partition top-k then a driver merge of k
    * rows per partition, no global sort of the aggregate output.
    */
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables
      .customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") < ts("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") > ts("1998-01-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord.join(cust, col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(discPriceRow).cast("decimal(38,2)").as("revenue_d"))
      .orderBy(desc("revenue_d"), asc("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"),
              col("revenue_d").cast("string").as("revenue"))
  }

  /** TPC-H Q5-style regional revenue: 6-way join. Only the fixed-cardinality
    * dims (region 5 rows, nation 25 rows at ANY scale factor) are explicitly
    * broadcast; customer/supplier grow with SF, so their join strategy is
    * left to AQE (broadcast at small SF, shuffle at cluster scale).
    */
  def q05RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables
      .region(spark, dir)
      .filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    val nation =
      Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val asianNations = nation
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables
      .orders(spark, dir)
      .filter(
        col("o_orderdate") >= ts("1996-01-01") &&
          col("o_orderdate") < ts("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li =
      Tables
        .lineitem(spark, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")

    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asianNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(discPriceRow).cast("decimal(38,2)").as("revenue_d"))
      .orderBy(desc("revenue_d"), asc("n_name"))
      .select(col("n_name"), col("revenue_d").cast("string").as("revenue"))
  }

  /** TPC-H Q6-style forecast revenue: selective filter + global agg.
    * Filters push to the parquet scan; single partial+final agg, no group
    * key — the reduce side is one row.
    */
  def q06ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  /** Window functions: top-3 orders by totalprice per order-priority class.
    * row_number over (partition by priority, order by price desc with a key
    * tie-break) — the partition count is 5, so the window shuffle is tiny;
    * at scale the pattern stays one shuffle on the partition key.
    */
  def q11WindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }

  /** Set operations: UNION / EXCEPT / INTERSECT over customer key sets.
    * Set ops plan as aggregates/joins on the full row — each is one shuffle
    * on the row value; no driver-side set logic.
    */
  def q12SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich     = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val machinery =
      c.filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
    building
      .union(machinery)
      .intersect(rich)
      .except(building.intersect(machinery)) // provably empty partition, still exercises except
      .orderBy("c_custkey")
  }

  /** DISTINCT + countDistinct: distinct nation/segment combinations that
    * appear among customers, with exact distinct key counts.
    */
  def q13Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select("c_nationkey", "c_mktsegment")
      .distinct()
      .groupBy("c_mktsegment")
      .agg(countDistinct("c_nationkey").as("n_nations"))
      .orderBy("c_mktsegment")

  /** Money aggregation done RIGHT for the 100 TB design point: cast to
    * DECIMAL(18,2) before summing, so the result is exact and independent
    * of summation order (double sums near 1e16 lose sub-cent precision to
    * ULP; rounding cannot recover it). Result rendered as string so the
    * driver compare is representation-exact.
    */
  def q16DecimalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("string").as("sum_price_exact"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("decimal(38,2)").cast("string").as("sum_qty_exact"))
      .orderBy("l_returnflag")

  /** TPC-H Q4-style: EXISTS subquery → left-semi join. The semi join
    * shuffles both sides on orderkey but emits orders rows at most once —
    * no fanout, no distinct needed; at scale this beats inner-join+dedup.
    */
  def q17SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1997-07-01"))
      .select("o_orderkey", "o_orderpriority")
    val late = Tables
      .lineitem(spark, dir)
      .filter(col("l_quantity") >= 45)
      .select("l_orderkey")
    ord
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q13-style: LEFT OUTER join + two-level aggregation (customers by
    * order count, including zero-order customers — the rows an inner join
    * would silently drop).
    */
  def q18LeftJoinCount(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord  = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey")
    cust
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** Anti join: customers with NO orders in a window (NOT EXISTS). Plans as
    * left-anti hash join — single shuffle, no driver-side set logic.
    */
  def q19AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment")
    val ord = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1998-06-01"))
      .select("o_custkey")
    cust
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("c_mktsegment")
  }

  /** GROUP BY + HAVING (post-aggregation filter) with an average-threshold
    * subquery folded to a literal-free plan: parts whose average order
    * quantity exceeds a fixed multiple. HAVING is just a Filter above the
    * aggregate — no extra shuffle.
    */
  def q20Having(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(round(avg("l_quantity"), 4).as("avg_qty"),
           count(lit(1)).as("n_items"))
      .filter(col("n_items") >= 30)
      .orderBy(desc("n_items"), asc("l_partkey"))
      .limit(50)

  /** Incremental JOIN+AGG view maintenance ([[ViewMaintenance]]): the
    * per-order revenue view built from a day-1 slice of `orders ⋈
    * lineitem` (orders with key % 10 < 8; their first four line
    * numbers), then ROLLED with the day-2 insert-only deltas arriving
    * on BOTH sides of the join — the remaining orders with all their
    * lines, plus the late line numbers (> 4) of day-1 orders. The
    * emitted table is the ROLLED view; the oracle is the FULL REBUILD
    * over the complete tables, so rolled ≡ rebuilt is the driver-
    * checked contract (the q244 pattern, extended from unary changelog
    * rolls to a binary join view). Both merge cases are live: day-1
    * keys gain items from late lines (attributes inherited from the
    * standing row), day-2 keys enter fresh (attributes from the delta
    * orders). Exact throughout — COUNT and DECIMAL(24,4) sums, no
    * doubles.
    */
  def q256JoinViewRoll(spark: SparkSession, dir: String): DataFrame = {
    // attribute rows for every delta key ride in via jvSplit's
    // delta-key semi-join (line numbers are NOT 1-based per order in
    // this data, so a late line can belong to an order the day-1 view
    // never saw)
    val (standing, deltaOrders, deltaLines) = jvSplit(spark, dir)
    ViewMaintenance.orderRevenueRoll(standing, deltaOrders, deltaLines)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Retractable view maintenance ([[ViewMaintenance
    * .orderRevenueRetractRoll]]): the standing view is the FULL
    * `orders ⋈ lineitem` build, then a CDC changelog retracts every
    * high-quantity line (`l_quantity > 45`) and — for orders outside
    * the `key % 7 = 0` cohort — re-inserts it with its discount
    * zeroed (delete-before-image + insert-after-image, the standard
    * update encoding). All three retraction behaviors are live:
    * updated keys keep their item count but change revenue, the
    * `% 7 = 0` cohort's deletes shrink counts, and orders whose every
    * line is deleted LEAVE the view. The emitted table is the rolled
    * view; the oracle REBUILDS from the net table (lineitem minus
    * pure deletes, with updated discounts) — so retract-roll ≡
    * rebuild is driver-checked. Deletes give back exactly what their
    * inserts contributed: revenue is decimal-exact group arithmetic,
    * not float cancellation.
    */
  /** The q257/q259 CDC changelog: delete every high-quantity line;
    * re-insert it with discount zeroed for orders outside the
    * `% 7 = 0` cohort (update encoding), leave the cohort's deletes
    * pure so some orders fully retract.
    */
  private def retractChangelog(l: DataFrame): DataFrame = {
    val hot = col("l_quantity") > 45
    l.filter(hot).withColumn("op", lit(-1))
      .unionByName(
        l.filter(hot && col("l_orderkey") % 7 =!= 0)
          .withColumn("l_discount", lit(0.0))
          .withColumn("op", lit(1)))
  }

  def q257RetractViewRoll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val standing = ViewMaintenance.orderRevenueView(o, l)
    val changelog = retractChangelog(l)
    val deltaOrders = o.join(
      changelog.select(col("l_orderkey").as("o_orderkey")).distinct,
      Seq("o_orderkey"), "left_semi")
    ViewMaintenance.orderRevenueRetractRoll(standing, deltaOrders,
                                            changelog)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Streamed join-view maintenance ([[graft.streaming.EventStreams
    * .joinViewSink]]): q256's day-2 deltas arrive as three key-sliced
    * micro-batches over a staged file source; each batch rolls the
    * standing view forward into a deterministic per-batch directory.
    * The final landed view replays against the SAME full-rebuild
    * oracle string as q256 — build ≡ roll ≡ stream for the join-view
    * family, byte-for-byte (the q240/q244/q246 three-legs pattern,
    * extended from the unary SCD-2 changelog to a binary join view).
    * Memoized per sf dir and excluded from the bench like the other
    * streaming sinks (a timed pass would measure a parquet re-read).
    */
  def q258StreamedViewRoll(spark: SparkSession, dir: String): DataFrame = {
    val outDir = SavedOnce.scratch("q258", dir) { base =>
      val in = s"$base/in"
      val o = Tables.orders(spark, dir)
      val l = Tables.lineitem(spark, dir)
      ViewMaintenance.orderRevenueView(
          o.filter(col("o_orderkey") % 10 < 8),
          l.filter(col("l_orderkey") % 10 < 8 &&
                   col("l_linenumber") <= 4))
        .write.mode("overwrite").parquet(s"$base/out/vinit")
      val deltaLines = l
        .filter(col("l_orderkey") % 10 >= 8 || col("l_linenumber") > 4)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      graft.streaming.EventStreams.stageMicroBatchFiles(
        deltaLines, pmod(col("l_orderkey"), lit(3)), nBatches = 3,
        inDir = in)
      val stream = spark.readStream
        .schema("l_orderkey BIGINT, l_extendedprice DOUBLE, " +
                "l_discount DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
      val q = graft.streaming.EventStreams.joinViewSink(
        stream, o, s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      s"$base/out/v2"
    }
    spark.read.parquet(outDir)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Streamed RETRACTABLE view maintenance — the fourth leg of the
    * family matrix (batch/stream × insert-only/retract): q257's CDC
    * changelog arrives as three key-atomic micro-batches (each key's
    * delete + re-insert rows ride together, so every intermediate
    * landed view is a valid prefix state) and [[graft.streaming
    * .EventStreams.joinViewSink]] rolls with [[ViewMaintenance
    * .orderRevenueRetractRoll]]. The final landed view replays
    * q257's net-table rebuild oracle — streamed CDC with deletes ≡
    * batch retract roll ≡ rebuild. Memoized per sf dir; excluded
    * from the bench like the other streaming sinks.
    */
  def q259StreamedRetractRoll(spark: SparkSession,
                              dir: String): DataFrame = {
    val outDir = SavedOnce.scratch("q259", dir) { base =>
      val in = s"$base/in"
      val o = Tables.orders(spark, dir)
      val l = Tables.lineitem(spark, dir)
      ViewMaintenance.orderRevenueView(o, l)
        .write.mode("overwrite").parquet(s"$base/out/vinit")
      graft.streaming.EventStreams.stageMicroBatchFiles(
        retractChangelog(l)
          .select("l_orderkey", "l_extendedprice", "l_discount", "op"),
        pmod(col("l_orderkey"), lit(3)), nBatches = 3, inDir = in)
      val stream = spark.readStream
        .schema("l_orderkey BIGINT, l_extendedprice DOUBLE, " +
                "l_discount DOUBLE, op INT")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
      val q = graft.streaming.EventStreams.joinViewSink(
        stream, o, s"$base/out", s"$base/ckpt",
        ViewMaintenance.orderRevenueRetractRoll)
      try q.processAllAvailable() finally q.stop()
      s"$base/out/v2"
    }
    spark.read.parquet(outDir)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** The portable 60-bit md5 key hash (the repo-wide oracle hash
    * convention) reduced to a `m`-bit-array slot — a 1-hash Bloom
    * filter, chosen over Spark's native `stat.bloomFilter` exactly
    * BECAUSE one hash makes membership replayable in any SQL engine
    * (the native filter's k hashes are engine-private, so its false
    * positives can't be oracle-checked).
    */
  private def bloomSlot(key: Column, m: Long): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 15),
         16, 10).cast("long") % m

  /** Runtime bloom-filter join pruning, AUDITED: the small side (a
    * flagged-orders key set) compiles to a broadcast 1-hash Bloom
    * bitmap that prunes the big side AT THE SCAN, before any shuffle
    * — the runtime-filter pattern AQE applies implicitly, made
    * explicit and measured. One pass over lineitem counts rows
    * scanned, rows surviving the bloom, and true matches; `fp_ppm` is
    * the measured false-positive rate among true non-matches. Every
    * number is oracle-checked — the DuckDB replay recomputes the same
    * md5-slot bitmap, so even the false positives match bit-for-bit
    * (Spark's native bloomFilter can't be audited this way; see
    * [[bloomSlot]]). Scale shape: the bitmap is ≤ m distinct slots
    * broadcast once; the big side is one scan + two broadcast lookups
    * + a 1-row agg — rows pruned here never reach the join shuffle.
    * The truth-leg key set is flagged-order-proportional (grows with
    * the corpus, unlike the m-bounded bitmap), so it rides the
    * [[gatedBroadcast]] size gate rather than a forced hint.
    */
  def q262BloomPruneAudit(spark: SparkSession, dir: String): DataFrame = {
    val m = 1024L
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val keys = o.filter(col("o_orderpriority") === "1-URGENT" &&
                        col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("l_orderkey")).distinct()
    val bits = keys.select(bloomSlot(col("l_orderkey"), m).as("bit"))
      .distinct()
    l.select(col("l_orderkey"),
             bloomSlot(col("l_orderkey"), m).as("bit"))
      .join(broadcast(bits.withColumn("in_bloom", lit(1L))),
            Seq("bit"), "left")
      .join(gatedBroadcast(keys.withColumn("in_true", lit(1L))),
            Seq("l_orderkey"), "left")
      .agg(count(lit(1)).as("n_big"),
           sum(coalesce(col("in_bloom"), lit(0L))).as("n_pass"),
           sum(coalesce(col("in_true"), lit(0L))).as("n_true"))
      .withColumn("fp_ppm",
        expr("(n_pass - n_true) * 1000000 DIV (n_big - n_true)"))
      .select("n_big", "n_pass", "n_true", "fp_ppm")
  }

  /** Histogram join-cardinality estimation vs ground truth — the
    * optimizer-statistics introspection family (with q235's skew
    * advisor and q261's layout audit): 16 equal-width buckets over
    * the events self-join key (user_id), per-bucket rows + exact NDV,
    * the textbook estimate `n²/ndv` (uniform-frequency assumption),
    * and the TRUE self-join cardinality Σ c_u² — the per-bucket
    * `err_ppm` quantifies exactly how key skew breaks the uniform
    * assumption, the number a cost-based reorderer needs to distrust
    * its own histogram. All-integer arithmetic, fully oracle-checked.
    * Scale shape: one (bucket, key) agg → per-bucket rollup (≤ 16
    * rows); the true cardinality needs no join at all — Σ c² folds
    * from the same per-key counts.
    */
  def q263JoinCardEstimate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(min("user_id").as("ulo"), max("user_id").as("uhi"))
    val perKey = ev.crossJoin(broadcast(bounds))
      .withColumn("w", expr("(uhi - ulo + 16) div 16"))
      .withColumn("bucket", expr("(user_id - ulo) div w"))
      .groupBy("bucket", "user_id")
      .agg(count(lit(1)).as("c"))
    perKey.groupBy("bucket")
      .agg(sum("c").as("n"),
           count(lit(1)).as("ndv"),
           sum(col("c") * col("c")).as("true_card"))
      .withColumn("est_card", expr("n * n DIV ndv"))
      .withColumn("err_ppm",
        expr("abs(est_card - true_card) * 1000000 DIV true_card"))
      .select("bucket", "n", "ndv", "est_card", "true_card", "err_ppm")
      .orderBy("bucket")
  }

  /** Column-level lineage of the q256 join view, extracted from its
    * ANALYZED Catalyst plan ([[graft.plans.PlanLineage]]): for every
    * output column, the leaf (table, column) attributes its values
    * derive from — through the aliases, both aggregation legs, the
    * union, the attribute-inheriting merge, and the USING joins. Pure
    * plan introspection: never touches data, so the answer (and its
    * cost) is the same at 100 TB. The oracle is the pinned expected
    * mapping (the q50 golden pattern — lineage is a structural fact of
    * the query, not of the data; PlanLineageSpec derives the same
    * expectations by hand on independent plans).
    */
  def q266ColumnLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.plans.PlanLineage
      .columnLineage(q256JoinViewRoll(spark, dir))
      .toDF("out_col", "src_table", "src_col")
      .orderBy("out_col", "src_table", "src_col")
  }

  /** The FK-candidate pairs q267 profiles — ONE list drives both the
    * Spark side and the generated DuckDB replay, so the two can't
    * drift. Two deliberate negatives keep the detector honest: order
    * keys are NOT contained in customer keys (containment leg), and
    * supplier.s_nationkey contains every customer nation but is not
    * unique (parent-uniqueness leg).
    */
  private val fkCandidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "supplier", "s_nationkey"))

  /** Foreign-key discovery — the schema-profiling sibling of q238's
    * null profile and q263's cardinality stats: for each candidate
    * (child.col → parent.col) pair, exact child NDV, how many child
    * values the parent CONTAINS, parent row count and NDV, and the
    * verdict `is_fk` = full containment ∧ parent-side uniqueness (the
    * two properties a referential constraint needs). One deliberate
    * negative pair keeps the detector honest. Scale shape per pair:
    * two distinct-aggregations (map-side partial) + one key-only
    * semi-join — value sets, never row sets, shuffle.
    */
  def q267FkDiscovery(spark: SparkSession, dir: String): DataFrame =
    fkCandidates.map { case (ct, cc, pt, pc) =>
      val c = Tables.table(spark, dir, ct)
        .select(col(cc).as("v")).filter(col("v").isNotNull).distinct()
      val p = Tables.table(spark, dir, pt)
        .select(col(pc).as("v")).filter(col("v").isNotNull)
      // round-17 (guide §2.4): ndv_child + n_contained in ONE pass over
      // the child value set — the separate count + left_semi count
      // computed the child distinct twice per pair. A LEFT join against
      // the (unique) parent value set preserves multiplicity, so
      // count(*) is still the child NDV and count(match) the semi-join
      // count, bit-identically.
      c.join(p.distinct().withColumn("__m", lit(1)), Seq("v"), "left")
        .agg(count(lit(1)).as("ndv_child"),
             count(col("__m")).as("n_contained"))
        .crossJoin(p.agg(count(lit(1)).as("n_parent"),
                         count_distinct(col("v")).as("ndv_parent")))
        .select(lit(s"$ct.$cc").as("child"),
                lit(s"$pt.$pc").as("parent"),
                col("ndv_child"), col("n_contained"),
                col("n_parent"), col("ndv_parent"))
    }.reduce(_ unionByName _)
      .withColumn("contained_ppm",
                  expr("n_contained * 1000000 DIV ndv_child"))
      .withColumn("is_fk",
                  (col("n_contained") === col("ndv_child") &&
                   col("ndv_parent") === col("n_parent")).cast("long"))
      .orderBy("child", "parent")

  /** The query set q269 inverts — headline batch queries whose plans
    * are cheap to instantiate and structurally stable.
    */
  private val q269Targets = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q16_decimal_agg", "q17_semi_join", "q256_join_view_roll")

  /** Impact analysis — [[graft.plans.PlanLineage]] INVERTED across a
    * set of the engine's own queries: for every leaf (table, column)
    * the set of queries whose OUTPUT VALUES derive from it — the
    * "which dashboards break if I deprecate this column" question a
    * platform answers before a schema change. Same conventions as
    * q266 (value lineage only). Pure plan arithmetic on the driver;
    * the oracle pins the expected inversion (a structural fact of the
    * target queries, like q266's golden).
    */
  def q269ImpactAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    q269Targets
      .flatMap { name =>
        graft.plans.PlanLineage
          .columnLineage(graft.SparkEntry.queries(name)(spark, dir))
          .map { case (_, t, c) => ((t, c), name) }
      }
      .distinct
      .groupBy(_._1)
      .toSeq
      .map { case ((t, c), hits) =>
        val qs = hits.map(_._2).distinct.sorted
        (t, c, qs.length.toLong, qs.mkString(","))
      }
      .toDF("src_table", "src_col", "n_queries", "queries")
      .orderBy("src_table", "src_col")
  }

  /** q256's day-1/day-2 split, shared with q271. */
  private[operators] def jvSplit(spark: SparkSession, dir: String) = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val standing = ViewMaintenance.orderRevenueView(
      o.filter(col("o_orderkey") % 10 < 8),
      l.filter(col("l_orderkey") % 10 < 8 && col("l_linenumber") <= 4))
    val deltaLines =
      l.filter(col("l_orderkey") % 10 >= 8 || col("l_linenumber") > 4)
    val deltaOrders = o.join(
      deltaLines.select(col("l_orderkey").as("o_orderkey")).distinct,
      Seq("o_orderkey"), "left_semi")
    (standing, deltaOrders, deltaLines)
  }

  /** The CO-LOCATED roll against a PERSISTED key-bucketed standing
    * view ([[ViewMaintenance.orderRevenueRollCoLocated]]): the view is
    * published once per sf dir through [[graft.llm.IndexStore]]
    * bucketed by `o_orderkey`, and the day-2 delta merge-joins it
    * full-outer on that key — Catalyst reads the view Exchange-free
    * (ViewMaintenanceSpec pins the plan: `Bucketed: true`, strictly
    * fewer hash exchanges than the union-shaped roll) and only the
    * delta shuffles. This is the shape q256's scaladoc promises at
    * 100 TB, made literal. Same result, same oracle string as q256:
    * rolled ≡ rebuilt through a third physical strategy.
    */
  def q271BucketedViewRoll(spark: SparkSession, dir: String): DataFrame = {
    val (_, deltaOrders, deltaLines) = jvSplit(spark, dir)
    val name = SavedOnce("jv", dir) { n =>
      graft.llm.IndexStore.saveBucketedArtifact(
        jvSplit(spark, dir)._1, n, numBuckets = 16, Seq("o_orderkey"))
      n
    }
    val view = graft.llm.IndexStore.loadPlainArtifact(spark, name)
    ViewMaintenance.orderRevenueRollCoLocated(view, deltaOrders,
                                              deltaLines)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Broadcast a key-only set ONLY when a count says it fits — the
    * erasure-cascade guard (same idea as `Dedup.maxBucket`): an RTBF
    * erase set is thousands of keys and broadcasts for free, but a
    * BULK erasure's cascaded key sets grow with the corpus and a
    * forced hint would die at the broadcast cap; past the gate the
    * set flows unhinted and AQE picks the shuffle join. The count is
    * one job over the key-only projection — negligible beside the
    * erasure it prices.
    */
  private[graft] def gatedBroadcast(keys: DataFrame,
                                    maxKeys: Long = 10000000L)
      : DataFrame =
    if (keys.count() <= maxKeys) broadcast(keys) else keys

  /** Right-to-be-forgotten erasure audit — the FK graph q267 discovers,
    * made actionable: for an erase set of customers (`c_custkey % 97 =
    * 0`), the delete cascades down the key chain (customer → orders →
    * lineitem; events by user id), and the audit emits per table the
    * blast radius (`n_delete`/`n_keep`) plus the post-delete integrity
    * check `n_orphans_after` — kept child rows whose parent row
    * existed before the cascade but is absent from the KEPT parent
    * table (must be 0 for every table). The check is recounted
    * INDEPENDENTLY of the cascade's own derivation (anti-join vs the
    * kept-parent key set, not vs the erase set the child was just
    * anti-joined on — that form is 0 by construction and could never
    * catch e.g. a wrong `deadOrders` derivation). A child key that
    * never had a parent row at all is NOT an orphan here (referential
    * completeness is q267's concern), hence the semi-join vs the
    * original parent keys first. Scale shape: cascade broadcasts are
    * of deleted key sets — erase-set-proportional — behind the
    * [[gatedBroadcast]] size gate; the orphan legs join kept children
    * against corpus-proportional kept-parent KEY sets and therefore
    * flow UNHINTED (AQE broadcasts at small SF, shuffles at 100 TB —
    * the honest price of a real post-delete check). StatsAuditSpec
    * pins that no anti-derived (kept) set is ever hinted for
    * broadcast, and that the orphan check actually fires on a broken
    * cascade.
    */
  def q274ErasureAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    erasureAuditOver(cust, Tables.orders(spark, dir),
                     Tables.lineitem(spark, dir),
                     Tables.events(spark, dir),
                     cust.filter(col("c_custkey") % 97 === 0)
                       .select(col("c_custkey").as("k")))
  }

  /** q274's frame-parameterized core (so it can be timed over
    * replicated corpora and sweeping erase-set sizes).
    */
  private[graft] def erasureAuditOver(cust: DataFrame, ord: DataFrame,
                                      li: DataFrame, ev: DataFrame,
                                      erase0: DataFrame): DataFrame = {
    // both key sets are erase-proportional and consumed by several
    // legs (erase: 6 joins; deadOrders: 3) — pin them once through
    // graft.Materialize so no leg re-evaluates the derivation subplan
    val erase = gatedBroadcast(graft.Materialize(erase0))
    def keyed(df: DataFrame, c: String) = df.withColumn("k", col(c))
    def split(df: DataFrame, keys: DataFrame): (DataFrame, DataFrame) =
      (df.join(keys, Seq("k"), "left_semi"),
       df.join(keys, Seq("k"), "left_anti"))
    val (cDel, cKeep) = split(keyed(cust, "c_custkey"), erase)
    val (oDel, oKeep) = split(keyed(ord, "o_custkey"), erase)
    val deadOrders = gatedBroadcast(graft.Materialize(
      oDel.select(col("o_orderkey").as("k")).distinct()))
    val (lDel, lKeep) = split(keyed(li, "l_orderkey"), deadOrders)
    val (eDel, eKeep) = split(keyed(ev, "user_id"), erase)
    // independent integrity recount: kept-parent key sets derived from
    // the kept TABLES (never from the erase set), both legs unhinted
    val custKeys  = cust.select(col("c_custkey").as("k"))
    val cKeepKeys = cKeep.select(col("k"))
    val ordKeys   = ord.select(col("o_orderkey").as("k"))
    val oKeepKeys = oKeep.select(col("o_orderkey").as("k"))
    def row(tbl: String, del: DataFrame, keep: DataFrame,
            orphans: DataFrame) =
      del.agg(count(lit(1)).as("n_delete"))
        .crossJoin(keep.agg(count(lit(1)).as("n_keep")))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans_after")))
        .select(lit(tbl).as("tbl"), col("n_delete"), col("n_keep"),
                col("n_orphans_after"))
    row("customer", cDel, cKeep, cKeep.limit(0))
      .unionByName(row("orders", oDel, oKeep,
        orphanKeys(oKeep.select(col("o_custkey").as("k")),
                   custKeys, cKeepKeys)))
      .unionByName(row("lineitem", lDel, lKeep,
        orphanKeys(lKeep.select(col("l_orderkey").as("k")),
                   ordKeys, oKeepKeys)))
      .unionByName(row("events", eDel, eKeep,
        orphanKeys(eKeep.select(col("user_id").as("k")),
                   custKeys, cKeepKeys)))
      .orderBy("tbl")
  }

  /** The real post-delete orphan predicate: kept-child keys whose
    * parent existed ORIGINALLY (semi vs `parentKeys`) but is gone
    * from the kept parent (anti vs `keptParentKeys`). Parentless
    * children are excluded by the semi leg; a broken cascade (kept
    * child of an erased parent) survives the anti leg and is counted.
    * Deliberately unhinted on both joins — kept-parent key sets are
    * corpus-proportional.
    */
  private[graft] def orphanKeys(keptChildKeys: DataFrame,
                                parentKeys: DataFrame,
                                keptParentKeys: DataFrame): DataFrame =
    keptChildKeys.join(parentKeys, Seq("k"), "left_semi")
      .join(keptParentKeys, Seq("k"), "left_anti")

  /** Erasure propagated to the MATERIALIZED view — q274's delete
    * cascade composed with q257's retraction machinery: the erased
    * customers' lines become a pure-delete changelog (before-images,
    * op = −1) and the standing per-order revenue view retract-rolls
    * them out — every erased order leaves the view exactly, WITHOUT
    * rebuilding from the fact table (the right-to-be-forgotten
    * obligation extends to derived artifacts; at 100 TB you cannot
    * re-join history to honor it). Oracle: the same rebuild string
    * over the net (post-erasure) lineitem — retracted ≡ rebuilt.
    */
  def q275ViewErasure(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    viewErasureOver(
      o, Tables.lineitem(spark, dir),
      ViewMaintenance.orderRevenueView(o, Tables.lineitem(spark, dir)),
      Tables.customer(spark, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("o_custkey")))
  }

  /** q275's frame-parameterized core: cascade the erase set down to a
    * pure-delete line changelog and retract-roll it out of `standing`
    * (takes the standing view as an input, so a timing of it with the
    * view materialized isolates the erasure overlay).
    *
    * The cascade's intermediates are MATERIALIZED through
    * [[graft.Materialize]]: both are erase-proportional (bounded), the
    * changelog is consumed TWICE downstream (the signed aggregate and
    * the delta-order derivation) so pinning it scans the line corpus
    * ONCE instead of twice, and the downstream plan sees two leaves
    * instead of the embedded corpus-scan subtrees — round 13
    * measured the un-pinned form at 266 s for the
    * delta-order leg alone at ×20 (nested re-evaluated subplans)
    * vs 2.7 s for the same roll over pinned inputs.
    */
  private[graft] def viewErasureOver(o: DataFrame, l: DataFrame,
                                     standing: DataFrame,
                                     erase0: DataFrame): DataFrame = {
    val erase = gatedBroadcast(erase0)
    // the cascaded order-key set is erase-set-proportional for RTBF
    // erasures but corpus-proportional for a bulk one — the gate (not
    // a forced hint) decides whether it rides a broadcast
    val deadOrders = gatedBroadcast(graft.Materialize(
      o.join(erase, Seq("o_custkey"), "left_semi")
        .select(col("o_orderkey").as("l_orderkey"))))
    val changelog = graft.Materialize(
      l.join(deadOrders, Seq("l_orderkey"), "left_semi")
        .withColumn("op", lit(-1)))
    val deltaOrders = o.join(
      changelog.select(col("l_orderkey").as("o_orderkey")).distinct,
      Seq("o_orderkey"), "left_semi")
    ViewMaintenance.orderRevenueRetractRoll(
        standing, deltaOrders, changelog)
      .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"), col("n_items"),
              col("revenue").cast("string").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** The (table, column, encoder) triples q277 profiles — one list
    * drives the Spark side and the generated DuckDB replay. Encoders
    * make min/max engine-portable BIGINTs: longs as-is, doubles as
    * milli-units (floor is monotonic, so encode∘min ≡ min∘encode),
    * timestamps as epoch micros, strings as the 60-bit md5 of the
    * lexicographic extreme.
    */
  private val analyzeCols: Seq[(String, String, String)] = Seq(
    ("orders", "o_custkey", "int"),
    ("orders", "o_totalprice", "milli"),
    ("orders", "o_orderdate", "ts"),
    ("lineitem", "l_quantity", "milli"),
    ("lineitem", "l_shipdate", "ts"),
    ("customer", "c_mktsegment", "str"),
    ("events", "value", "milli"),
    ("events", "user_id", "int"),
    ("documents", "lang", "str"),
    ("documents", "source", "str"))

  /** ANALYZE-style column statistics — the optimizer-statistics
    * COLLECTOR beside its consumers (q263's estimator, q235's
    * advisor, q267's profiler): per configured column, exact row
    * count, null count, exact NDV, and portable integer-encoded
    * min/max. One partial-agg scan per table-column; at cluster scale
    * these rows ARE the catalog statistics a CBO reads. Every number
    * replayed by the oracle from the same column list.
    */
  def q277AnalyzeStats(spark: SparkSession, dir: String): DataFrame =
    analyzeCols.map { case (t, cn, kind) =>
      analyzeOneOver(
        if (t == "events") Tables.events(spark, dir)
        else Tables.table(spark, dir, t), t, cn, kind)
    }.reduce(_ unionByName _)
      .orderBy("tbl", "col_name")

  /** q277's per-column core — ONE partial-agg scan producing the
    * catalog row (over any frame, so it can be timed at ×N;
    * [[graft.plans.StatsCatalog]] publishes the same statistics in
    * typed form).
    */
  private[graft] def analyzeOneOver(df: DataFrame, tbl: String,
                                    cn: String, kind: String)
      : DataFrame = {
    def enc(kind: String, c: Column): Column = kind match {
      case "int"   => c.cast("long")
      case "milli" => floor(c * 1000).cast("long")
      // parquet reads NTZ; session is pinned UTC, so the cast is exact
      case "ts"    => unix_micros(c.cast("timestamp"))
      case _ =>
        conv(substring(md5(c.cast("binary")), 1, 15), 16, 10)
          .cast("long")
    }
    df.agg(count(lit(1)).as("n_rows"),
           sum(when(col(cn).isNull, 1L).otherwise(0L)).as("n_null"),
           count_distinct(col(cn)).as("ndv"),
           enc(kind, min(col(cn))).as("min_enc"),
           enc(kind, max(col(cn))).as("max_enc"))
      .select(lit(tbl).as("tbl"), lit(cn).as("col_name"),
              col("n_rows"), col("n_null"), col("ndv"),
              col("min_enc"), col("max_enc"))
  }

  /** Statistics-driven plan flip — the planner CONSUMING the
    * statistics the engine collects (q277's exact rows), closing the
    * collector-without-consumer gap: the same filtered
    * orders⋈customer aggregate is planned three ways and the row
    * records, per scenario, the COMPILE-TIME join strategy Catalyst
    * picked plus the (scenario-invariant) query result.
    *
    *  - `a_no_stats_cbo_on`: catalog stats cleared — the filter can't
    *    be estimated, the dimension side keeps its full scan size,
    *    and the join SORT-MERGES.
    *  - `b_stats_cbo_off`: stats published but the consumer off —
    *    still sort-merge; publishing alone changes nothing.
    *  - `c_stats_cbo_on`: with `spark.sql.cbo.enabled`,
    *    FilterEstimation turns the `c_acctbal` range predicate plus
    *    the published min/max/NDV into a row-count estimate, the
    *    build side drops below the broadcast threshold at COMPILE
    *    time, and the join BROADCASTS.
    *
    * The broadcast threshold is derived from the stats-blind plan's
    * own size estimate (half of it), so the flip is a property of the
    * ESTIMATES, not of a lucky constant, and holds at every SF. The
    * strategy column is read from `sparkPlan` — the pre-AQE physical
    * plan — because that is precisely what CBO improves: AQE can only
    * convert to broadcast AFTER the build side's shuffle map stage
    * ran, while the stats decision skips that map stage entirely (at
    * 100 TB that's the corpus-side shuffle write). Oracle: result
    * columns replayed from the tables (pinning that plan changes
    * never change answers); strategies pinned golden like q266's
    * structural facts.
    */
  def q278CboBroadcastFlip(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.plans.StatsCatalog
    val cust = StatsCatalog.ensureTable(spark, dir, "customer")
    val ord = StatsCatalog.ensureTable(spark, dir, "orders")
    StatsCatalog.clear(spark, cust)
    StatsCatalog.clear(spark, ord)
    val blindSize = graft.Sessions.withConf(
      spark, "spark.sql.cbo.enabled" -> "false") { spark =>
      spark.table(cust).where(col("c_acctbal").between(100, 400))
        .select("c_custkey")
        .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    }
    val threshold = math.max(64L, blindSize / 2)
    // each leg plans on a fresh clone: its relation cache is empty, so
    // it reads the statistics the catalog holds at that moment
    def scenario(tag: String, cbo: Boolean) =
      graft.Sessions.withConf(spark,
          "spark.sql.cbo.enabled" -> cbo.toString,
          "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString
      ) { spark =>
        val df = spark.sql(
          s"""SELECT count(*) AS n_rows,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             |       AS DECIMAL(24,2)) AS STRING) AS sum_px
             |FROM $ord o JOIN $cust c ON o.o_custkey = c.c_custkey
             |WHERE c.c_acctbal BETWEEN 100 AND 400""".stripMargin)
        val strat = df.queryExecution.sparkPlan.collectFirst {
          case _: org.apache.spark.sql.execution.joins
                    .BroadcastHashJoinExec => "BroadcastHashJoin"
          case _: org.apache.spark.sql.execution.joins
                    .SortMergeJoinExec => "SortMergeJoin"
          case _: org.apache.spark.sql.execution.joins
                    .ShuffledHashJoinExec => "ShuffledHashJoin"
        }.getOrElse("Unknown")
        val r = df.head()
        (tag, strat, r.getLong(0), r.getString(1))
      }
    val s1 = scenario("a_no_stats_cbo_on", cbo = true)
    StatsCatalog.publish(spark, cust,
      Seq("c_custkey", "c_acctbal", "c_nationkey"))
    StatsCatalog.publish(spark, ord,
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val s2 = scenario("b_stats_cbo_off", cbo = false)
    val s3 = scenario("c_stats_cbo_on", cbo = true)
    import spark.implicits._
    Seq(s1, s2, s3)
      .toDF("scenario", "join_strategy", "n_rows", "sum_px")
      .orderBy("scenario")
  }

  /** Equi-height histogram bins over `events.value` (milli-encoded) —
    * the statistic that FIXES the failure q263 quantifies: its
    * `err_ppm` shows exactly how the uniform-frequency assumption
    * breaks on a skewed column; per-bin bounds restore the estimate.
    * Ranking is [[graft.llm.Sharding.tokenOffsets]]' two-phase prefix
    * sum over a collision-free (vm, event_id) sort key — never a
    * single-partition window — and `bin = rank·B div n` is the exact
    * ntile cut, integer-replayable in DuckDB.
    */
  private[graft] def valueHistogramBins(ev: DataFrame, nBins: Int)
      : DataFrame = {
    val v = ev.filter(col("value").isNotNull)
      .select(floor(col("value") * 1000).cast("long").as("vm"),
              col("event_id"))
      .withColumn("skey",
        col("vm") * lit(1000000000000L) + col("event_id"))
      .withColumn("one", lit(1L))
    val ranked = graft.llm.Sharding
      .tokenOffsets(v, "skey", "one", nBuckets = 32, shardTokens = 1L)
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
      .withColumn("bin", expr(s"global_offset * $nBins DIV __n"))
      .groupBy("bin")
      .agg(min("vm").as("blo"), max("vm").as("bhi"),
           count(lit(1)).as("bn"), count_distinct(col("vm")).as("bndv"))
  }

  /** [[valueHistogramBins]] generalized to an integer key column:
    * equi-height bins over (keyCol, tieCol)-ranked rows via the same
    * two-phase prefix sum (never a single-partition window), emitting
    * per-bin (blo, bhi, bn, bndv). The tie key packs as
    * `key·10¹² + tie` — callers own the no-overflow contract (both
    * fixtures here are small ids).
    */
  private[graft] def keyHistogramBins(ev: DataFrame, keyCol: String,
                                      tieCol: String, nBins: Int)
      : DataFrame = {
    val v = ev.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as("kv"), col(tieCol).as("__t"))
      .withColumn("skey", col("kv") * lit(1000000000000L) + col("__t"))
      .withColumn("one", lit(1L))
    val ranked = graft.llm.Sharding
      .tokenOffsets(v, "skey", "one", nBuckets = 32, shardTokens = 1L)
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
      .withColumn("bin", expr(s"global_offset * $nBins DIV __n"))
      .groupBy("bin")
      .agg(min("kv").as("blo"), max("kv").as("bhi"),
           count(lit(1)).as("bn"), count_distinct(col("kv")).as("bndv"))
  }

  /** Histogram JOIN-cardinality estimation vs the NDV-uniform textbook
    * estimate vs ground truth — q281's experiment moved from
    * `FilterEstimation` to `JoinEstimation` (closing the estimator gap
    * q263/q273 quantified): a SELF-join on the long-tailed integer key
    * `floor(events.value)` (the natural ids in the testdata are
    * near-uniform — ratio ≤ 1.2 — while the value head concentrates:
    * Σc²/(n²/ndv) = 1.8 at sf0.001, 3.0 at sf0.01, growing with SF).
    * Emit the uniform estimate `n²/ndv`, the 16-bin equi-height
    * histogram estimate (Catalyst's per-bin overlap rule specialized
    * to identical bins on both sides: Σ bn²/bndv), and the exact truth
    * Σc² — measured: uniform errs 45–66%, the bins 15–20%.
    * StatsCatalogSpec publishes the SAME bins as a catalog `Histogram`
    * and pins that Catalyst's own JoinEstimation rowCount moves the
    * same way. All-integer, fully oracle-checked.
    * Scale shape: one per-key agg + the two-phase ranked binning — no
    * join is ever executed; the truth folds from the per-key counts.
    */
  def q284HistJoinEstimate(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").as("vk"),
              col("event_id"))
    val bins = keyHistogramBins(ev, "vk", "event_id", 16)
    val perKey = ev.groupBy("vk").agg(count(lit(1)).as("c"))
    val tot = perKey.agg(sum("c").as("n"),
                         count(lit(1)).as("ndv"),
                         sum(col("c") * col("c")).as("true_card"))
    val hist = bins.agg(sum(expr("bn * bn DIV bndv")).as("hist_est"))
    val base = tot.crossJoin(broadcast(hist))
    base.select(lit("a_ndv_uniform").as("estimator"),
                expr("n * n DIV ndv").cast("long").as("est_card"),
                col("true_card").cast("long").as("true_card"))
      .unionByName(
        base.select(lit("b_histogram_16").as("estimator"),
                    col("hist_est").cast("long").as("est_card"),
                    col("true_card").cast("long").as("true_card")))
      .withColumn("err_ppm",
        expr("abs(est_card - true_card) * 1000000 DIV true_card"))
      .orderBy("estimator")
  }

  /** Histogram-corrected selectivity vs the uniform assumption — the
    * estimator experiment beside its planner hookup (StatsCatalogSpec
    * publishes the same bins as a Catalyst `Histogram` and pins that
    * `FilterEstimation` itself improves): for two probe ranges over
    * the long-tailed `events.value` — the hot head, where uniform
    * UNDER-estimates 4–7×, and the in-domain sparse tail, where it
    * OVER-estimates ~2× — emit the true count, the domain-clamped
    * min/max-uniform estimate (the fair baseline: exactly what
    * Catalyst computes from NDV+min/max alone), the 32-bin histogram
    * estimate, and both errors in ppm. All-integer arithmetic; the
    * oracle replays bins, cuts, and both estimators bit-for-bit.
    */
  def q281HistogramEstimate(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
    val bins = valueHistogramBins(ev, 32)
    val v = ev.filter(col("value").isNotNull)
      .select(floor(col("value") * 1000).cast("long").as("vm"))
    val tot = v.agg(count(lit(1)).as("n"), min("vm").as("vlo"),
                    max("vm").as("vhi"))
    val probes = {
      import spark.implicits._
      Seq(("p1_hot_head", 0L, 50000L),
          ("p2_sparse_tail", 100000L, 200000L))
        .toDF("probe", "plo", "phi")
    }
    val withTrue = probes.crossJoin(broadcast(tot))
      .join(v.crossJoin(broadcast(probes))
              .filter(col("vm").between(col("plo"), col("phi")))
              .groupBy("probe").agg(count(lit(1)).as("true_rows")),
            Seq("probe"), "left")
      .na.fill(0L, Seq("true_rows"))
    val histEst = bins.crossJoin(broadcast(probes))
      .withColumn("contrib",
        when(col("bhi") < col("plo") || col("blo") > col("phi"), 0L)
          .when(col("bhi") === col("blo"), col("bn"))
          .otherwise(expr(
            """bn * (least(bhi, phi) - greatest(blo, plo))
              |DIV (bhi - blo)""".stripMargin.replace("\n", " "))))
      .groupBy("probe").agg(sum("contrib").as("hist_est"))
    def err(est: String) =
      expr(s"abs($est - true_rows) * 1000000 " +
        "DIV greatest(true_rows, 1)")
    withTrue.join(histEst, Seq("probe"))
      .withColumn("uniform_est",
        expr("""n * greatest(least(phi, vhi) - greatest(plo, vlo), 0)
               |DIV (vhi - vlo)""".stripMargin.replace("\n", " ")))
      .select(col("probe"), col("true_rows"),
              col("uniform_est"), col("hist_est"),
              err("uniform_est").as("uniform_err_ppm"),
              err("hist_est").as("hist_err_ppm"))
      .orderBy("probe")
  }

  /** Statistics-driven JOIN REORDER — q278's sibling consumer, the
    * second planner decision the published stats flip: a three-table
    * join WRITTEN in the worst order (fact ⋈ customer first, the
    * selective nation filter last). With `spark.sql.cbo
    * .joinReorder.enabled`, Catalyst's DP reorderer reads the
    * published row counts + NDVs, estimates the filtered nation at
    * ~1/25 of its 25 rows, and rebuilds the tree with
    * customer ⋈ nation at the BOTTOM — the fact table joins a
    * few-customer set instead of all customers joining the fact
    * table first. The row records the bottom join's leaf tables per
    * scenario plus the (invariant) answer. At 100 TB the written
    * order shuffles the whole fact table against the whole dimension
    * before the selective filter ever bites; the reordered plan's
    * first join is dimension-sized. Oracle: answer replayed;
    * bottom-join structure pinned golden (q266/q278 precedent).
    */
  def q280CboJoinReorder(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.plans.StatsCatalog
    val cust = StatsCatalog.ensureTable(spark, dir, "customer")
    val ord = StatsCatalog.ensureTable(spark, dir, "orders")
    val nat = StatsCatalog.ensureTable(spark, dir, "nation")
    StatsCatalog.publish(spark, cust,
      Seq("c_custkey", "c_acctbal", "c_nationkey"))
    StatsCatalog.publish(spark, ord,
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    StatsCatalog.publish(spark, nat, Seq("n_nationkey", "n_name"))
    def bottomJoin(df: DataFrame): String = {
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      joins.last.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.datasources
                   .LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources
                       .HadoopFsRelation =>
              fs.location.rootPaths.headOption
                .map(_.getName).getOrElse("relation")
                .replaceAll("\\.[A-Za-z0-9]+$", "")
            case _ => "relation"
          }
      }.sorted.mkString("+")
    }
    def scenario(tag: String, reorder: Boolean) =
      graft.Sessions.withConf(spark,
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> reorder.toString) { spark =>
        val df = spark.sql(
          s"""SELECT count(*) AS n_rows,
             |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
             |       AS DECIMAL(24,2)) AS STRING) AS sum_px
             |FROM $ord o
             |JOIN $cust c ON o.o_custkey = c.c_custkey
             |JOIN $nat n ON c.c_nationkey = n.n_nationkey
             |WHERE n.n_name = 'NATION_7'""".stripMargin)
        val r = df.head()
        (tag, bottomJoin(df), r.getLong(0), r.getString(1))
      }
    val s1 = scenario("a_written_order", reorder = false)
    val s2 = scenario("b_reordered", reorder = true)
    import spark.implicits._
    Seq(s1, s2)
      .toDF("scenario", "bottom_join", "n_rows", "sum_px")
      .orderBy("scenario")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q281_histogram_estimate" -> (q281HistogramEstimate(_, _)),
    "q284_hist_join_estimate" -> (q284HistJoinEstimate(_, _)),
    "q280_cbo_join_reorder" -> (q280CboJoinReorder(_, _)),
    "q278_cbo_broadcast_flip" -> (q278CboBroadcastFlip(_, _)),
    "q275_view_erasure" -> (q275ViewErasure(_, _)),
    "q277_analyze_stats" -> (q277AnalyzeStats(_, _)),
    "q266_column_lineage" -> (q266ColumnLineage(_, _)),
    "q267_fk_discovery" -> (q267FkDiscovery(_, _)),
    "q269_impact_analysis" -> (q269ImpactAnalysis(_, _)),
    "q271_bucketed_view_roll" -> (q271BucketedViewRoll(_, _)),
    "q274_erasure_audit" -> (q274ErasureAudit(_, _)),
    "q262_bloom_prune_audit" -> (q262BloomPruneAudit(_, _)),
    "q263_join_card_estimate" -> (q263JoinCardEstimate(_, _)),
    "q256_join_view_roll"   -> (q256JoinViewRoll(_, _)),
    "q257_retract_view_roll" -> (q257RetractViewRoll(_, _)),
    "q258_streamed_view_roll" -> (q258StreamedViewRoll(_, _)),
    "q259_streamed_retract_roll" -> (q259StreamedRetractRoll(_, _)),
    "q16_decimal_agg"       -> (q16DecimalAgg(_, _)),
    "q17_semi_join"         -> (q17SemiJoin(_, _)),
    "q18_left_join_count"   -> (q18LeftJoinCount(_, _)),
    "q19_anti_join"         -> (q19AntiJoin(_, _)),
    "q20_having"            -> (q20Having(_, _)),
    "q01_pricing_summary"   -> (q01PricingSummary(_, _)),
    "q03_shipping_priority" -> (q03ShippingPriority(_, _)),
    "q05_region_revenue"    -> (q05RegionRevenue(_, _)),
    "q06_forecast_revenue"  -> (q06ForecastRevenue(_, _)),
    "q11_window_top_orders" -> (q11WindowTopOrders(_, _)),
    "q12_set_ops"           -> (q12SetOps(_, _)),
    "q13_distinct"          -> (q13Distinct(_, _))
  )

  /** The join view rebuilt from scratch over given order/line inputs —
    * the ONE oracle string every maintenance path of the view family
    * replays (q256 batch roll, q257 retract roll via a net-table
    * rewrite, q258 streamed roll): build ≡ roll ≡ retract ≡ stream.
    */
  private[operators] def joinViewRebuildSql(linesRel: String): String =
    s"""WITH j AS (
       |  SELECT o_orderkey, o_custkey, o_orderpriority,
       |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
       |      * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
       |      AS DECIMAL(14,4)) AS rev
       |  FROM orders JOIN $linesRel ON l_orderkey = o_orderkey)
       |SELECT o_orderkey, o_custkey, o_orderpriority,
       |  count(*) AS n_items,
       |  CAST(CAST(sum(rev) AS DECIMAL(24,4)) AS VARCHAR) AS revenue
       |FROM j
       |GROUP BY o_orderkey, o_custkey, o_orderpriority
       |ORDER BY o_orderkey""".stripMargin

  /** q257/q259 share this: rebuild over the NET table — pure deletes
    * removed, updated rows' discounts zeroed.
    */
  private val oracleSqlRetract: String = joinViewRebuildSql(
    """(SELECT l_orderkey, l_extendedprice,
      |   CASE WHEN l_quantity > 45 THEN 0.0 ELSE l_discount END
      |     AS l_discount
      | FROM lineitem
      | WHERE NOT (l_quantity > 45 AND l_orderkey % 7 = 0)) nl""".stripMargin)

  val oracleSql: Map[String, String] = Map(
    // q256 emits the ROLLED view; the oracle rebuilds the view from
    // scratch over the complete tables — rolled ≡ rebuilt, checked by
    // the driver on every run (the shared-oracle maintenance pattern).
    "q256_join_view_roll" -> joinViewRebuildSql("lineitem"),
    // q257 emits the RETRACT-ROLLED view; the oracle rebuilds over the
    // NET table (pure deletes removed, updated rows' discounts zeroed)
    // — the same rebuild string applied to the changelog's closure.
    "q257_retract_view_roll" -> oracleSqlRetract,
    // q258 is the STREAMED roll of the same view — the oracle is the
    // IDENTICAL rebuild string as q256: build ≡ roll ≡ stream.
    "q258_streamed_view_roll" -> joinViewRebuildSql("lineitem"),
    // q259 streams q257's retract changelog — identical oracle to q257.
    "q259_streamed_retract_roll" -> oracleSqlRetract,
    // q271 rolls the same view through the co-located (bucketed merge
    // join) strategy — identical oracle to q256.
    "q271_bucketed_view_roll" -> joinViewRebuildSql("lineitem"),
    // q275 retract-rolls the erasure out of the standing view; the
    // oracle rebuilds over the post-erasure net lines.
    "q275_view_erasure" -> joinViewRebuildSql(
      """(SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem
        |  WHERE l_orderkey NOT IN (
        |    SELECT o_orderkey FROM orders WHERE o_custkey IN (
        |      SELECT c_custkey FROM customer
        |      WHERE c_custkey % 97 = 0))) nl""".stripMargin),
    // q267: generated from the SAME fkCandidates list as the Spark side.
    "q267_fk_discovery" -> {
      val rows = fkCandidates.map { case (ct, cc, pt, pc) =>
        s"""  SELECT '$ct.$cc' AS child, '$pt.$pc' AS parent,
           |    (SELECT count(DISTINCT $cc) FROM $ct
           |       WHERE $cc IS NOT NULL) AS ndv_child,
           |    (SELECT count(*) FROM
           |       (SELECT DISTINCT $cc AS v FROM $ct
           |          WHERE $cc IS NOT NULL) cd
           |       WHERE v IN (SELECT $pc FROM $pt
           |                     WHERE $pc IS NOT NULL)) AS n_contained,
           |    (SELECT count($pc) FROM $pt) AS n_parent,
           |    (SELECT count(DISTINCT $pc) FROM $pt) AS ndv_parent"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH raw AS (
         |$rows)
         |SELECT child, parent, ndv_child, n_contained, n_parent,
         |  ndv_parent,
         |  n_contained * 1000000 // ndv_child AS contained_ppm,
         |  CAST(CASE WHEN n_contained = ndv_child
         |             AND ndv_parent = n_parent
         |            THEN 1 ELSE 0 END AS BIGINT) AS is_fk
         |FROM raw ORDER BY child, parent""".stripMargin
    },
    // q277: generated from the SAME analyzeCols list as the Spark side.
    "q277_analyze_stats" -> {
      def enc(kind: String, e: String): String = kind match {
        case "int"   => s"CAST($e AS BIGINT)"
        case "milli" => s"CAST(floor($e * 1000) AS BIGINT)"
        case "ts"    => s"epoch_us($e)"
        case _       => s"('0x' || substr(md5($e), 1, 15))::BIGINT"
      }
      analyzeCols.map { case (t, cn, kind) =>
        s"""SELECT '$t' AS tbl, '$cn' AS col_name,
           |  count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $cn IS NULL THEN 1 ELSE 0 END)
           |       AS BIGINT) AS n_null,
           |  count(DISTINCT $cn) AS ndv,
           |  ${enc(kind, s"min($cn)")} AS min_enc,
           |  ${enc(kind, s"max($cn)")} AS max_enc
           |FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
    },
    // q281: bins (exact ntile cut over the collision-free sort key),
    // both estimators, and both errors replayed bit-for-bit — every
    // quotient non-negative, so DuckDB // ≡ Spark DIV
    "q284_hist_join_estimate" ->
      """WITH v AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS kv, event_id
        |  FROM events WHERE value IS NOT NULL),
        |pk AS (SELECT kv, CAST(count(*) AS BIGINT) AS c
        |       FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |             CAST(count(*) AS BIGINT) AS ndv,
        |             CAST(sum(c * c) AS BIGINT) AS true_card FROM pk),
        |r AS (
        |  SELECT kv, CAST(row_number() OVER (
        |    ORDER BY kv * 1000000000000 + event_id) - 1 AS BIGINT)
        |    AS rk
        |  FROM v),
        |bins AS (
        |  SELECT rk * 16 // (SELECT n FROM t) AS bin,
        |    CAST(count(*) AS BIGINT) AS bn,
        |    CAST(count(DISTINCT kv) AS BIGINT) AS bndv
        |  FROM r GROUP BY 1),
        |h AS (SELECT CAST(sum(bn * bn // bndv) AS BIGINT) AS hist_est
        |      FROM bins),
        |e AS (
        |  SELECT 'a_ndv_uniform' AS estimator, n * n // ndv AS est_card,
        |    true_card FROM t
        |  UNION ALL
        |  SELECT 'b_histogram_16', hist_est, true_card FROM h, t)
        |SELECT estimator, CAST(est_card AS BIGINT) AS est_card,
        |  true_card,
        |  CAST(abs(est_card - true_card) * 1000000 // true_card
        |       AS BIGINT) AS err_ppm
        |FROM e ORDER BY estimator""".stripMargin,
    "q281_histogram_estimate" ->
      """WITH v AS (
        |  SELECT CAST(floor(value * 1000) AS BIGINT) AS vm, event_id
        |  FROM events WHERE value IS NOT NULL),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, min(vm) AS vlo,
        |             max(vm) AS vhi FROM v),
        |r AS (
        |  SELECT vm, CAST(row_number() OVER (
        |    ORDER BY vm * 1000000000000 + event_id) - 1 AS BIGINT)
        |    AS rk
        |  FROM v),
        |bins AS (
        |  SELECT rk * 32 // (SELECT n FROM t) AS bin,
        |    min(vm) AS blo, max(vm) AS bhi,
        |    CAST(count(*) AS BIGINT) AS bn
        |  FROM r GROUP BY 1),
        |probes(probe, plo, phi) AS (VALUES
        |  ('p1_hot_head', 0::BIGINT, 50000::BIGINT),
        |  ('p2_sparse_tail', 100000::BIGINT, 200000::BIGINT)),
        |est AS (
        |  SELECT p.probe,
        |    (SELECT count(*) FROM v
        |       WHERE vm BETWEEN p.plo AND p.phi) AS true_rows,
        |    (SELECT n * greatest(least(p.phi, vhi)
        |                         - greatest(p.plo, vlo), 0)
        |       // (vhi - vlo) FROM t) AS uniform_est,
        |    (SELECT coalesce(sum(CASE
        |        WHEN bhi < p.plo OR blo > p.phi THEN 0
        |        WHEN bhi = blo THEN bn
        |        ELSE bn * (least(bhi, p.phi) - greatest(blo, p.plo))
        |             // (bhi - blo) END), 0) FROM bins) AS hist_est
        |  FROM probes p)
        |SELECT probe, CAST(true_rows AS BIGINT) AS true_rows,
        |  CAST(uniform_est AS BIGINT) AS uniform_est,
        |  CAST(hist_est AS BIGINT) AS hist_est,
        |  CAST(abs(uniform_est - true_rows) * 1000000
        |       // greatest(true_rows, 1) AS BIGINT) AS uniform_err_ppm,
        |  CAST(abs(hist_est - true_rows) * 1000000
        |       // greatest(true_rows, 1) AS BIGINT) AS hist_err_ppm
        |FROM est ORDER BY probe""".stripMargin,
    // q280: answer replayed; the bottom-join structure per scenario
    // is a plan fact — pinned golden (q266/q278 precedent)
    "q280_cbo_join_reorder" ->
      """WITH r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
        |         AS DECIMAL(24,2)) AS VARCHAR) AS sum_px
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7')
        |SELECT s.scenario, s.bottom_join, r.n_rows, r.sum_px
        |FROM (VALUES ('a_written_order', 'customer+orders'),
        |             ('b_reordered', 'customer+nation'))
        |  s(scenario, bottom_join)
        |CROSS JOIN r
        |ORDER BY scenario""".stripMargin,
    // q278: result columns replayed from the tables (the plan flip
    // must never change the answer); the per-scenario strategy is a
    // structural fact of the plan — pinned golden (q266 precedent).
    "q278_cbo_broadcast_flip" ->
      """WITH r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
        |         AS DECIMAL(24,2)) AS VARCHAR) AS sum_px
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_acctbal BETWEEN 100 AND 400)
        |SELECT s.scenario, s.join_strategy, r.n_rows, r.sum_px
        |FROM (VALUES ('a_no_stats_cbo_on', 'SortMergeJoin'),
        |             ('b_stats_cbo_off', 'SortMergeJoin'),
        |             ('c_stats_cbo_on', 'BroadcastHashJoin'))
        |  s(scenario, join_strategy)
        |CROSS JOIN r
        |ORDER BY scenario""".stripMargin,
    "q274_erasure_audit" ->
      """WITH e AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |od AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT k FROM e)),
        |rows_ AS (
        |  SELECT 'customer' AS tbl,
        |    (SELECT count(*) FROM customer
        |       WHERE c_custkey IN (SELECT k FROM e)) AS n_delete,
        |    (SELECT count(*) FROM customer
        |       WHERE c_custkey NOT IN (SELECT k FROM e)) AS n_keep,
        |    0::BIGINT AS n_orphans_after
        |  UNION ALL
        |  SELECT 'orders',
        |    (SELECT count(*) FROM orders
        |       WHERE o_custkey IN (SELECT k FROM e)),
        |    (SELECT count(*) FROM orders
        |       WHERE o_custkey NOT IN (SELECT k FROM e)),
        |    (SELECT count(*) FROM orders
        |       WHERE o_custkey NOT IN (SELECT k FROM e)
        |         AND o_custkey IN (SELECT c_custkey FROM customer)
        |         AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |           WHERE c_custkey NOT IN (SELECT k FROM e)))
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT count(*) FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM od)),
        |    (SELECT count(*) FROM lineitem
        |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM od)),
        |    (SELECT count(*) FROM lineitem
        |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM od)
        |         AND l_orderkey IN (SELECT o_orderkey FROM orders)
        |         AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
        |           WHERE o_custkey NOT IN (SELECT k FROM e)))
        |  UNION ALL
        |  SELECT 'events',
        |    (SELECT count(*) FROM events
        |       WHERE user_id IN (SELECT k FROM e)),
        |    (SELECT count(*) FROM events
        |       WHERE user_id NOT IN (SELECT k FROM e)),
        |    (SELECT count(*) FROM events
        |       WHERE user_id NOT IN (SELECT k FROM e)
        |         AND user_id IN (SELECT c_custkey FROM customer)
        |         AND user_id NOT IN (SELECT c_custkey FROM customer
        |           WHERE c_custkey NOT IN (SELECT k FROM e))))
        |SELECT tbl, CAST(n_delete AS BIGINT) AS n_delete,
        |  CAST(n_keep AS BIGINT) AS n_keep,
        |  CAST(n_orphans_after AS BIGINT) AS n_orphans_after
        |FROM rows_ ORDER BY tbl""".stripMargin,
    // q269: the inversion is a structural fact of the six target
    // plans — pinned golden, like q266.
    "q269_impact_analysis" ->
      ("""SELECT * FROM (VALUES
        |  ('lineitem', 'l_discount', CAST(4 AS BIGINT),
        |   'q01_pricing_summary,q03_shipping_priority,""" +
          "q05_region_revenue,q256_join_view_roll'),\n" +
       """  ('lineitem', 'l_extendedprice', 5,
        |   'q01_pricing_summary,q03_shipping_priority,""" +
          "q05_region_revenue,q16_decimal_agg,q256_join_view_roll'),\n" +
       """  ('lineitem', 'l_linestatus', 1, 'q01_pricing_summary'),
        |  ('lineitem', 'l_orderkey', 2,
        |   'q03_shipping_priority,q256_join_view_roll'),
        |  ('lineitem', 'l_quantity', 2,
        |   'q01_pricing_summary,q16_decimal_agg'),
        |  ('lineitem', 'l_returnflag', 2,
        |   'q01_pricing_summary,q16_decimal_agg'),
        |  ('lineitem', 'l_tax', 1, 'q01_pricing_summary'),
        |  ('nation', 'n_name', 1, 'q05_region_revenue'),
        |  ('orders', 'o_custkey', 1, 'q256_join_view_roll'),
        |  ('orders', 'o_orderdate', 1, 'q03_shipping_priority'),
        |  ('orders', 'o_orderpriority', 3,
        |   'q03_shipping_priority,q17_semi_join,q256_join_view_roll'))
        |  AS t(src_table, src_col, n_queries, queries)
        |ORDER BY src_table, src_col""").stripMargin,
    // q266: lineage is a structural fact of the q256 plan, not of the
    // data — the oracle pins the expected mapping (q50 golden pattern).
    "q266_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('o_custkey', 'orders', 'o_custkey'),
        |  ('o_orderkey', 'lineitem', 'l_orderkey'),
        |  ('o_orderpriority', 'orders', 'o_orderpriority'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'))
        |  AS t(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""".stripMargin,
    // q262: the oracle recomputes the SAME 1-hash md5-slot bitmap, so
    // even the bloom's false positives are checked bit-for-bit.
    "q262_bloom_prune_audit" ->
      """WITH s AS (
        |  SELECT DISTINCT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 97 = 0),
        |bits AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
        |      ::BIGINT % 1024 AS bit
        |  FROM s),
        |big AS (
        |  SELECT l_orderkey,
        |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
        |      ::BIGINT % 1024 AS bit
        |  FROM lineitem),
        |agg AS (
        |  SELECT count(*) AS n_big,
        |    CAST(sum(CASE WHEN bit IN (SELECT bit FROM bits)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |    CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM s)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        |  FROM big)
        |SELECT n_big, n_pass, n_true,
        |  (n_pass - n_true) * 1000000 // (n_big - n_true) AS fp_ppm
        |FROM agg""".stripMargin,
    "q263_join_card_estimate" ->
      """WITH b AS (
        |  SELECT min(user_id) AS ulo,
        |         (max(user_id) - min(user_id) + 16) // 16 AS w
        |  FROM events),
        |pk AS (
        |  SELECT (user_id - ulo) // w AS bucket, user_id,
        |         count(*) AS c
        |  FROM events, b GROUP BY 1, 2),
        |agg AS (
        |  SELECT bucket, CAST(sum(c) AS BIGINT) AS n,
        |         count(*) AS ndv,
        |         CAST(sum(c * c) AS BIGINT) AS true_card
        |  FROM pk GROUP BY bucket)
        |SELECT bucket, n, ndv, n * n // ndv AS est_card, true_card,
        |  abs(n * n // ndv - true_card) * 1000000 // true_card
        |    AS err_ppm
        |FROM agg
        |ORDER BY bucket""".stripMargin,
    "q16_decimal_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price_exact,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty_exact
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q17_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_quantity >= 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q18_left_join_count" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q19_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q20_having" ->
      """SELECT l_partkey, round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING count(*) >= 30
        |ORDER BY n_items DESC, l_partkey
        |LIMIT 50""".stripMargin,
    "q01_pricing_summary" ->
      """WITH d AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS qty2,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS ep2,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |         * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
        |         AS DECIMAL(14,4)) AS disc_price,
        |    l_quantity, l_extendedprice, l_discount, l_tax
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(qty2) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
        |  CAST(CAST(sum(ep2) AS DECIMAL(38,2)) AS VARCHAR) AS sum_base_price,
        |  CAST(CAST(round(sum(disc_price), 2) AS DECIMAL(38,2)) AS VARCHAR) AS sum_disc_price,
        |  CAST(CAST(round(sum(CAST(disc_price
        |         * CAST(1 + CAST(l_tax AS DECIMAL(3,2)) AS DECIMAL(4,2))
        |         AS DECIMAL(16,6))), 2) AS DECIMAL(38,2)) AS VARCHAR) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM d
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(revenue_d AS VARCHAR) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
        |      AS DECIMAL(14,4))), 2) AS DECIMAL(38,2)) AS revenue_d
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority) t
        |ORDER BY revenue_d DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q05_region_revenue" ->
      """SELECT n_name, CAST(revenue_d AS VARCHAR) AS revenue
        |FROM (
        |  SELECT n_name,
        |    CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(3,2))
        |      AS DECIMAL(14,4))), 2) AS DECIMAL(38,2)) AS revenue_d
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY n_name) t
        |ORDER BY revenue_d DESC, n_name""".stripMargin,
    "q06_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    "q11_window_top_orders" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, rn FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q12_set_ops" ->
      """SELECT c_custkey FROM (
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   UNION ALL
        |   SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |  EXCEPT
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |   INTERSECT
        |   SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'))
        |ORDER BY c_custkey""".stripMargin,
    "q13_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations
        |FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  )
}
