package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.operators.SqlAnchors
import graft.plans.StatsCatalog

/** Measures what publishing ANALYZE statistics actually changes on the
  * engine's own standing relational anchors (the round-13 CBO estate —
  * q278/q280/q281 — proved the wiring on purpose-built fixtures; this
  * harness answers "do the STANDING plans flip?" on the real tables at
  * a given SF).
  *
  * For every SQL anchor twin it compiles three legs over the SAME
  * catalog tables and prints each leg's physical join algorithms in
  * plan order:
  *   blind  — statistics cleared, CBO off (what the standing
  *            path-based queries plan today; sizeInBytes only)
  *   stats  — statistics published, CBO off (sizeInBytes still rules
  *            broadcast decisions; rowCount ignored)
  *   cbo    — statistics published, CBO + join reorder on
  *
  * Compile-only: plans are built, never executed, so the sweep runs in
  * seconds at any SF (`CboAnchorsSpec` separately pins that the cbo
  * leg's ANSWERS are unchanged). Usage:
  *   runMain graft.tools.CboAnchors <sfDir>
  */
object CboAnchors {

  /** Physical join algorithms of the COMPILE-TIME plan, in traversal
    * order (pre-AQE: `sparkPlan`, not `executedPlan`, because AQE
    * re-plans at runtime and would hide the compile-time decision
    * under an AdaptiveSparkPlan wrapper).
    */
  def joinAlgos(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan): Seq[String] = p match {
      case j: BroadcastHashJoinExec =>
        (s"BHJ(${j.joinType})" +: j.children.flatMap(walk))
      case j: SortMergeJoinExec =>
        (s"SMJ(${j.joinType})" +: j.children.flatMap(walk))
      case j: ShuffledHashJoinExec =>
        (s"SHJ(${j.joinType})" +: j.children.flatMap(walk))
      case j: BroadcastNestedLoopJoinExec =>
        (s"BNLJ(${j.joinType})" +: j.children.flatMap(walk))
      case other => other.children.flatMap(walk) ++
        other.subqueries.flatMap(walk)
    }
    walk(df.queryExecution.sparkPlan)
  }

  /** Register + return the catalog-table mapping for the twins'
    * tables at `dir` (no stats published yet).
    */
  def ensureTables(spark: SparkSession,
                   dir: String): Map[String, String] =
    SqlAnchors.statsColumns.keys.map { t =>
      t -> StatsCatalog.ensureTable(spark, dir, t)
    }.toMap

  /** Publish the twins' join/filter column statistics on every table. */
  def publishAll(spark: SparkSession,
                 mapping: Map[String, String]): Unit =
    SqlAnchors.statsColumns.foreach { case (t, cols) =>
      StatsCatalog.publish(spark, mapping(t), cols)
    }

  /** The operating optimizer regime Bench, Verify and Probe run under:
    * the twins' statistics published on the catalog tables at `dir`,
    * cbo + join reorder on. Returns the number of tables published.
    */
  def operatingRegime(spark: SparkSession, dir: String): Int = {
    val mapping = ensureTables(spark, dir)
    publishAll(spark, mapping)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    mapping.size
  }

  /** One leg of the sweep: compile every twin under the given confs
    * and return name → space-joined join algorithms.
    */
  private def legAlgos(spark: SparkSession,
                       mapping: Map[String, String]): Map[String, String] =
    SqlAnchors.twins.map { case (name, sql) =>
      name -> joinAlgos(
        spark.sql(SqlAnchors.rebind(sql, mapping))).mkString(" ")
    }.toMap

  /** Per-anchor join algorithms across four legs. At local SF every
    * table fits under the default 10 MB broadcast threshold, so the
    * blind plan already broadcasts everything — the `@128k` legs
    * re-run with `autoBroadcastJoinThreshold` = 128 KB, the regime
    * where the fact/dimension tables are LARGER than the threshold raw
    * (as all of them are at 100 TB) and only an ESTIMATED post-filter
    * size can justify a compile-time broadcast. Legs:
    *   blind      — no stats, CBO off, default threshold
    *   cbo        — stats + CBO + join reorder, default threshold
    *   blind@128k — no stats, CBO off, 128 KB threshold
    *   cbo@128k   — stats + CBO + join reorder, 128 KB threshold
    */
  def sweep(spark: SparkSession, dir: String)
      : Seq[(String, Map[String, String])] = {
    val mapping = ensureTables(spark, dir)
    val scaledT = (128 * 1024).toString
    mapping.values.foreach(StatsCatalog.clear(spark, _))
    val blind = StatsCatalog.withConfs(spark,
      "spark.sql.cbo.enabled" -> "false")(legAlgos(spark, mapping))
    val blindT = StatsCatalog.withConfs(spark,
      "spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> scaledT)(
      legAlgos(spark, mapping))
    publishAll(spark, mapping)
    val cbo = StatsCatalog.withConfs(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")(
      legAlgos(spark, mapping))
    val cboT = StatsCatalog.withConfs(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> scaledT)(
      legAlgos(spark, mapping))
    SqlAnchors.twins.map { case (name, _) =>
      name -> Map("blind" -> blind(name), "cbo" -> cbo(name),
                  "blind@128k" -> blindT(name),
                  "cbo@128k" -> cboT(name))
    }
  }

  /** The epoch-day-twin sweep (q17/q19 rewritten onto
    * `orders_day.o_orderdate_day` — `SqlAnchors.dayTwins`): the same
    * four legs as [[sweep]], but with the date-filtered anchors' range
    * predicates on a BIGINT column whose min/max ARE publishable, so
    * the estimate under the `cbo` legs is real instead of default
    * selectivity. Closes the measured boundary from the round-14
    * PLANS table (q17–q19 could not flip because every testdata
    * date/ts column loads as TIMESTAMP_NTZ and Spark 4.1.2's
    * FilterEstimation has no NTZ branch).
    */
  def sweepDay(spark: SparkSession, dir: String)
      : Seq[(String, Map[String, String])] = {
    val base = ensureTables(spark, dir)
    val dayName = StatsCatalog.ensureDayTable(spark, dir, "orders",
                                              Seq("o_orderdate"))
    val mapping = base + ("orders_day" -> dayName)
    val scaledT = (128 * 1024).toString
    def legs(confs: (String, String)*): Map[String, String] =
      StatsCatalog.withConfs(spark, confs: _*)(
        SqlAnchors.dayTwins.map { case (name, sql) =>
          name -> joinAlgos(
            spark.sql(SqlAnchors.rebind(sql, mapping))).mkString(" ")
        }.toMap)
    mapping.values.foreach(StatsCatalog.clear(spark, _))
    val blind = legs("spark.sql.cbo.enabled" -> "false")
    val blindT = legs("spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> scaledT)
    publishAll(spark, base)
    SqlAnchors.dayStatsColumns.foreach { case (t, cols) =>
      StatsCatalog.publish(spark, mapping(t), cols)
    }
    val cbo = legs("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    val cboT = legs("spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> scaledT)
    SqlAnchors.dayTwins.map { case (name, _) =>
      name -> Map("blind" -> blind(name), "cbo" -> cbo(name),
                  "blind@128k" -> blindT(name),
                  "cbo@128k" -> cboT(name))
    }
  }

  /** The optimizer's estimated row count for the first optimized-plan
    * Filter whose condition references `colName` — the probe that
    * distinguishes a REAL estimate (published min/max consumed by
    * FilterEstimation) from default selectivity. Requires
    * `spark.sql.cbo.enabled` for rowCount propagation.
    */
  def filterEstimate(spark: SparkSession, sql: String,
                     colName: String): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    spark.sql(sql).queryExecution.optimizedPlan.collectFirst {
      case f: Filter if f.condition.references.exists(_.name == colName)
        => f.stats.rowCount
    }.flatten
  }

  private def printSweep(rows: Seq[(String, Map[String, String])])
      : Unit =
    rows.foreach { case (name, legs) =>
      val flip  = if (legs("blind") != legs("cbo")) "FLIP" else "same"
      val flipT = if (legs("blind@128k") != legs("cbo@128k")) "FLIP"
                  else "same"
      println(f"[cbo-anchors] $name%-24s default=$flip%-4s " +
        s"scaled=$flipT blind=[${legs("blind")}] cbo=[${legs("cbo")}] " +
        s"blind@128k=[${legs("blind@128k")}] " +
        s"cbo@128k=[${legs("cbo@128k")}]")
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-cbo-anchors")
    printSweep(sweep(spark, dir))
    printSweep(sweepDay(spark, dir))
    spark.stop()
  }
}
