package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.Sessions
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
    * then `body` on a clone of `spark` with cbo + join reorder on.
    */
  def operatingRegime[T](spark: SparkSession, dir: String)
                        (body: SparkSession => T): T = {
    val mapping = ensureTables(spark, dir)
    publishAll(spark, mapping)
    System.err.println("[cbo] regime ON: statistics published on " +
      s"${mapping.size} anchor catalog tables")
    Sessions.withConf(spark, cboOn: _*)(body)
  }

  private val cboOn = Seq("spark.sql.cbo.enabled" -> "true",
                          "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** The four legs of a sweep over `twins`: the blind legs with the
    * statistics of `mapping`'s tables cleared, then `publish`, then the
    * cbo legs. Each leg compiles every twin on a clone of `spark` under
    * the leg's confs: name → leg → space-joined join algorithms.
    */
  private def legs(spark: SparkSession, twins: Seq[(String, String)],
                   mapping: Map[String, String])(publish: => Unit)
      : Seq[(String, Map[String, String])] = {
    val scaled =
      "spark.sql.autoBroadcastJoinThreshold" -> (128 * 1024).toString
    val blindConf = "spark.sql.cbo.enabled" -> "false"
    def leg(confs: (String, String)*): Map[String, String] =
      Sessions.withConf(spark, confs: _*) { spark =>
        twins.map { case (name, sql) =>
          name -> joinAlgos(
            spark.sql(SqlAnchors.rebind(sql, mapping))).mkString(" ")
        }.toMap
      }
    mapping.values.foreach(StatsCatalog.clear(spark, _))
    val blind = leg(blindConf)
    val blindT = leg(blindConf, scaled)
    publish
    val cbo = leg(cboOn: _*)
    val cboT = leg(cboOn :+ scaled: _*)
    twins.map { case (name, _) =>
      name -> Map("blind" -> blind(name), "cbo" -> cbo(name),
                  "blind@128k" -> blindT(name),
                  "cbo@128k" -> cboT(name))
    }
  }

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
    legs(spark, SqlAnchors.twins, mapping)(publishAll(spark, mapping))
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
    legs(spark, SqlAnchors.dayTwins, mapping) {
      publishAll(spark, base)
      SqlAnchors.dayStatsColumns.foreach { case (t, cols) =>
        StatsCatalog.publish(spark, mapping(t), cols)
      }
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
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-cbo-anchors")
    printSweep(sweep(spark, dir))
    printSweep(sweepDay(spark, dir))
    spark.stop()
  }
}
