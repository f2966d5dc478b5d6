package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.sources.Tables

/** Projection / cleaning / scalar-function coverage (SURVEY.md §2.2–§2.4,
  * §2.6-E4/E7): every row-level operator the reference uses, expressed as
  * oracle-checkable queries over the driver's parquet tables.
  *
  * All of these are narrow Project/Filter/Aggregate plans: filters and
  * column pruning push into the parquet scan, expressions stay inside
  * whole-stage codegen (no UDFs anywhere in this file), and each query ends
  * in a deterministic ORDER BY for the driver's hash compare.
  */
object ScalarQueries {

  /** P1/P3/P5/F9/P10: projection, rename, cast, alias, orderBy+limit.
    * Mirrors `transformers_test.py:66-95` (rename map + cast chain).
    */
  def q02SelectCast(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .withColumnRenamed("c_mktsegment", "segment")
      .withColumn("acctbal_int", col("c_acctbal").cast(IntegerType))
      .withColumn("bal_double", col("acctbal_int").cast("double"))
      .select(
        col("c_custkey"),
        col("c_name").as("name"),
        col("segment"),
        col("acctbal_int"),
        col("bal_double"))
      .orderBy("c_custkey")
      .limit(100)

  /** P6–P9: null handling — synthesize nulls with nullif (the driver tables
    * are null-free), then na.drop(subset), isNotNull filter, length filter.
    * Mirrors `qqp_test.py:41` + `qnli_test.py:101-113`.
    */
  def q04NullCleaning(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .withColumn("seg_or_null",
        when(col("c_mktsegment") === "BUILDING", lit(null).cast("string"))
          .otherwise(col("c_mktsegment")))
      .withColumn("bal_or_null",
        when(col("c_acctbal") < 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")))
      .na
      .drop(Seq("seg_or_null", "bal_or_null"))
      .filter(col("seg_or_null").isNotNull)
      .filter(length(col("seg_or_null")) > 0)
      .groupBy("seg_or_null")
      .agg(count(lit(1)).as("n"), round(sum("bal_or_null"), 2).as("bal_sum"))
      .orderBy("seg_or_null")

  /** F1–F4/F6/F8/F9: concat with [SEP], concat_ws+trim, length, equality,
    * modulo, alias. Mirrors `qqp_test.py:44`, `qnli_test.py:108-118`,
    * `transformers_test.py:210,222`.
    */
  def q07StringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        concat(col("lang"), lit(" [SEP] "), col("source")).as("combined"),
        concat_ws(" ", trim(col("lang")), trim(col("source"))).as("composed"),
        length(col("text")).cast("long").as("text_len"),
        (col("doc_id") % 20).cast("int").as("grp"),
        (col("lang") === "en").as("is_en"))
      .orderBy("doc_id")

  /** F5: programmatically-built CASE WHEN chain over a label map — exactly
    * the `transformers_test.py:220-232` pattern (string label → numeric id,
    * unknown → -1), built by folding over a Map like the reference's dict.
    */
  def q08LabelMap(spark: SparkSession, dir: String): DataFrame = {
    val labelMap = Map("en" -> 0, "fr" -> 1, "es" -> 2, "de" -> 3)
    val mapped = labelMap
      .toSeq
      .sortBy(_._2)
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("lang") === s, lit(i)).otherwise(acc)
      }
    Tables
      .documents(spark, dir)
      .withColumn("lang_id", mapped)
      .groupBy("lang_id")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_id")
  }

  /** A2: single-key groupBy count — class distribution
    * (`qqp_test.py:182`). */
  def q09EventsByType(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("value_sum"))
      .orderBy("event_type")

  /** A4: describe()-equivalent stats (count/mean/stddev/min/max) computed as
    * a declarative aggregate (`qnli_test.py:117-118`). */
  def q10DescribeStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        round(avg("n_chars"), 4).as("mean_chars"),
        round(stddev("n_chars"), 4).as("std_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))

  /** E4: the distributed confusion-matrix pattern
    * (`qnli_test.py:183-193`): groupBy(label, prediction).count(). The
    * "prediction" here is a deterministic rule so the oracle can replay it.
    */
  def q14ConfusionMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("label", col("lang"))
      .withColumn("prediction",
        when(col("n_chars") % 5 === 0, lit("en")).otherwise(col("lang")))
      .groupBy("label", "prediction")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "prediction")

  /** E7: DataFrame-native histogram — fixed-width binning via floor()
    * then groupBy. Replaces the reference's driver-side plt.hist
    * (`sst2_test2.py:174-189`). */
  def q15Histogram(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("bin", floor(col("n_chars") / 50).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /** Time-window aggregation over the events table: hourly rollup.
    * date_trunc is a pure expression, so the plan is scan → partial agg →
    * one shuffle on (hour, type) → final agg. The mean is the exact
    * DECIMAL sum over the count, rounded half up: avg(double) + round()
    * lands either side of a half-way tie depending on summation order,
    * and the oracle sums in a different order. */
  def q21EventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,6)")) / count(lit(1)), 4)
             .cast("double").as("value_avg"))
      .orderBy("hour", "event_type")

  /** Semi-structured extraction: pull the numeric field out of the JSON
    * props string with regexp_extract (codegen'd), then aggregate. */
  def q22PropsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "(\\d+)", 1).cast("int"))
      .groupBy("event_type")
      .agg(round(avg("k"), 4).as("k_avg"), max("k").as("k_max"))
      .orderBy("event_type")

  /** Array aggregation: collect_list made deterministic by sort_array +
    * slice (unordered collect is never hash-comparable). The pattern
    * training pipelines use to group documents per key.
    */
  def q48ArrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .groupBy("lang")
      .agg(
        slice(sort_array(collect_list("doc_id")), 1, 5).as("first_docs"),
        count(lit(1)).as("n"))
      .withColumn("first_docs", concat_ws(",", col("first_docs")))
      .orderBy("lang")

  /** Pivot: documents per (source × lang) as a wide table, with an
    * explicit value list so the output schema is deterministic.
    */
  def q49Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("source")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q48_array_agg"       -> (q48ArrayAgg(_, _)),
    "q49_pivot"           -> (q49Pivot(_, _)),
    "q02_select_cast"     -> (q02SelectCast(_, _)),
    "q04_null_cleaning"   -> (q04NullCleaning(_, _)),
    "q07_string_funcs"    -> (q07StringFuncs(_, _)),
    "q08_label_map"       -> (q08LabelMap(_, _)),
    "q09_events_by_type"  -> (q09EventsByType(_, _)),
    "q10_describe_stats"  -> (q10DescribeStats(_, _)),
    "q14_confusion_matrix" -> (q14ConfusionMatrix(_, _)),
    "q15_histogram"       -> (q15Histogram(_, _)),
    "q21_events_hourly"   -> (q21EventsHourly(_, _)),
    "q22_props_extract"   -> (q22PropsExtract(_, _))
  )

  val oracleSql: Map[String, String] = Map(
    "q48_array_agg" ->
      """SELECT lang,
        |  array_to_string(list_sort(list(doc_id))[1:5], ',') AS first_docs,
        |  count(*) AS n
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q49_pivot" ->
      """SELECT source,
        |  count(*) FILTER (lang = 'de') AS de,
        |  count(*) FILTER (lang = 'en') AS en,
        |  count(*) FILTER (lang = 'es') AS es,
        |  count(*) FILTER (lang = 'fr') AS fr
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "q02_select_cast" ->
      """SELECT c_custkey, c_name AS name, c_mktsegment AS segment,
        |  CAST(trunc(c_acctbal) AS INTEGER) AS acctbal_int,
        |  CAST(CAST(trunc(c_acctbal) AS INTEGER) AS DOUBLE) AS bal_double
        |FROM customer
        |ORDER BY c_custkey
        |LIMIT 100""".stripMargin,
    "q04_null_cleaning" ->
      """WITH t AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
        |              ELSE c_mktsegment END AS seg_or_null,
        |         CASE WHEN c_acctbal < 0 THEN NULL
        |              ELSE c_acctbal END AS bal_or_null
        |  FROM customer)
        |SELECT seg_or_null, count(*) AS n, round(sum(bal_or_null), 2) AS bal_sum
        |FROM t
        |WHERE seg_or_null IS NOT NULL AND bal_or_null IS NOT NULL
        |  AND length(seg_or_null) > 0
        |GROUP BY seg_or_null
        |ORDER BY seg_or_null""".stripMargin,
    "q07_string_funcs" ->
      """SELECT doc_id,
        |  lang || ' [SEP] ' || source AS combined,
        |  concat_ws(' ', trim(lang), trim(source)) AS composed,
        |  length(text) AS text_len,
        |  CAST(doc_id % 20 AS INTEGER) AS grp,
        |  lang = 'en' AS is_en
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q08_label_map" ->
      """SELECT CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1
        |            WHEN 'es' THEN 2 WHEN 'de' THEN 3 ELSE -1 END AS lang_id,
        |  count(*) AS n
        |FROM documents
        |GROUP BY 1
        |ORDER BY lang_id""".stripMargin,
    "q09_events_by_type" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q10_describe_stats" ->
      """SELECT count(*) AS n,
        |  round(avg(n_chars), 4) AS mean_chars,
        |  round(stddev_samp(n_chars), 4) AS std_chars,
        |  min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM documents""".stripMargin,
    "q14_confusion_matrix" ->
      """SELECT lang AS label,
        |  CASE WHEN n_chars % 5 = 0 THEN 'en' ELSE lang END AS prediction,
        |  count(*) AS n
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY label, prediction""".stripMargin,
    "q15_histogram" ->
      """SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bin, count(*) AS n
        |FROM documents
        |GROUP BY bin
        |ORDER BY bin""".stripMargin,
    "q21_events_hourly" ->
      // DuckDB divides DECIMALs in DOUBLE, so the exact half-up mean is
      // integer arithmetic on the sum in millionths
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST((CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS HUGEINT)
        |        * 2 + 100 * count(*)) // (200 * count(*)) AS DOUBLE)
        |    / 10000 AS value_avg
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "q22_props_extract" ->
      """SELECT event_type,
        |  round(avg(CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)), 4) AS k_avg,
        |  max(CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)) AS k_max
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
  )
}
