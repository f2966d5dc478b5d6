package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
  CatalogStatistics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Publishes engine-collected ANALYZE statistics into the session
  * catalog so Catalyst's cost-based optimizer CONSUMES them — the
  * missing half of the statistics story: q277 collects exactly the
  * rows a CBO reads (row count, null count, NDV, min/max per column)
  * and q263/q273 estimate join cardinalities, but none of it changed a
  * plan until this component. With stats published and
  * `spark.sql.cbo.enabled` on, `FilterEstimation` turns a range
  * predicate plus column min/max into a row-count estimate, the
  * filtered dimension's size drops below the broadcast threshold at
  * COMPILE time, and the join plans as a broadcast — where the
  * stats-blind plan sort-merges.
  *
  * Why this matters beside AQE at 100 TB: AQE can only convert a
  * sort-merge join to broadcast AFTER the build side's shuffle map
  * stage has run (it decides from observed sizes), so the corpus-side
  * shuffle write is already paid. A CBO decision from published stats
  * skips that map stage entirely — the same class of win the reference
  * chased by hand-tuning `spark.sql.shuffle.partitions` per script
  * (`qqp_test.py:19`, `qnli_test.py:57`), made automatic.
  *
  * Collection shape: ONE partial-agg scan per table computes every
  * requested column's statistics together (count / nullCount / NDV /
  * min / max are all mergeable sufficient statistics), not one scan
  * per column — at 100 TB the collector costs a single pass.
  */
object StatsCatalog {

  /** Register (once per session) an external catalog table over the
    * given parquet file — CBO reads statistics from the CATALOG, so
    * path-based reads can't carry them; this is the named handle the
    * stats hang off. Returns the catalog name.
    */
  def ensureTable(spark: SparkSession, dir: String,
                  table: String): String = {
    val name =
      s"graft_cbo_${table}__" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!spark.catalog.tableExists(name))
      spark.sql(s"CREATE TABLE $name USING parquet " +
        s"LOCATION '$dir/$table.parquet'")
    name
  }

  /** Register (once per session) the EPOCH-DAY TWIN of a table: the
    * parquet data CTAS'd with each listed NTZ timestamp column joined
    * by a `{col}_day` BIGINT twin (`datediff(col, DATE '1970-01-01')`)
    * — the workaround for Spark 4.1.2's `FilterEstimation` having no
    * TimestampNTZType branch (it MatchErrors on ANY stats-bearing NTZ
    * column under a range predicate, so [[publish]] must exclude them
    * and date filters estimate at default selectivity). Range
    * predicates rewritten onto the day twin estimate from real
    * min/max. Costs one CTAS copy of the table; at 100 TB you would
    * instead write the day column at ingest (it is derivable,
    * deterministic, and 8 bytes).
    */
  def ensureDayTable(spark: SparkSession, dir: String, table: String,
                     tsCols: Seq[String]): String = {
    val name =
      s"graft_cbo_${table}_day__" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!spark.catalog.tableExists(name)) {
      // the catalog is per-JVM but the managed CTAS location persists:
      // a dir left by a previous session is stale (content is
      // derivable + deterministic) — clear it so the CTAS can land
      val loc = new Path(
        spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
          "/" + name.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      val twins = tsCols.map(c =>
        s"CAST(datediff($c, DATE '1970-01-01') AS BIGINT) AS ${c}_day")
        .mkString(", ")
      spark.sql(s"CREATE TABLE $name USING parquet AS " +
        s"SELECT *, $twins FROM parquet.`$dir/$table.parquet`")
    }
    name
  }

  /** Collect and publish catalog statistics for `cols` of `name` in
    * one scan: table row count and byte size, plus per-column NDV,
    * null count, and min/max (min/max for orderable non-string types;
    * strings keep NDV/nulls only, matching what Spark's own ANALYZE
    * stores). Min/max values come back from the collector as EXTERNAL
    * JVM objects whose class depends on session confs
    * (`java.sql.Timestamp` or `java.time.Instant` under
    * `spark.sql.datetime.java8API.enabled`, `java.sql.Date` /
    * `LocalDate`, `java.math.BigDecimal`) — they are normalized to
    * Catalyst-internal form (micros / days / Decimal) through
    * `CatalystTypeConverters` before the catalog's external-string
    * codec, which expects internal values (StatsCatalogSpec pins the
    * java8API leg).
    */
  def publish(spark: SparkSession, name: String,
              cols: Seq[String]): Unit = {
    val df = spark.table(name)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // TIMESTAMP_NTZ columns are excluded wholesale: Spark 4.1.2's
    // FilterEstimation.evaluateBinary has no TimestampNTZType branch
    // and MatchErrors the moment ANY column statistic (even NDV-only)
    // meets a range predicate on such a column — and parquet written
    // without UTC adjustment (every testdata `ts`/`*date`) loads as
    // NTZ. Their filters fall back to default selectivity; the
    // planner still gets row counts, join-key NDVs, and the numeric
    // columns' min/max. (CboAnchorsSpec pins the non-crash.)
    val cols0 = cols.filter(c =>
      fields(c) != org.apache.spark.sql.types.TimestampNTZType)
    val aggs = cols0.flatMap { c =>
      Seq(count_distinct(col(c)).as(s"__ndv_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nul_$c"),
          min(col(c)).as(s"__min_$c"),
          max(col(c)).as(s"__max_$c"))
    }
    val r = df.agg(count(lit(1)).as("__n"), aggs: _*).head()
    val colStats = cols0.map { c =>
      val dt = fields(c)
      def ext(v: Any): Option[String] = (Option(v), dt) match {
        case (None, _) | (_, StringType) => None
        case (Some(x), _) =>
          Some(CatalogColumnStat.toExternalString(
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToCatalyst(x), c, dt))
      }
      val len = dt.defaultSize.toLong
      c -> CatalogColumnStat(
        distinctCount = Some(BigInt(r.getAs[Long](s"__ndv_$c"))),
        min = ext(r.getAs[Any](s"__min_$c")),
        max = ext(r.getAs[Any](s"__max_$c")),
        nullCount = Some(BigInt(r.getAs[Long](s"__nul_$c"))),
        avgLen = Some(len), maxLen = Some(len))
    }.toMap
    spark.sessionState.catalog.alterTableStats(
      TableIdentifier(name),
      Some(CatalogStatistics(BigInt(tableBytes(spark, name)),
                             Some(BigInt(r.getAs[Long]("__n"))),
                             colStats)))
    // drop the cached relation so the next resolution re-reads stats
    spark.catalog.refreshTable(name)
  }

  /** Attach an engine-built equi-height histogram to an
    * already-published column statistic — the consumer hookup for the
    * q281 experiment: NDV+min/max estimation assumes uniform
    * frequency (q263 quantifies how badly that fails on a skewed
    * column); with a histogram in the catalog, Catalyst's
    * `FilterEstimation` reads per-bin bounds instead and a range
    * predicate over a long-tailed column estimates from the bins that
    * actually overlap it. `bins` are (lo, hi, ndv) in the column's
    * native units; `height` is rows per bin (equi-height contract).
    */
  def publishHistogram(spark: SparkSession, name: String,
                       colName: String,
                       bins: Seq[(Double, Double, Long)],
                       height: Double): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Histogram,
      HistogramBin}
    val ident = TableIdentifier(name)
    val stats = spark.sessionState.catalog.getTableMetadata(ident)
      .stats.getOrElse(throw new IllegalArgumentException(
        s"publish basic stats for $name before the histogram"))
    val cs = stats.colStats.getOrElse(colName,
      throw new IllegalArgumentException(
        s"no published column stats for $name.$colName"))
    val hist = Histogram(height,
      bins.map { case (lo, hi, ndv) => HistogramBin(lo, hi, ndv) }
        .toArray)
    spark.sessionState.catalog.alterTableStats(ident,
      Some(stats.copy(colStats = stats.colStats +
        (colName -> cs.copy(histogram = Some(hist))))))
    spark.catalog.refreshTable(name)
  }

  /** Remove published statistics (the stats-absent control leg). */
  def clear(spark: SparkSession, name: String): Unit = {
    spark.sessionState.catalog.alterTableStats(TableIdentifier(name),
                                               None)
    spark.catalog.refreshTable(name)
  }

  /** On-disk bytes of the table's location — the sizeInBytes a
    * stats-blind plan would also see for the unfiltered scan.
    */
  def tableBytes(spark: SparkSession, name: String): Long = {
    val loc = new Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name)).location)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(loc).getLength
  }
}
