package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Bucketed tables for co-located joins — the repeated-join answer at
  * 100 TB: pay one clustered write, then every equi-join on the bucket key
  * runs shuffle-free (both sides pre-hashed into the same bucket layout,
  * and sortBy makes it merge-ready without a sort step).
  *
  * [[bucketedWriter]] is graft's one path to a bucketed write; the
  * persisted indexes (`IndexStore`) publish through it too.
  *
  * The synthetic testdata is plain parquet (no metastore tables), so this
  * is exposed as a utility + spec rather than a Verify query: BucketingSpec
  * asserts the join plan contains NO shuffle Exchange over bucketed tables
  * vs two Exchanges over the plain ones.
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    bucketedWriter(df, buckets, Seq(key))
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** The writer of `df` bucketed and bucket-sorted by `keys` into `n`
    * buckets, its rows first clustered by `keys` into [[writeTasks]]
    * tasks. A bucketed write emits one file per (task, bucket) pair, so
    * unclustered rows write up to partitions × `n` files; clustered into
    * a divisor of `n`, every bucket's rows sit in one task and the write
    * emits exactly one file per non-empty bucket. See
    * `IndexStore.publishTable` for the measured costs behind the width.
    */
  def bucketedWriter(df: DataFrame, n: Int,
                     keys: Seq[String]): DataFrameWriter[Row] =
    df.repartition(writeTasks(df.sparkSession, n), keys.map(df.apply): _*)
      .write
      .bucketBy(n, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)

  /** Tasks of an `n`-bucket write: the largest divisor of `n` that is at
    * most the session's `spark.sql.shuffle.partitions`.
    */
  private def writeTasks(spark: SparkSession, n: Int): Int = {
    val width = spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    (math.min(n, width) to 1 by -1).find(n % _ == 0).getOrElse(1)
  }

  /** Equi-join two same-bucketed tables on the bucket key. */
  def cocolocatedJoin(spark: SparkSession, left: String, right: String,
                      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
