package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSON-Lines source/sink — the lingua franca of training-data releases
  * (one JSON object per line, newline-delimited, splittable, usually
  * compressed). Beyond the reference's TSV surface, but a curation
  * pipeline that can't emit/ingest JSONL can't interoperate with anything.
  *
  * Scale notes: like TSV, always pass an explicit schema at scale —
  * inference samples the data and costs an extra pass, and a drifting
  * inferred type (a column that is long in one shard, double in another)
  * silently widens. Compression: prefer zstd via
  * `option("compression", "zstd")` on write — splittable readers come from
  * many files, not one giant stream. Corrupt lines follow the same
  * quarantine pattern as [[Tsv.readTsvPermissive]]: PERMISSIVE mode +
  * `_corrupt_record` keeps the pipeline running over dirty shards and
  * preserves the bad lines for audit.
  */
object Jsonl {

  /** Explicit-schema JSONL reader — the 100 TB-preferred shape. */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Permissive reader: malformed lines land in `_corrupt_record`
    * instead of failing the job — quarantine them with
    * `filter(col("_corrupt_record").isNotNull)`.
    */
  def readJsonlPermissive(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add(StructField("_corrupt_record", StringType, true))
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .json(path)
  }

  /** JSONL sink (one object per line; `compression` e.g. "zstd"). */
  def writeJsonl(df: DataFrame, path: String,
                 compression: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }
}
