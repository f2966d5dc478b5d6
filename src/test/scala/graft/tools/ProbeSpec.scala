package graft.tools

import graft.{SparkEntry, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ProbeSpec extends SparkSpec {

  /** Row count plus the sum of per-row hashes: equal for equal row
    * multisets, whatever the order. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0),
     Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  test("scale n=1 reproduces the source dir: q34_exact_dedup digest " +
       "unchanged") {
    assumeData(sf0001)
    val dst = tmpDir("probe_x1")
    Probe.replicate(spark, sf0001, dst, 1)
    val q = SparkEntry.queries("q34_exact_dedup")
    assert(digest(q(spark, dst)) == digest(q(spark, sf0001)))
  }

  test("scale n=5 writes 5× the documents; replica 4 is an exact " +
       "duplicate of replica 0 and replica 1 is a variant") {
    assumeData(sf0001)
    val dst = tmpDir("probe_x5")
    Probe.replicate(spark, sf0001, dst, 5)
    val src = Tables.documents(spark, sf0001)
    val docs = Tables.documents(spark, dst)
    assert(docs.count() == 5 * src.count())
    def replica(i: Int) = docs
      .filter(col("doc_id") >= i * 10000000L &&
              col("doc_id") < (i + 1) * 10000000L)
      .select((col("doc_id") - i * 10000000L).as("doc_id"),
              col("text").as(s"text$i"))
    val paired = replica(0).join(replica(4), "doc_id")
      .join(replica(1), "doc_id")
    assert(paired.count() == src.count())
    assert(paired.filter(col("text4") =!= col("text0")).isEmpty)
    assert(paired.filter(
      col("text1") =!= concat(col("text0"), lit(" v1"))).isEmpty)
    assert(Tables.events(spark, dst).count() ==
             5 * Tables.events(spark, sf0001).count())
  }

  test("cost attributes every q35_minhash_dedup job to a graft call site") {
    assumeData(sf0001)
    val r = Probe.cost(spark, sf0001, "q35_minhash_dedup")
    assert(r.jobs > 0 && r.stages > 0 && r.tasks > 0)
    assert(r.sites.map(_._2._1).sum == r.jobs,
           s"every job lands in one site: ${r.sites}")
    assert(r.sites.forall(_._1.startsWith("graft.")),
           s"jobs without a graft frame: ${r.sites}")
  }
}
