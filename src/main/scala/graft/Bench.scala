package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, max, sum}

import graft.tools.{CboAnchors, Probe}

/** Diagnostic main: times the headline queries (SparkEntry.benchQueries)
  * on SPARK_GRAFT_SF_DIR and prints ONE JSON line, the contract line:
  * `metric`, `value` (the sum of the queries' best passes, in seconds),
  * `unit`, `calibration`, `cbo`, `queries` (query → seconds) and `sf`.
  *
  * The run first sweeps the warehouse's dead estates
  * ([[graft.llm.IndexStore.vacuum]]; SPARK_GRAFT_BENCH_NOVACUUM=1 skips
  * it), then times every query under the operating optimizer regime
  * ([[CboAnchors.operatingRegime]]) through [[Probe.cost]]: one warm-up
  * pass right before [[Probe.TimedPasses]] timed ones, the fastest
  * reported. `Probe cost <sfDir> q…` is the subset tool: same regime,
  * same loop. A query whose warm-up or any timed pass throws is printed
  * as `[bench] <q> failed: …` and left out of `queries` and `value`.
  *
  * bench_out.json holds the full line: the contract fields plus each
  * query's `spread` (slowest timed pass over the fastest), `ok` flag and
  * `layers` row (Probe's cost columns of the best pass).
  */
object Bench {

  /** Host-speed calibration: a fixed, seeded, CPU-bound in-memory
    * aggregation (no IO, no warehouse, no shuffle-file reuse), timed by
    * [[Probe.best]] like the queries. The run probes once, after the
    * suite, and publishes that as `"calibration"`: a probe before the
    * suite reads a cold JVM (25–40% above the post-suite probe on the
    * same host minutes apart), not the host.
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    // the hash is folded mod 1e6 BEFORE aggregating: 50M raw xxhash64
    // longs would overflow an ANSI sum
    def pass(): Unit = spark.range(0L, 50000000L, 1L, 32)
      .selectExpr("id % 9973 AS k", "pmod(xxhash64(id), 1000000) AS h")
      .groupBy("k")
      .agg(sum("h"), avg("h"), max("h"))
      .write.format("noop").mode("overwrite").save()
    Probe.best(() => Probe.seconds(pass()))(identity)._1
  }

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Times `names` on `spark`, then one `calibrate` probe, and
    * returns the contract line and the full bench_out.json line.
    */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         names: Seq[String],
                         calibrate: SparkSession => Double)
      : (String, String) = {
    val results = names.map { name =>
      name -> (try Some(Probe.cost(spark, sfDir, name))
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name failed: ${e.getMessage}")
                 None
               })
    }
    val cal = calibrate(spark)
    System.err.println(f"[bench] calibration: $cal%.3f s")

    val costs = results.collect { case (name, Some(c)) => name -> c }
    val total = costs.map(_._2.total).sum
    val queries = obj(costs.map { case (n, c) => n -> f"${c.total}%.4f" })
    val spread = obj(costs.map { case (n, c) => n -> f"${c.spread}%.3f" })
    val ok = obj(results.map { case (n, c) => n -> c.isDefined.toString })
    val layers = obj(costs.map { case (n, c) =>
      n -> obj(Probe.Cost.columns.zip(c.row)) })
    // stdout carries the compact contract line only: a tail capture
    // truncated the full line once the per-query maps pushed it past
    // ~20 KB, so those maps live in the file alone
    val contract = s"""{"metric":"total","value":$total,"unit":"sec","calibration":${f"$cal%.4f"},"cbo":true,"queries":$queries,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","calibration":${f"$cal%.4f"},"cbo":true,"queries":$queries,"spread":$spread,"ok":$ok,"layers":$layers,"sf":"$sfDir"}"""
    (contract, full)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parent = Sessions.local(cpus, "graft-bench")

    // Dead estates of earlier sessions inflate the persisted-index
    // queries with listing work; everything the suite needs is rebuilt
    // (memoized per JVM by SavedOnce), so the sweep keeps nothing. It
    // holds the warehouse lock: a run that shares its warehouse with
    // another session sets SPARK_GRAFT_BENCH_NOVACUUM=1.
    if (!sys.env.get("SPARK_GRAFT_BENCH_NOVACUUM").exists(_ == "1")) {
      val rep = graft.llm.IndexStore.vacuum(parent)
      System.err.println(s"[bench] ${rep.summary}")
    }

    CboAnchors.operatingRegime(parent, sfDir) { spark =>
      val (contract, full) =
        run(spark, sfDir, SparkEntry.benchQueries, calibrate)
      println(contract)
      try Files.writeString(Paths.get("bench_out.json"), full)
      catch { case _: Throwable => () }
    }
    parent.stop()
  }
}
