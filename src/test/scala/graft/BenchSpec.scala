package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's per-query part on sf0.001, with a stub calibration: the
  * contract line's shape, the artifact's layer rows, and a failed query
  * kept out of the totals.
  */
class BenchSpec extends SparkSpec {

  test("run: contract keys in order; q01 timed with a layer row; a " +
       "failed query is left out of queries and value and is ok:false") {
    assumeData(sf0001)
    val unknown = "q0_not_a_query"
    var probes = 0
    val (contract, full) = Bench.run(spark, sf0001,
      Seq("q01_pricing_summary", unknown), { _ => probes += 1; 0.5 })
    assert(probes == 1)
    val json = new ObjectMapper
    val line = json.readTree(contract)
    assert(line.fieldNames.asScala.toSeq == Seq("metric", "value", "unit",
      "calibration", "cbo", "queries", "sf"))
    assert(line.get("calibration").asDouble == 0.5)

    val queries = line.get("queries")
    assert(queries.fieldNames.asScala.toSeq == Seq("q01_pricing_summary"))
    val q01 = queries.get("q01_pricing_summary").asDouble
    assert(q01 > 0)
    assert(math.abs(line.get("value").asDouble - q01) < 1e-4)

    val file = json.readTree(full)
    assert(file.get("calibration").asDouble == 0.5)
    assert(!file.has("calibration_pre") && !file.has("calibration_post"))
    assert(file.get("ok").get("q01_pricing_summary").asBoolean)
    assert(file.get("ok").has(unknown) && !file.get("ok").get(unknown).asBoolean)
    val row = file.get("layers").get("q01_pricing_summary")
    assert(row.fieldNames.asScala.toSeq == tools.Probe.Cost.columns)
    assert(row.get("jobs").asInt > 0)
    assert(!file.get("layers").has(unknown))
    assert(file.get("spread").get("q01_pricing_summary").asDouble >= 1.0)
  }
}
