package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** SparkEntry.oracleSql (keys passing `keep`) as a JSON object string —
    * the exact artifact the driver's DuckDB compare consumes. */
  private[graft] def oracleJson(keep: String => Boolean = _ => true): String =
    SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** Usage: `Verify <sfDir> <outDir> [query …]`; named queries restrict
    * both the dump and oracle_sql.json to that subset. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    only.filterNot(SparkEntry.queries.contains)
      .foreach(q => System.err.println(s"[verify] unknown query $q"))
    def keep(name: String) = only.isEmpty || only(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Same standing optimizer posture as Bench (round-16): anchor-table
    // statistics published, cbo + joinReorder on — so the round's
    // correctness artifact itself proves every query hash-green UNDER
    // the operating regime, not beside it.
    val parent = Sessions.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    graft.tools.CboAnchors.operatingRegime(parent, sfDir) { spark =>
      SparkEntry.queries.foreach { case (name, fn) =>
        if (keep(name))
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(keep))
    parent.stop()
  }
}
