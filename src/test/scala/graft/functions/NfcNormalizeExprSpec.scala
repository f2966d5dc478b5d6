package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NfcNormalizeExprSpec extends SparkSpec {

  // explicit escapes: decomposed = base letter + combining mark
  private val cafeDecomposed  = "cafe\u0301"   // e + U+0301
  private val cafePrecomposed = "caf\u00E9"    // é
  private val angstromDecomposed = "A\u030Angstro\u0308m"
  private val angstromPrecomposed = "\u00C5ngstr\u00F6m"

  test("registered via extensions; recomposes combining sequences") {
    import spark.implicits._
    Seq(cafeDecomposed, cafePrecomposed, angstromDecomposed, "plain ascii")
      .toDF("s").createOrReplaceTempView("nfc_in")
    val out = spark.sql(
      "SELECT nfc_normalize(s), length(nfc_normalize(s)), length(s) FROM nfc_in")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(out(0)._1 == cafePrecomposed)
    assert(out(0)._2 == 4 && out(0)._3 == 5) // e + U+0301 → é
    assert(out(1)._1 == cafePrecomposed && out(1)._2 == 4) // already NFC
    assert(out(2)._1 == angstromPrecomposed)
    assert(out(3)._1 == "plain ascii")
  }

  test("idempotent and null-safe") {
    import spark.implicits._
    val df = Seq(Some(cafeDecomposed + cafeDecomposed), None).toDF("s")
    val once  = df.selectExpr("nfc_normalize(s) AS n")
    val twice = once.selectExpr("nfc_normalize(n) AS n")
    val a = once.collect().map(r => Option(r.getString(0)))
    val b = twice.collect().map(r => Option(r.getString(0)))
    assert(a.toSeq == b.toSeq)
    assert(a(1).isEmpty)
    assert(a(0).contains(cafePrecomposed + cafePrecomposed))
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq(s"$angstromDecomposed mixed $cafeDecomposed end").toDF("s")
    val fromCodegen = df.selectExpr("nfc_normalize(s)").head().getString(0)
    val interpreted = graft.Sessions.withConf(df,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      _.selectExpr("nfc_normalize(s)").head().getString(0)
    }
    assert(fromCodegen == interpreted)
    assert(interpreted == s"$angstromPrecomposed mixed $cafePrecomposed end")
  }
}
