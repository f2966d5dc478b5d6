package graft.functions

import graft.SparkSpec
import graft.llm.Dedup
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the portable hash family to its cross-engine contract: the native
  * kernels must equal the Spark-SQL formulations that DuckDB replays
  * (md5-prefix parse, modular permutation mins, fold-mod band buckets).
  */
class PortableHashSpec extends SparkSpec {

  test("hash60 equals conv(substring(md5(s),1,15),16,10)") {
    import spark.implicits._
    val samples = Seq("", "a", "abc", "hello world", "ünïcødé ✓",
                      "the quick brown fox", "\ttabs and  spaces\n")
    val df = samples.toDF("s")
    val sql = df.select(
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val native = samples.map(s => PortableHash.hash60(UTF8String.fromString(s)))
    assert(native == sql)
    // spot-pin one value so a change in EITHER side trips the test:
    // md5('abc') = 900150983cd24fb0..., first 15 hex = 0x900150983cd24fb
    assert(PortableHash.hash60(UTF8String.fromString("abc")) ==
           java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("perm constants are index-stable and in range") {
    val (a32, b32) = PortableHash.perms(32)
    val (a64, b64) = PortableHash.perms(64)
    assert(a64.take(32).toSeq == a32.toSeq)
    assert(b64.take(32).toSeq == b32.toSeq)
    val p = PortableHash.P
    assert(a64.forall(x => x >= 1 && x < p))
    assert(b64.forall(x => x >= 0 && x < p))
    assert(a64.distinct.length == 64) // no degenerate repeats from the stream
  }

  test("PermMinSigExpr equals the HOF mod-arithmetic formulation") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import spark.implicits._
    val n       = 16
    val (pa, pb) = PortableHash.perms(n)
    val p        = PortableHash.P
    val df = Seq(
      Seq(1L, 999999999999L, 0L, PortableHash.P, Long.MaxValue / 3),
      Seq(42L),
      Seq(7L, 7L, 8L))
      .toDF("h")
    val native = df.select(ColumnBridge.column(
      PermMinSigExpr(ColumnBridge.expression(col("h")), n)))
      .collect().map(_.getSeq[Long](0)).toSeq
    val hof = df.select(array((0 until n).map { i =>
      array_min(transform(col("h"), x => (lit(pa(i)) * (x % p) + pb(i)) % p))
    }: _*)).collect().map(_.getSeq[Long](0)).toSeq
    assert(native == hof)
  }

  test("Md5Prefix60Expr hashes per element, null-safe, SQL-callable") {
    import spark.implicits._
    Seq(Seq("abc", "", "xyz")).toDF("a")
      .createOrReplaceTempView("md5p_in")
    val viaSql = spark.sql("SELECT md5prefix60(a) FROM md5p_in")
      .head().getSeq[Long](0)
    val expected = Seq("abc", "", "xyz")
      .map(s => PortableHash.hash60(UTF8String.fromString(s)))
    assert(viaSql == expected)
    // null element maps to null (md5(NULL) semantics in both engines)
    val withNull = spark.sql(
      "SELECT md5prefix60(array('abc', CAST(NULL AS STRING)))").head().getSeq[Any](0)
    assert(withNull.head != null && withNull(1) == null)
  }

  test("portable minhash finds planted near-dups, misses unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                      // near-dup of 1
      (3L, "completely different content about spark catalyst optimizers"),
      (4L, base.replace("quick", "swift")),      // near-dup of 1
      (5L, "another unrelated document mentioning minhash and lsh theory"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashPortable(docs, "doc_id", "text",
                                    k = 3, numHashes = 32, bands = 8,
                                    threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(4L) == 1L)
    assert(out(3L) == 3L && out(5L) == 5L)
  }

  test("SimHashVoteExpr equals the per-bit HOF majority formulation") {
    import spark.implicits._
    val df = Seq(
      Seq(0xF0F0L, 0xFF00L, 0x0F0FL),
      Seq(1L),
      Seq.empty[Long],
      (1L to 17L).toSeq)
      .toDF("h")
    val native = df.selectExpr("simhash_vote(h, 60)")
      .collect().map(_.getLong(0)).toSeq
    // the HOF vote formulation (+1/-1 per element, bit set iff
    // vote > 0) — identical to strict majority 2*set > n
    val votes = aggregate(
      col("h"),
      transform(sequence(lit(0), lit(59)), _ => lit(0)),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)),
        (a, bit) => a + when(getbit(h, bit) === 1, 1).otherwise(-1)))
    val assembled = (0 until 60)
      .map(i => when(element_at(col("v"), i + 1) > 0, lit(1L << i))
        .otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val hof = df.withColumn("v", votes).select(assembled)
      .collect().map(_.getLong(0)).toSeq
    assert(native == hof)
    // empty input → 0
    assert(native(2) == 0L)
  }

  test("randomized equivalence: native kernels == SQL formulations on arbitrary input") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // strings with unicode, whitespace, empties; arrays of varied length
    val str = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.const(""),
      Gen.const("ünïcødé ✓ 中文"),
      Gen.listOfN(5, Gen.choose(32.toChar, 126.toChar)).map(_.mkString))
    val arr = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, str))
    (1L to 5L).foreach { seed =>
      val rows = Gen.listOfN(30, arr)(Gen.Parameters.default, Seed(seed))
        .getOrElse(fail("gen failed"))
      val df = rows.toDF("a")
      // md5prefix60 vs the conv/substring SQL twin
      val nativeH = df.selectExpr("md5prefix60(a)")
        .collect().map(_.getSeq[Long](0)).toSeq
      val sqlH = df.select(
        transform(col("a"),
                  s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))
        .collect().map(_.getSeq[Long](0)).toSeq
      assert(nativeH == sqlH, s"md5prefix60 diverged at seed $seed")
      // perm signature over those hashes vs HOF twin
      val n = 8
      val (pa, pb) = PortableHash.perms(n)
      val p = PortableHash.P
      val hdf = df.selectExpr("md5prefix60(a) AS h")
      val nativeS = hdf.selectExpr(s"minhash_perm_signature(h, $n)")
        .collect().map(_.getSeq[Long](0)).toSeq
      val hofS = hdf.select(array((0 until n).map { i =>
        array_min(transform(col("h"), x => (lit(pa(i)) * (x % p) + pb(i)) % p))
      }: _*)).collect().map(_.getSeq[Long](0)).toSeq
      // HOF array_min over an EMPTY array yields null → skip empty rows
      // (kernel uses documented MaxValue sentinels there)
      rows.zipWithIndex.filter(_._1.nonEmpty).foreach { case (_, idx) =>
        assert(nativeS(idx) == hofS(idx), s"permsig diverged at seed $seed row $idx")
      }
      // simhash_vote vs per-bit majority recomputed in Scala
      val nativeV = hdf.selectExpr("simhash_vote(h, 60)")
        .collect().map(_.getLong(0)).toSeq
      val expectV = rows.map { ss =>
        val hs = ss.map(s => PortableHash.hash60(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        (0 until 60).foldLeft(0L) { (acc, b) =>
          val set = hs.count(h => ((h >>> b) & 1L) == 1L)
          if (2 * set > hs.size) acc | (1L << b) else acc
        }
      }
      assert(nativeV == expectV, s"simhash_vote diverged at seed $seed")
    }
  }

  test("portable simhash: near-identical docs land within small Hamming distance") {
    import spark.implicits._
    // simhash majority votes need a realistically sized token set: with
    // few distinct tokens each added token can flip many bit votes
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " extra straggler"),
                   (3L, (1 to 60).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.withSimhashPortable(docs, "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(2L)) <= 3)
    assert(ham(out(1L), out(3L)) > 10)
  }

  test("portable minhash clusters planted boilerplate apart from templates") {
    import spark.implicits._
    val mk = (s: String) => s * 10
    val docs = (0L until 20L).map { i =>
      if (i % 5 == 0) (i, mk("shared boilerplate text block number one "))
      else (i, mk(s"unique doc $i with its own content and number ${i * 37} "))
    }.toDF("doc_id", "text")
    val got = Dedup.minhashPortable(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the 4 boilerplate copies are one cluster; the templated docs share
    // most of their 3-shingles (exact Jaccard 0.71-0.81 pairwise, 0.07
    // against the boilerplate) and close into the other
    val expected = (0L until 20L).map(i => i -> (if (i % 5 == 0) 0L else 1L))
    assert(got == expected.toMap)
  }

  /** `kernel` over one nullable array<bigint> input, evaluated by the
    * generated AND the interpreted projection: asserts the two give the
    * same bytes on every input and returns the generated rows.
    */
  private def bothPaths(kernel: Expression => Expression,
                        inputs: Seq[Seq[java.lang.Long]]): Seq[UnsafeRow] = {
    val e = kernel(BoundReference(0, ArrayType(LongType, containsNull = true),
                                  nullable = true))
    val codegen     = GenerateUnsafeProjection.generate(Seq(e))
    val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
    inputs.map { in =>
      val row = InternalRow(
        if (in == null) null else new GenericArrayData(in.toArray[Any]))
      val c = codegen(row).copy()
      assert(c == interpreted(row).copy(),
             s"codegen and interpreted differ on $in")
      c
    }
  }

  private def longs(xs: java.lang.Long*): Seq[java.lang.Long] = xs

  test("PermMinSigExpr edges: empty → MaxValue sentinels, null elements " +
       "skipped, null array → null, codegen == interpreted") {
    val sig = spark.sql(
      "SELECT minhash_perm_signature(array(1L, 2L, 3L), 16)")
      .head().getSeq[Long](0)
    assert(sig.length == 16)
    assert(sig.distinct.length > 1, "slots should differ across permutations")
    val out = bothPaths(PermMinSigExpr(_, 16), Seq(
      longs(1L, 2L, 3L),
      longs(3L, 1L, 2L),
      longs(1L, null, 3L),
      longs(1L, 3L),
      longs(),
      longs(null, null),
      null,
      longs(4L, 5L, 6L)))
    def slots(i: Int) = out(i).getArray(0).toLongArray().toSeq
    assert(slots(0) == sig, "SQL and expression paths agree")
    assert(slots(1) == slots(0), "min over a set ignores order")
    assert(slots(2) == slots(3), "null elements are skipped")
    assert(slots(4) == Seq.fill(16)(Long.MaxValue),
           "empty input → all-sentinel signature (never null)")
    assert(slots(5) == slots(4), "all-null input → sentinels")
    assert(out(6).isNullAt(0), "null array → null")
    assert(slots(7) != slots(0), "disjoint sets differ")
  }

  test("SimHashVoteExpr edges: empty → 0, null elements skipped, null " +
       "array → null, codegen == interpreted") {
    val out = bothPaths(SimHashVoteExpr(_, 60), Seq(
      longs(0xF0F0L, 0xFF00L, 0x0F0FL),
      longs(0xF0F0L, null, 0xFF00L, 0x0F0FL),
      longs(),
      longs(null),
      null,
      longs(1L)))
    val (x, y, z) = (0xF0F0L, 0xFF00L, 0x0F0FL)
    assert(out(0).getLong(0) == ((x & y) | (x & z) | (y & z)),
           "bitwise strict majority of three")
    assert(out(1).getLong(0) == out(0).getLong(0), "null elements are skipped")
    assert(out(2).getLong(0) == 0L && out(3).getLong(0) == 0L,
           "empty / all-null input → 0")
    assert(out(4).isNullAt(0), "null array → null")
    assert(out(5).getLong(0) == 1L)
  }
}
