package graft

import graft.llm.{Dedup, TextAnalysis}
import graft.ml.Cleaning
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5 property-based invariants, swept over ScalaCheck-generated
  * corpora at fixed seeds (deterministic, no scalatest bridge needed).
  */
class PropertyInvariantsSpec extends SparkSpec {

  private val word = Gen.chooseNum(0, 12)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val text = Gen.chooseNum(0, 20)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
  private def sample[A](g: Gen[List[A]], seed: Long): List[A] =
    g(Gen.Parameters.default, Seed(seed)).getOrElse(fail("gen failed"))

  test("cleaning invariants: no nulls survive na.drop + isNotNull chain") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val texts = sample(Gen.listOfN(40, Gen.option(text)), seed)
      val df = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "t")
        .na.drop(Seq("t"))
        .filter(col("t").isNotNull)
      assert(df.filter(col("t").isNull).count() == 0)
    }
  }

  test("concat_ws never yields null on any input combination") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val rows = sample(Gen.listOfN(40,
        Gen.zip(Gen.option(text), Gen.option(text))), seed)
      val df = rows.map { case (a, b) => (a.orNull, b.orNull) }.toDF("a", "b")
      val out = df.select(Cleaning.composeText(col("a"), col("b")).as("c"))
      assert(out.filter(col("c").isNull).count() == 0)
    }
  }

  test("replaceEmptyTokens output arrays are never empty or null") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val rows = sample(Gen.listOfN(40, Gen.option(
        Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, word)))), seed)
      val df = rows.map(r => Tuple1(r.map(_.toSeq).orNull)).toDF("toks")
      val out = df.select(Cleaning.replaceEmptyTokens(col("toks")).as("t"))
      assert(out.filter(col("t").isNull || size(col("t")) === 0).count() == 0)
    }
  }

  test("ngramJaccard is in [0,1] and 1.0 on identical non-trivial texts") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val texts = sample(Gen.listOfN(30, text), seed)
        .filter(_.exists(_.isLetterOrDigit))
      val df = texts.zip(texts.reverse).toDF("a", "b")
      val j = df.select(Dedup.ngramJaccard(col("a"), col("b")).as("j"))
        .collect().map(_.getDouble(0))
      assert(j.forall(v => v >= 0.0 && v <= 1.0))
      val self = texts.map(t => (t, t)).toDF("a", "b")
        .select(Dedup.ngramJaccard(col("a"), col("b")).as("j"))
        .collect().map(_.getDouble(0))
      assert(self.forall(_ == 1.0))
    }
  }

  test("quality score stays within [0,1] on arbitrary text incl. edge cases") {
    import spark.implicits._
    val edge = List("", " ", "\t", "a", "!!!", "  x  ")
    (1L to 3L).foreach { seed =>
      val texts = edge ++ sample(Gen.listOfN(40, text), seed)
      val q = texts.toDF("t")
        .select(TextAnalysis.qualityScore(col("t")).as("q"))
        .na.drop()
        .collect().map(_.getDouble(0))
      assert(q.forall(v => v >= 0.0 && v <= 1.0), q.toSeq)
    }
  }

  test("minhash signature: permutation-invariant, length-stable") {
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val sets = sample(Gen.listOfN(15,
        Gen.chooseNum(1, 10).flatMap(n =>
          Gen.listOfN(n, word.suchThat(_.nonEmpty)))), seed)
      val fwd = sets.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "sh")
      val rev = sets.zipWithIndex.map { case (s, i) => (i.toLong, s.reverse) }
        .toDF("id", "sh")
      def sigs(df: org.apache.spark.sql.DataFrame) = df
        .select(col("id"),
                expr("minhash_perm_signature(md5prefix60(sh), 16)").as("s"))
        .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
      assert(sigs(fwd) == sigs(rev), "min over a set ignores order")
      assert(sigs(fwd).forall(_.length == 16))
    }
  }

  test("int8 quantization preserves cosine within the grid-error bound") {
    import graft.llm.Similarity
    import spark.implicits._
    for (seed <- Seq(11L, 22L, 33L)) {
      val rnd = new scala.util.Random(seed)
      // random pairs incl. correlated ones (v, v+noise) — the regime that
      // matters for dedup thresholds
      val pairs = (0 until 30).map { i =>
        val a = Array.fill(64)(rnd.nextGaussian().toFloat)
        val b =
          if (i % 2 == 0) Array.fill(64)(rnd.nextGaussian().toFloat)
          else a.map(x => x + 0.2f * rnd.nextGaussian().toFloat)
        (i.toLong, a.toSeq, b.toSeq)
      }
      val df = pairs.toDF("id", "a", "b")
      val qa = Similarity.withQuantizedInt8(df, "a", "qa")
      val qb = Similarity.withQuantizedInt8(qa.drop("qscale"), "b", "qb")
      val rows = qb.select(
        Similarity.cosine(col("a"), col("b")).as("cf"),
        Similarity.cosine(col("qa").cast("array<float>"),
                          col("qb").cast("array<float>")).as("ci"))
        .collect()
      rows.foreach { r =>
        val err = math.abs(r.getDouble(0) - r.getDouble(1))
        // per-element grid error ≤ 0.5/127 of max|x| → cosine error well
        // under 0.05 at dim 64; generous cap to stay noise-proof
        assert(err < 0.05, s"int8 cosine drift $err (seed $seed)")
      }
    }
  }

  test("greedy segmentation reconstructs every word under every vocab") {
    import graft.llm.UnigramTrainer
    (1L to 3L).foreach { seed =>
      val words = sample(Gen.listOfN(60, word), seed).filter(_.nonEmpty)
      // vocab = random substrings of the corpus words (plausible pieces)
      val pieces = sample(
        Gen.listOfN(40, Gen.oneOf(
          if (words.isEmpty) List("x") else words)), seed + 100)
        .flatMap { w =>
          if (w.length < 2) Nil
          else {
            val i = (seed % w.length).toInt
            List(w.substring(0, math.max(1, i)), w.takeRight(2))
          }
        }.filter(_.nonEmpty).toSet
      words.foreach { w =>
        val segs = UnigramTrainer.greedySegment(w, pieces, 6)
        assert(segs.mkString("") == w,
               s"'$w' must reconstruct from $segs (seed $seed)")
        assert(segs.forall(_.nonEmpty))
      }
    }
  }

  test("aHash is invariant under PNG re-encode and flips at most one " +
       "block bit under a single-block perturbation") {
    import graft.llm.Multimodal
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val keyed = (0 until 20).map(i => (i.toLong, s"fp$seed-$i", false))
        .toDF("media_id", "fp", "perturb")
      val h1 = Multimodal.imageAHash60(
          Multimodal.syntheticContentImages(keyed))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // re-encode: generate the same images again (fresh PNG bytes)
      val h2 = Multimodal.imageAHash60(
          Multimodal.syntheticContentImages(keyed))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(h1 == h2, s"lossless re-encode must not move any hash")
      val perturbed = Multimodal.imageAHash60(
          Multimodal.syntheticContentImages(
            keyed.withColumn("perturb", lit(true))))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      // saturating ONE 2x2 block moves block 0's bit plus whatever
      // threshold-adjacent bits the global-mean shift (~3%) tips — a
      // handful, where two UNRELATED hashes differ by ~30 of 60 bits.
      // The perceptual property is the gap, not an exact count.
      perturbed.foreach { case (id, h) =>
        val d = java.lang.Long.bitCount(h ^ h1(id))
        assert(d <= 12, s"one-block edit moved $d bits (id $id)")
      }
      val strangers = h1.toSeq.combinations(2).take(30).map {
        case Seq((_, a), (_, b)) => java.lang.Long.bitCount(a ^ b)
      }.toSeq
      assert(strangers.sum.toDouble / strangers.size > 20,
             s"unrelated hashes must sit far apart: $strangers")
    }
  }

  test("vectorQuarantine median/MAD agree with a sort-based local replay") {
    import graft.llm.Similarity
    import spark.implicits._
    (1L to 3L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vecs = (0 until 101).map { i =>
        (i.toLong, Seq.fill(8)((rnd.nextGaussian() * (1 + i % 3)).toFloat))
      }
      val out = Similarity.vectorQuarantine(vecs.toDF("vec_id", "embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val norms = vecs.map { case (_, v) =>
        math.floor(math.sqrt(v.map(x => x.toDouble * x).sum) * 1e4 + 0.5)
          .toLong
      }.sorted
      val med = norms((norms.length + 1) / 2 - 1) // lower median, 1-based
      assert(out.forall(_._3 == med),
             s"median ${out.head._3} != sort-replay $med (seed $seed)")
      val devs = out.map(r => math.abs(r._2 - med)).sorted
      val madExp = devs((devs.length + 1) / 2 - 1)
      assert(out.forall(_._4 == madExp),
             s"MAD ${out.head._4} != sort-replay $madExp (seed $seed)")
    }
  }
}
