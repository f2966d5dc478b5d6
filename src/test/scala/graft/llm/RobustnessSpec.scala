package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Degenerate-input robustness: every dedup/ANN/quality operator must
  * handle empty and single-row inputs without crashing — the shapes that
  * show up constantly in partitioned/filtered production runs (an empty
  * date partition, a single-doc source) and that unit fixtures never hit.
  */
class RobustnessSpec extends SparkSpec {

  private def emptyDocs = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  private def emptyEmb = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  test("dedup family on empty input returns empty, no exceptions") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashPortable(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashCandidatePairsPortable(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(Dedup.simhashCandidatesPortable(emptyDocs, "doc_id", "text")
      .count() == 0)
  }

  test("dedup family on a single row yields one self-cluster") {
    import spark.implicits._
    val one = Seq((7L, "only document here")).toDF("doc_id", "text")
    val exact = Dedup.exact(one, "doc_id", "text").collect()
    assert(exact.length == 1 && exact(0).getLong(1) == 7L &&
           !exact(0).getBoolean(2))
    val mh = Dedup.minhashPortable(one, "doc_id", "text").collect()
    assert(mh.length == 1 && mh(0).getLong(1) == 7L)
  }

  test("similarity family on empty corpus returns empty") {
    import spark.implicits._
    val q = Seq((1L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(emptyEmb, q, k = 5).count() == 0)
    assert(Similarity.lshTopK(emptyEmb, q, k = 5, dim = 4).count() == 0)
    assert(Similarity.lshSimilarityJoin(emptyEmb, emptyEmb, dim = 4,
                                        threshold = 0.5).count() == 0)
  }

  test("clustersFromEdges with empty pairs maps every vertex to itself") {
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = emptyDocs
      .select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))
    val out = Dedup.clustersFromEdges(verts, noPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("quality filters on empty and whitespace-only text") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   \n  \n "), (3L, "ok text"))
      .toDF("doc_id", "text")
    val out = QualityFilters.repetitionProfile(df, "text")
      .select("doc_id", "dup_line_frac", "top_2gram_char_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out(1L) == ((0.0, 0.0)) && out(2L) == ((0.0, 0.0)))
    assert(TextAnalysis.profile(df, "text").count() == 3)
  }

  test("round-5 curation ops on empty and degenerate input") {
    import spark.implicits._
    // gopherStats: empty text → zero stats, keep=false (0 words)
    val deg = Seq((1L, ""), (2L, "   \n\n  ")).toDF("doc_id", "text")
    val gs = QualityFilters.gopherStats(deg, "text")
      .select("doc_id", "n_words", "keep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(gs(1L) == ((0L, false)) && gs(2L) == ((0L, false)))
    assert(QualityFilters.gopherStats(emptyDocs, "text").count() == 0)
    // stratifiedTopN: n larger than stratum size keeps everything
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "s")
    assert(QualityFilters.stratifiedTopN(small, "s", "id", 10).count() == 3)
    assert(QualityFilters.stratifiedTopN(
      small.filter(lit(false)), "s", "id", 10).count() == 0)
    // weightedMix: 0000 threshold keeps nothing; unknown stratum uses default
    assert(QualityFilters.weightedMix(small, "s", "id",
      Map("a" -> "ffff"), "0000").collect().forall(_.getString(1) == "a"))
    // contamination: empty eval set → nothing contaminated, all train rows out
    val train = Seq((1L, "some words here for the test run today ok fine"))
      .toDF("doc_id", "text")
    val rep = Contamination.contaminationReport(
      train, emptyDocs, "doc_id", "text", n = 8).collect()
    assert(rep.length == 1 && !rep(0).getBoolean(2))
    // empty train → empty report
    assert(Contamination.contaminationReport(
      emptyDocs, train, "doc_id", "text", n = 8).count() == 0)
  }

  test("approx quality-threshold budget brackets the exact cumsum subset") {
    // the documented at-scale twin of q73 (QualityFilters.approxTokenBudget):
    // no global cumsum window, just an approxQuantile cut. On the fixed
    // sf0.001 corpus the kept token share must land near the 50% budget.
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf0001)
    val totalToks = docs
      .agg(sum(TextAnalysis.wsTokenCount(col("text")).cast("long")))
      .head().getLong(0)
    val kept = QualityFilters.approxTokenBudget(
      docs, "doc_id", "text", budgetFrac = 0.5)
    val keptToks = kept.agg(sum("toks")).head().getLong(0)
    val share = keptToks.toDouble / totalToks
    assert(share > 0.3 && share < 0.7,
           s"approx budget share $share strayed from the 0.5 target")
  }

  test("incremental dedup classifies corpus-dups, batch-dups, and novel docs") {
    import spark.implicits._
    val corpus = Seq((100L, "seen before text"), (101L, "other old text"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before text"),   // corpus dup
      (2L, "brand new content"),  // novel
      (3L, "brand new content"),  // batch dup of 2
      (4L, "SEEN   BEFORE TEXT")) // corpus dup via normalization
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(
      batch, Dedup.fingerprintIndex(corpus, "doc_id", "text"),
      "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((true, false, 1L)))
    assert(out(2L) == ((false, false, 2L)))
    assert(out(3L) == ((false, true, 2L)))
    assert(out(4L) == ((true, true, 1L))) // same normalized text as doc 1
  }

  test("late round-5 ops on empty and degenerate input") {
    import spark.implicits._
    // incremental minhash: empty batch → empty; empty index → no matches
    val docs = Seq((1L, "some real document text for the robustness run"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndexPortable(docs, "doc_id", "text")
    assert(Dedup.minhashIncrementalPortable(
      emptyDocs, idx, "doc_id", "text").count() == 0)
    val emptyIdx = Dedup.minhashIndexPortable(emptyDocs, "doc_id", "text")
    val vsEmpty = Dedup.minhashIncrementalPortable(
      docs, emptyIdx, "doc_id", "text").collect()
    assert(vsEmpty.length == 1 && !vsEmpty(0).getBoolean(1))
    // lineDedup: empty input → empty; whitespace-only doc survives intact
    assert(Dedup.lineDedup(emptyDocs, "doc_id", "text").count() == 0)
    val ws = Dedup.lineDedup(Seq((1L, "  \n  ")).toDF("doc_id", "text"),
                             "doc_id", "text").head()
    assert(ws.getLong(2) == 2L && ws.getLong(3) == 0L,
           "blank lines are never struck")
    // int8 ANN on empty corpus/queries
    val emptyVecs = spark.emptyDataFrame
      .withColumn("vec_id", lit(0L)).withColumn("embedding",
        array(lit(0.0f))).limit(0)
    assert(Similarity.bruteForceTopKInt8(
      emptyVecs, emptyVecs, k = 3).count() == 0)
    // sharding an empty frame
    assert(Sharding.assignShards(emptyDocs, "doc_id", "text", 4).count() == 0)
    // calibration on empty predictions
    assert(graft.metrics.BinaryMetrics.calibrationCurve(
      emptyDocs.withColumn("score", lit(0.5))
        .withColumn("label", lit(1.0))).count() == 0)
  }

  test("round-6 ops on empty and degenerate input: LM fit/score, " +
       "importance weights, funnel lineage marks") {
    import spark.implicits._
    // empty-corpus model: V clamps to 1, so scoring yields the uniform
    // floor ln(1/1)=0 … ln(k/(0+k·1))=0 — finite, never NaN/∞
    val emptyModel = NgramLm.fit(emptyDocs, "text", n = 3)
    assert(emptyModel.vocabSize == 1L)
    val scored = NgramLm.scoreDocs(
      Seq((1L, "abc")).toDF("doc_id", "text"), emptyModel,
      "doc_id", "text").collect()
    assert(scored.length == 1)
    assert(!scored(0).getDouble(2).isNaN && !scored(0).getDouble(3).isNaN)
    // scoring an empty candidate set is empty, not an error
    val m = NgramLm.fit(Seq((1L, "some reference text here"))
                          .toDF("doc_id", "text"), "text", n = 3)
    assert(NgramLm.scoreDocs(emptyDocs, m, "doc_id", "text").count() == 0)
    assert(NgramLm.importanceWeights(emptyDocs, m, m, "doc_id", "text")
      .count() == 0)
    // identical target/raw models → importance exactly 0
    val w = NgramLm.importanceWeights(
      Seq((5L, "some reference words")).toDF("doc_id", "text"),
      m, m, "doc_id", "text").head()
    assert(w.getDouble(4) == 0.0)
  }

  test("CountMinSketch estimates bracket the exact heavy-hitter counts") {
    import graft.sources.Tables
    val toks = Tables.documents(spark, sf0001)
      .select(explode(Dedup.wordTokens(col("text"))).as("token"))
    val total = toks.count()
    val exact = toks.groupBy("token").count()
      .orderBy(desc("count"), asc("token")).limit(10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val cms = toks.stat.countMinSketch("token", eps = 0.001,
                                       confidence = 0.99, seed = 42)
    exact.foreach { case (tok, n) =>
      val est = cms.estimateCount(tok)
      // CMS never under-counts; over-count bounded by eps × total stream
      assert(est >= n, s"$tok: est $est < exact $n")
      assert(est <= n + (0.001 * total).toLong + 1,
             s"$tok: est $est too far above exact $n")
    }
  }

  test("late round-6 ops on empty and degenerate input: splits, portable " +
       "CMS, gram novelty, BPE, digest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cluster-aware split of an empty mapping
    val emptyClusters = emptyDocs
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    assert(Splits.clusterAwareSplit(
      emptyClusters, Seq("train" -> 0.9, "val" -> 0.1)).count() == 0)
    // CMS over an empty item stream: empty sketch; estimates coalesce 0
    val sk = Sketches.cmsSketch(
      emptyDocs.select(col("text").as("item")), "item")
    assert(sk.count() == 0)
    val est = Sketches.cmsEstimate(sk, Seq("x").toDF("item"), "item")
      .head()
    assert(est.getLong(1) == 0L)
    // gram novelty: empty corpus → empty; single doc → all grams novel
    assert(Contamination.gramNovelty(emptyDocs, "doc_id", "text")
      .count() == 0)
    val one = Seq((1L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val nv = Contamination.gramNovelty(one, "doc_id", "text").head()
    assert(nv.getAs[Long]("novelty_ppm") == 1000000L)
    // BPE on empty corpus: no merges; tokenStream of empty text is empty
    assert(BpeTrainer.fitMerges(
      BpeTrainer.wordCounts(emptyDocs, "text"), 5).isEmpty)
    val ts = Seq((1L, "")).toDF("doc_id", "text")
      .select(BpeTrainer.tokenStream(col("text"), Seq(("a", "b"))))
      .head().getString(0)
    assert(ts == "")
    // corpus digest of an empty corpus: no buckets, just the root row
    val dg = Versioning.corpusDigest(emptyDocs, "doc_id", "text")
      .collect()
    assert(dg.count(_.getInt(0) == 1) == 1)
  }

  test("round-7 ops on empty and degenerate input") {
    import spark.implicits._
    // chunking: empty corpus → empty; whitespace-only text still yields
    // exactly one (empty-token) chunk, never zero or an exception
    assert(TextPacking.chunkDocuments(emptyDocs, "doc_id", "text")
      .count() == 0)
    val ws = Seq((1L, "   ")).toDF("doc_id", "text")
    val wsChunks = TextPacking.chunkDocuments(ws, "doc_id", "text",
                                              chunkTokens = 4, overlap = 1)
      .collect()
    assert(wsChunks.length == 1 && wsChunks(0).getInt(1) == 0)
    // temperature sampling: empty input → empty report; a single
    // stratum always degenerates to the plain budget rate
    assert(QualityFilters.temperatureSample(
      emptyDocs.withColumnRenamed("text", "source"),
      "source", "doc_id", 0.5).count() == 0)
    val oneSrc = (0 until 64).map(i => (i.toLong, "only"))
      .toDF("doc_id", "source")
    val t = QualityFilters.temperatureSample(oneSrc, "source", "doc_id",
                                             budgetFrac = 0.25,
                                             temperature = 4)
      .select("thresh_ppm").distinct().collect()
    assert(t.length == 1 && t(0).getLong(0) == 250000L)
    // approx allocators: empty corpus → empty selections, no div-by-zero
    assert(QualityFilters.mixtureTokenBudgetApprox(
      emptyDocs.withColumn("source", lit("s")),
      "doc_id", "text", "source", 0.5, Map.empty[String, Long])
      .count() == 0)
    // audio decode: empty media table → empty; non-audio rows filtered
    assert(Multimodal.decodeAudio(
      Multimodal.syntheticMedia(emptyDocs)).count() == 0)
    val img = Seq((1L, "image", Array[Byte](1), null.asInstanceOf[Integer],
                   null.asInstanceOf[Integer], 0L))
      .toDF("media_id", "media_type", "content",
            "meta_width", "meta_height", "meta_duration_ms")
    assert(Multimodal.decodeAudio(img).count() == 0)
  }

  test("round-9 ops on empty and degenerate input") {
    import spark.implicits._
    // domain cap: empty -> empty; a single doc per domain always ranks 1
    val capEmpty = emptyDocs.withColumn("source", lit("s"))
      .withColumn("q", lit(0.5))
    assert(QualityFilters.domainCap(capEmpty, "source", "doc_id", "q", 3)
      .count() == 0)
    val one = Seq((1L, "s", 0.5)).toDF("doc_id", "source", "q")
    assert(QualityFilters.domainCap(one, "source", "doc_id", "q", 3)
      .head().getAs[Int]("domain_rank") == 1)
    // c4 line filter: empty corpus, empty text, whitespace-only text
    assert(QualityFilters.c4LineFilter(emptyDocs, "doc_id", "text")
      .count() == 0)
    val degenerate = Seq((1L, ""), (2L, "   \n  \n")).toDF("doc_id", "text")
    val lf = QualityFilters.c4LineFilter(degenerate, "doc_id", "text")
      .orderBy("doc_id").collect()
    lf.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L &&
               r.getDouble(3) == 0.0)
    }
    // blocklist hits on empty token arrays
    val bl = degenerate
      .select(Dedup.wordTokens(col("text")).as("t"))
      .select(TextAnalysis.blocklistHits(col("t")).as("h")).collect()
    bl.foreach(r => assert(r.getInt(0) == 0))
    // span corruption: empty corpus -> empty; empty text yields the
    // single empty token, never an exception
    assert(TextPacking.spanCorrupt(emptyDocs, "doc_id", "text")
      .count() == 0)
    val sc = TextPacking.spanCorrupt(
      Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(sc.getAs[Long]("n_tokens") == 1L)
    // length batching: empty -> empty; single doc lands in batch 0
    val emptyToks = emptyDocs.select(col("doc_id"), lit(1L).as("toks"))
      .filter(lit(false))
    assert(Sharding.lengthBatching(emptyToks, "doc_id", "toks")
      .count() == 0)
    val lb = Sharding.lengthBatching(
      Seq((7L, 100L)).toDF("doc_id", "toks"), "doc_id", "toks").head()
    assert(lb.getAs[Long]("batch_id") == 0L)
    // ann recall: empty queries -> empty report
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    assert(graft.operators.LlmQueries.annRecallFrames(
      emb, emb.filter(lit(false)), k = 5, dim = 64, nBits = 6)
      .count() == 0)
  }

  test("round-10 ops on empty and degenerate input") {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    // semantic decon: EMPTY eval -> every train vector reports clean
    // (null closest/max, 0 hits, false) instead of an empty join
    val clean = Contamination.semanticContamination(
      emb, emptyEmb, threshold = 0.3).collect()
    assert(clean.length == emb.count())
    clean.foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2) && r.getLong(3) == 0L &&
               !r.getBoolean(4))
    }
    // ... and an empty TRAIN side is an empty report
    assert(Contamination.semanticContamination(emptyEmb, emb, 0.3)
      .count() == 0)
    // weighted sample: empty -> empty; a zero weight draws +Inf priority
    // and can never beat a positive-weight row
    val emptyW = emptyDocs.select(col("doc_id"), lit("s").as("s"),
                                  lit(1L).as("w")).filter(lit(false))
    assert(QualityFilters.weightedPrioritySample(
      emptyW, "s", "doc_id", "w", k = 5).count() == 0)
    val zw = Seq((1L, "s", 0L), (2L, "s", 5L)).toDF("doc_id", "s", "w")
    val zwin = QualityFilters.weightedPrioritySample(
      zw, "s", "doc_id", "w", k = 1).collect()
    assert(zwin.length == 1 && zwin.head.getLong(0) == 2L,
           "the zero-weight row must lose the single slot")
    // cell-balanced sample: k larger than any cell returns the whole
    // index, ranks still dense
    val idx = Similarity.ivfIndex(emb, nCells = 4, seed = 42L)
    assert(Similarity.cellBalancedSample(idx, k = Int.MaxValue).count() ==
             emb.count())
  }

  test("round-10 third-wave ops on empty and degenerate input") {
    import spark.implicits._
    // substring scrub: empty corpus -> empty; a corpus with no shared
    // runs passes through with zero removals
    assert(Dedup.scrubSharedSubstrings(emptyDocs, "doc_id", "text",
                                       n = 4, minTokens = 8).count() == 0)
    val lone = Seq((1L, "only one document here")).toDF("doc_id", "text")
    val loneOut = Dedup.scrubSharedSubstrings(lone, "doc_id", "text",
                                              n = 4, minTokens = 8)
      .head()
    assert(loneOut.getLong(3) == 0L && loneOut.getLong(2) == 4L)
    // unigram fit: empty counts -> empty vocab; single word -> itself
    assert(UnigramTrainer.fitUnigram(
      emptyDocs.select(col("text").as("word"),
                       col("doc_id").as("n")).filter(lit(false)),
      vocabSize = 10).isEmpty)
    val one = UnigramTrainer.fitUnigram(
      Seq(("hello", 5L)).toDF("word", "n"), vocabSize = 10,
      minCount = 1L)
    assert(one.map(_._1).contains("hello"))
    // segmentation of an empty corpus is empty
    assert(UnigramTrainer.segmentDocs(emptyDocs, "doc_id", "text",
                                      one).count() == 0)
    // pq: dimension must split into subspaces
    intercept[IllegalArgumentException] {
      Similarity.pqIndex(
        Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding"),
        nSub = 2, nCodes = 2)
    }
    // bitext: fewer than k docs on a side fails loudly, not silently
    intercept[IllegalArgumentException] {
      Similarity.bitextMarginMine(
        graft.sources.Tables.embeddings(spark, sf0001).limit(10),
        graft.sources.Tables.embeddings(spark, sf0001).limit(2),
        k = 4)
    }
    // vector QA: empty input -> empty report, no division anywhere
    assert(Similarity.vectorQuarantine(emptyEmb).count() == 0)
    // deflate: empty corpus -> empty; null text -> zero bytes
    assert(TextAnalysis.deflateRatios(emptyDocs, "doc_id", "text")
      .count() == 0)
    val nulled = TextAnalysis.deflateRatios(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").head()
    // empty input still emits zlib's empty block (2 bytes); the ratio
    // guard divides by max(raw, 1) so the row stays finite
    assert(nulled.getLong(1) == 0L &&
             nulled.getLong(3) == nulled.getLong(2) * 1000000L)
    // domain reweight: a single domain takes the whole ppm mass
    val oneDom = QualityFilters.perplexityDomainWeights(
      Seq(("a", 2.5d, 10L), ("a", 2.5d, 10L))
        .toDF("source", "ppl", "n_grams"),
      "source", "ppl", "n_grams").head()
    assert(oneDom.getLong(4) == 1000000L &&
             oneDom.getLong(5) == 1000000L)
  }

  test("round-10 fourth/fifth-wave ops on empty and degenerate input") {
    import spark.implicits._
    // rendezvous: nShards=1 maps everything to shard 0; nShards=0 fails
    val ids = Seq(1L, 2L, 3L).toDF("id")
    assert(ids.select(Sharding.rendezvousShard(col("id"), 1).as("s"))
      .collect().forall(_.getLong(0) == 0L))
    intercept[IllegalArgumentException] {
      Sharding.rendezvousShard(col("id"), 0)
    }
    // positional index of an empty corpus is empty; phrase/proximity
    // over an EMPTY index return empty (not errors)
    val emptyIdx = Relevance.positionalIndex(emptyDocs, "doc_id", "text")
    assert(emptyIdx.count() == 0)
    assert(Relevance.phraseMatches(emptyIdx, Seq("a", "b")).count() == 0)
    assert(Relevance.proximityMatches(emptyIdx, Seq("a", "b"), 3)
      .count() == 0)
    intercept[IllegalArgumentException] {
      Relevance.phraseMatches(emptyIdx, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Relevance.proximityMatches(emptyIdx, Seq("a"), 0)
    }
    // null text tokenizes to nothing rather than crashing
    val nulled = Relevance.positionalIndex(
      Seq((1L, null.asInstanceOf[String]), (2L, "a b"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(nulled.filter(col("doc_id") === 1L).count() == 0)
    // positional roll with an EMPTY delta is an exact no-op
    val base = Relevance.positionalIndex(
      Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text"),
      "doc_id", "text")
    val rolled = Relevance.mergePositionalIndex(base, emptyDocs,
                                                "doc_id", "text")
    assert(rolled.collect().map(_.toSeq.toString).sorted.toSeq ==
           base.collect().map(_.toSeq.toString).sorted.toSeq)
    // stats merge with an empty side is the identity on counts
    val counts = CorpusStats.tokenCounts(
      Seq((1L, "a a b")).toDF("doc_id", "text"), "text")
    val merged = CorpusStats.mergeCounts(
      counts, CorpusStats.tokenCounts(emptyDocs, "text"))
    assert(merged.collect().map(r => r.getString(0) -> r.getLong(1))
             .toMap == Map("a" -> 2L, "b" -> 1L))
    // frameDigest of an empty frame: EXACTLY zero rows and md5 of the
    // empty concatenation — deterministic, never null
    val ed = graft.llm.Versioning.frameDigest(
      emptyDocs, concat_ws(":", col("doc_id").cast("string"),
                           col("text"))).head()
    assert(ed.getLong(0) == 0L, s"empty frame must count 0 rows: $ed")
    assert(ed.getString(1) == "d41d8cd98f00b204e9800998ecf8427e",
           s"empty-frame digest must be md5(''): $ed")
    // a NULL leaf is digest-VISIBLE: frames differing only in a
    // null-leaf row must digest differently (plain concat nulls out
    // when text is null)
    val withNull = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val withoutNull = Seq((1L, "a")).toDF("doc_id", "text")
    def dg(d: org.apache.spark.sql.DataFrame) =
      graft.llm.Versioning.frameDigest(
        d, concat(col("doc_id").cast("string"), lit(":"), col("text")))
        .head()
    assert(dg(withNull).getLong(0) == 2L,
           "null-leaf rows must still count")
    assert(dg(withNull).getString(1) != dg(withoutNull).getString(1),
           "a null-leaf row must change the digest")
    // salted join with n=1 degenerates to the plain join
    val big = Seq(("k1", 1L), ("k1", 2L), ("k2", 3L)).toDF("k", "v")
    val small = Seq(("k1", 10L), ("k2", 20L)).toDF("k", "w")
    val salted = graft.operators.Skew
      .saltedJoin(big, small, "k", n = 1, saltCols = Seq("v"))
      .orderBy("v").collect().map(_.toSeq)
    val plain = big.join(small, Seq("k")).orderBy("v")
      .collect().map(_.toSeq)
    assert(salted.toSeq == plain.toSeq)
  }

  test("q149 release build: internal consistency — lineage, funnel, " +
       "shard assignment, digest, and card all describe the SAME " +
       "retained set") {
    val out = graft.operators.LlmQueries
      .queries("q149_release_build")(spark, sf0001).collect()
    val byKind = out.groupBy(_.getString(0))
    val lineage = byKind("lineage")
      .map(r => r.getString(1) -> r.getString(3)).toMap
    val retainedIds = lineage.filter(_._2 == "retained").keySet
    val funnel = byKind("funnel")
      .map(r => r.getString(1) -> r.getString(3).toLong).toMap
    // funnel is monotone non-increasing and ends at the retained count
    val order = Seq("0_all", "1_blocklist", "2_script_hygiene",
                    "3_domain_cap", "4_keep_best_dedup",
                    "5_decontaminated", "6_mixture_budget")
    assert(order.map(funnel).sliding(2).forall(p => p.head >= p.last),
           s"funnel must shrink monotonically: $funnel")
    assert(funnel("6_mixture_budget") == retainedIds.size.toLong)
    // every doc appears exactly once in lineage; eval slice labeled
    assert(lineage.size == funnel("0_all") +
             lineage.valuesIterator.count(_ == "0_eval_holdout"))
    // exactly the retained docs carry a shard row
    val assign = byKind("assign").map(_.getString(1)).toSet
    assert(assign == retainedIds,
           "shard assignment must cover exactly the retained docs")
    // one digest root, bucket digests distinct
    val digs = byKind("digest")
    assert(digs.count(_.getString(1) == "1") == 1, "exactly one root")
    val buckets = digs.filter(_.getString(1) == "0").map(_.getString(3))
    assert(buckets.distinct.length == buckets.length)
    // card doc counts sum to the retained count
    val cardDocs = byKind("card_docs").map(_.getString(3).toLong).sum
    assert(cardDocs == retainedIds.size.toLong)
  }

  test("q206 dedup savings: GLOBAL is the exact sum of family rows; " +
       "every family saves all but its representative's tokens") {
    val rows = graft.operators.LlmQueries
      .queries("q206_dedup_savings")(spark, sf0001).collect()
    val (g, c) = rows.partition(_.getString(0) == "GLOBAL")
    assert(g.length == 1 && c.nonEmpty)
    c.foreach { r =>
      assert(r.getLong(2) >= 2L)
      assert(r.getLong(4) < r.getLong(3),
             "kept representative must retain some tokens")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
    }
    assert(g.head.getLong(2) == c.map(_.getLong(2)).sum)
    assert(g.head.getLong(3) == c.map(_.getLong(3)).sum)
    assert(g.head.getLong(4) == c.map(_.getLong(4)).sum)
  }

  test("q215 k-anonymity: classes partition the users, risk accounting " +
       "exact, summary aggregates the class table") {
    val rows = graft.operators.LlmQueries
      .queries("q215_k_anonymity")(spark, sf0001).collect()
    val (s, c) = rows.partition(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && c.nonEmpty)
    val nUsers = graft.sources.Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(s.head.getLong(2) == nUsers,
           "every user must land in exactly one QI class")
    assert(s.head.getLong(2) == c.map(_.getLong(2)).sum)
    assert(s.head.getLong(4) == c.map(_.getLong(4)).sum)
    assert(s.head.getLong(3) == c.map(_.getLong(3)).min)
    c.foreach { r =>
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 2L,
             "binary sensitive attribute bounds l-diversity")
      val expectRisk = if (r.getLong(2) < 5L) r.getLong(2) else 0L
      assert(r.getLong(4) == expectRisk, s"risk_users wrong for ${r}")
    }
  }

  test("q216 sketch prune: global sums the sources, ppm exact, the " +
       "conservative cut prunes strictly less than the decile") {
    val rows = graft.operators.LlmQueries
      .queries("q216_sketch_prune")(spark, sf0001).collect()
    val (g, c) = rows.partition(_.getString(0) == "GLOBAL")
    assert(g.length == 1 && c.nonEmpty)
    assert(g.head.getLong(1) == c.map(_.getLong(1)).sum)
    assert(g.head.getLong(2) == c.map(_.getLong(2)).sum)
    assert(g.head.getLong(3) == c.map(_.getLong(3)).sum)
    assert(g.head.getLong(4) == c.map(_.getLong(4)).sum)
    rows.foreach { r =>
      assert(r.getLong(6) == r.getLong(2) * 1000000L / r.getLong(1))
      // bin-lower-bound threshold: everything strictly below the p10
      // bin is < 10% of the source by the minimality of the picked bin
      assert(r.getLong(2) * 10 < r.getLong(1),
             s"${r.getString(0)}: conservative cut must stay under p10")
      assert(r.getLong(4) <= r.getLong(3))
    }
    // decisions recount: per source, n_pruned is exactly the docs whose
    // (token count + 1) falls below the published threshold
    import org.apache.spark.sql.functions._
    val lens = graft.sources.Tables.documents(spark, sf0001)
      .select(col("source"),
              (size(Dedup.wordTokens(col("text"))) + 1).cast("long")
                .as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    c.foreach { r =>
      val thr = r.getLong(5)
      val n = lens.count { case (src, v) =>
        src == r.getString(0) && v < thr }
      assert(r.getLong(2) == n.toLong,
             s"${r.getString(0)}: pruned recount mismatch")
    }
  }

  test("q238 null profile: one row per column, n_rows consistent per " +
       "table, a planted null column recounts") {
    import spark.implicits._
    val rows = graft.operators.LlmQueries
      .queries("q238_null_profile")(spark, sf0001).collect()
    assert(rows.length == 25)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).distinct.length == 1,
             "every column of a table sees the same row count")
    }
    val docRows = rows.filter(_.getString(0) == "documents")
    assert(docRows.head.getLong(2) ==
             graft.sources.Tables.documents(spark, sf0001).count())
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) == r.getLong(3) * 1000000L / r.getLong(2))
    }
  }

  test("q237 conversion latency: histogram counts the converted users, " +
       "rate recounts, every latency nonnegative by construction") {
    val rows = graft.operators.LlmQueries
      .queries("q237_conversion_latency")(spark, sf0001).collect()
    val (s, h) = rows.partition(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && h.nonEmpty)
    assert(h.map(_.getLong(2)).sum == s.head.getLong(2),
           "histogram must partition the converted users")
    val ev = graft.sources.Tables.events(spark, sf0001)
    val conv = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    val total = ev.select("user_id").distinct().count()
    assert(s.head.getLong(2) == conv)
    assert(s.head.getLong(3) == conv * 1000000L / total)
  }

  test("anomalyDaysFrom survives single-day and constant series: " +
       "zero-MAD never divides, nothing flags") {
    import spark.implicits._
    val one = Seq(("a", 1L, 5L)).toDF("event_type", "day", "n")
    val r1 = graft.operators.LlmQueries.anomalyDaysFrom(one).collect()
    assert(r1.length == 1)
    assert(r1.head.getLong(3) == 10L && r1.head.getLong(5) == 0L &&
             r1.head.getLong(6) == 0L,
           "a lone day is its own median and cannot flag")
    val const = (1L to 5L).map(d => ("a", d, 7L))
      .toDF("event_type", "day", "n")
    val r2 = graft.operators.LlmQueries.anomalyDaysFrom(const).collect()
    assert(r2.length == 5 && r2.forall(_.getLong(6) == 0L),
           "a constant series has zero deviation everywhere")
  }

  test("q236 gate stability: 16 replicates near half-size, summary is " +
       "the full q65 rate, range brackets the replicates") {
    val rows = graft.operators.LlmQueries
      .queries("q236_gate_stability")(spark, sf0001).collect()
    val (s, r) = rows.partition(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && r.length == 16)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(s.head.getLong(2) == nDocs)
    val keeps = graft.operators.LlmQueries
      .queries("q65_gopher_filter")(spark, sf0001)
      .filter(col("keep")).count()
    assert(s.head.getLong(3) == keeps)
    assert(s.head.getLong(4) == keeps * 1000000L / nDocs)
    r.foreach { rep =>
      assert(rep.getLong(2) > nDocs / 3 && rep.getLong(2) < 2 * nDocs / 3,
             s"a half-sample strayed far from half: ${rep}")
      assert(rep.getLong(4) == rep.getLong(3) * 1000000L / rep.getLong(2))
    }
    val (mn, mx) = (r.map(_.getLong(4)).min, r.map(_.getLong(4)).max)
    assert(s.head.getLong(5) == mx - mn)
  }

  test("q234 kmv containment: full ordered matrix, permille bounds, " +
       "one pair's exact containment recounts from raw gram sets") {
    val rows = graft.operators.LlmQueries
      .queries("q234_kmv_containment")(spark, sf0001).collect()
    val nSrc = graft.sources.Tables.documents(spark, sf0001)
      .select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1))
    rows.foreach { r =>
      assert(r.getString(0) != r.getString(1))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 256L)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)))
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val top = rows.head
    val sets = graft.llm.Contamination
      .gramFingerprints(docs, "doc_id", "text", n = 8)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "gram_fp").distinct()
      .filter(col("source").isin(top.getString(0), top.getString(1)))
      .collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
    val (a, b) = (sets(top.getString(0)), sets(top.getString(1)))
    assert(top.getLong(4) == (a & b).size.toLong * 1000L / a.size,
           "exact containment recount mismatch")
  }

  test("q235 skew advisor: histogram partitions the keys, top-10 " +
       "descending and recounted, salt is the integer ceiling") {
    val rows = graft.operators.LlmQueries
      .queries("q235_skew_advisor")(spark, sf0001).collect()
    val hist = rows.filter(_.getString(0) == "HIST")
    val top = rows.filter(_.getString(0) == "TOP")
      .sortBy(r => (-r.getLong(3), r.getString(1).toLong))
    val s = rows.filter(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && hist.nonEmpty && top.length <= 10)
    val kc = graft.sources.Tables.events(spark, sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(s.head.getLong(2) == kc.length.toLong)
    assert(s.head.getLong(3) == kc.map(_._2).sum)
    assert(hist.map(_.getLong(2)).sum == kc.length.toLong,
           "histogram must partition the keys")
    assert(hist.map(_.getLong(3)).sum == kc.map(_._2).sum)
    val mx = kc.map(_._2).max
    assert(s.head.getLong(4) == math.max(1L, (mx + 99999L) / 100000L))
    val want = kc.sortBy(t => (-t._2, t._1)).take(10)
    assert(top.map(r => (r.getString(1).toLong, r.getLong(3))).toSeq
             == want.toSeq,
           "top-10 hottest keys must match the exact recount")
  }

  test("q230 kmv jaccard: upper-tri, permille bounds, one pair's exact " +
       "overlap recounts from raw sets") {
    val rows = graft.operators.LlmQueries
      .queries("q230_kmv_jaccard")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 64L)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L)
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)))
    }
    val top = rows.head
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select("event_type", "user_id").distinct().collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getLong(1)).toSet }
    val (a, b) = (ev(top.getString(0)), ev(top.getString(1)))
    assert(top.getLong(4) ==
             (a & b).size.toLong * 1000L / (a | b).size.toLong,
           "exact Jaccard recount mismatch")
  }

  test("q231 cas savings: global totals sum the sources, cross-source " +
       "dedup only helps, compression bounded") {
    val rows = graft.operators.LlmQueries
      .queries("q231_cas_savings")(spark, sf0001).collect()
    val (g, s) = rows.partition(_.getString(0) == "GLOBAL")
    assert(g.length == 1 && s.nonEmpty)
    assert(g.head.getLong(2) == s.map(_.getLong(2)).sum,
           "chunk occurrences must sum")
    assert(g.head.getLong(4) == s.map(_.getLong(4)).sum,
           "ingested chars must sum")
    assert(g.head.getLong(5) <= s.map(_.getLong(5)).sum,
           "cross-source dedup can only shrink the store")
    assert(g.head.getLong(3) <= s.map(_.getLong(3)).sum)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(5) <= r.getLong(4))
      assert(r.getLong(6) >= 0L && r.getLong(6) <= 1000000L)
    }
  }

  test("q232 knn pr: confusion partitions the queries, tp monotone " +
       "non-increasing, recall falls as the threshold rises") {
    val rows = graft.operators.LlmQueries
      .queries("q232_knn_pr")(spark, sf0001).collect().sortBy(_.getLong(0))
    assert(rows.length == 10)
    val nq = graft.sources.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 10 === 0).count()
    val positives = rows.head.getLong(1) + rows.head.getLong(3)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)
               == nq, "confusion quadrant must partition the queries")
      assert(r.getLong(1) + r.getLong(3) == positives,
             "positives are threshold-independent")
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1),
             "tp cannot grow as the threshold rises")
      assert(b.getLong(2) <= a.getLong(2))
    }
  }

  test("q233 rolling wau: windows are the observed days, full windows " +
       "span 7 days, sub-k estimates exact, WAU dominates DAU") {
    val rows = graft.operators.LlmQueries
      .queries("q233_rolling_wau")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val daily = graft.operators.LlmQueries
      .queries("q219_kmv_roll")(spark, sf0001).collect()
      .filter(_.getString(0) == "DAY")
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(rows.map(_.getLong(0)).toSet == daily.keySet,
           "one window per observed day")
    val minDay = daily.keySet.min
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 7L)
      if (r.getLong(0) >= minDay + 6) assert(r.getLong(1) == 7L,
        "a window past the warmup must span 7 contiguous days")
      if (r.getLong(2) < 64L) assert(r.getLong(3) == r.getLong(4),
        "sub-k window sketches count exactly")
      assert(r.getLong(4) >= daily(r.getLong(0)),
             "weekly actives dominate that day's dailies")
    }
  }

  test("q228 passage maxp: hit-doc set equals the doc-level q86 set, " +
       "best chunk is a real chunk, hit counts positive") {
    val rows = graft.operators.LlmQueries
      .queries("q228_passage_maxp")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L)
      assert(r.getLong(2) >= 0L)
    }
    // a chunk contains a query term iff its doc does → identical doc sets
    val docLevel = graft.operators.LlmQueries
      .queries("q86_bm25_relevance")(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == docLevel,
           "MaxP must surface exactly the q86 hit docs")
    // the winning chunk index stays inside the doc's chunk range
    val nChunks = graft.llm.TextPacking.chunkDocuments(
        graft.sources.Tables.documents(spark, sf0001),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
      .groupBy("doc_id").agg(max("chunk_idx").as("mx"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(r.getLong(2) <= nChunks(r.getLong(0)).toLong))
  }

  test("q229 filtered ann: post is contained in pre, counts bounded by " +
       "k, summary aggregates exactly") {
    val rows = graft.operators.LlmQueries
      .queries("q229_filtered_ann")(spark, sf0001).collect()
    val (s, q) = rows.partition(_.getLong(0) == -1L)
    assert(s.length == 1 && q.length == 5)
    q.foreach { r =>
      assert(r.getLong(1) <= 10L && r.getLong(2) <= r.getLong(1),
             s"post must return no more than pre: ${r}")
      assert(r.getLong(4) <= r.getLong(3),
             s"post recall cannot exceed pre recall: ${r}")
    }
    assert(s.head.getLong(1) == q.map(_.getLong(1)).sum)
    assert(s.head.getLong(2) == q.map(_.getLong(2)).sum)
    // per-query recall is h·100 pm, so the pooled summary mean divides
    // exactly: summary = Σ recall_pm / nq
    assert(s.head.getLong(3) == q.map(_.getLong(3)).sum / q.length)
    assert(s.head.getLong(4) == q.map(_.getLong(4)).sum / q.length)
  }

  test("q227 anomaly days: rows partition the events, median/MAD " +
       "arithmetic recounts, planted spike flags and clean days don't") {
    import spark.implicits._
    val rows = graft.operators.LlmQueries
      .queries("q227_anomaly_days")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum ==
             graft.sources.Tables.events(spark, sf0001).count(),
           "daily counts must partition all events")
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ns = rs.map(_.getLong(2)).sorted
      val (lo, hi) = (ns((ns.length - 1) / 2), ns(ns.length / 2))
      assert(rs.forall(_.getLong(3) == lo + hi), "med2 recount")
      val devs = rs.map(r => math.abs(2 * r.getLong(2) - (lo + hi)))
        .sorted
      val mad4 = devs((devs.length - 1) / 2) + devs(devs.length / 2)
      rs.foreach { r =>
        assert(r.getLong(4) == mad4, "mad4 recount")
        assert(r.getLong(5) == math.abs(2 * r.getLong(2) - (lo + hi)))
        assert(r.getLong(6) ==
                 (if (r.getLong(5) * 13490L > mad4 * 35000L) 1L else 0L))
      }
    }
    // planted spike: 14 steady days around 100, day 15 fires 10×
    val spiked = ((1L to 14L).map(d => ("a", d, 100L + (d % 3)))
      :+ (("a", 15L, 1000L))).toDF("event_type", "day", "n")
    val out = graft.operators.LlmQueries.anomalyDaysFrom(spiked)
      .collect().map(r => r.getLong(1) -> r.getLong(6)).toMap
    assert(out(15L) == 1L, "the 10x spike must flag")
    assert((1L to 14L).forall(out(_) == 0L),
           "steady days must not flag")
  }

  test("q225 pmi collocations: ranked top-20, monotone pmi, min-count " +
       "respected, one bigram recounts directly") {
    val rows = graft.operators.LlmQueries
      .queries("q225_pmi_collocations")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 20)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 20L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(6) <= a.getDouble(6), "pmi must be non-increasing")
    }
    rows.foreach(r => assert(r.getLong(3) >= 5L, "min count violated"))
    val top = rows.head
    val (w1, w2) = (top.getString(1), top.getString(2))
    val direct = graft.sources.Tables.documents(spark, sf0001)
      .select(Dedup.wordTokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), " +
        "i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("b"))
      .filter(col("b.w1") === w1 && col("b.w2") === w2)
      .count()
    assert(top.getLong(3) == direct, s"c_xy recount mismatch for $w1 $w2")
  }

  test("q226 source dup matrix: upper-triangular, cell pairs sum to " +
       "the closure's total pair count") {
    val rows = graft.operators.LlmQueries
      .queries("q226_source_dup_matrix")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "matrix must be upper-tri")
      assert(r.getLong(2) >= r.getLong(3),
             "a contributing cluster yields at least one pair")
    }
    // Σ cells = Σ_clusters n(n-1)/2 — the matrix partitions ALL
    // near-dup pairs by source pair
    val q35 = graft.operators.LlmQueries
      .queries("q35_minhash_dedup")(spark, sf0001)
      .groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .select(expr("CAST(sum(n * (n - 1) DIV 2) AS BIGINT)").as("p"))
      .collect().head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == q35,
           "matrix cells must partition the closure's pairs")
  }

  test("q222 canon levels: raw unchanged, distinct count monotone, " +
       "deltas telescope, lower-level recount agrees") {
    val rows = graft.operators.LlmQueries
      .queries("q222_canon_levels")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 5)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    rows.foreach { r =>
      assert(r.getLong(2) == nDocs)
      assert(r.getLong(5) == r.getLong(2) - r.getLong(4),
             "dup_docs must be n_docs - n_fp")
    }
    assert(rows.head.getString(1) == "raw" && rows.head.getLong(3) == 0L
             && rows.head.getLong(6) == 0L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(4) <= a.getLong(4),
             "coarser canonicalization cannot split fingerprints")
      assert(b.getLong(6) == a.getLong(4) - b.getLong(4),
             "merged_vs_prev must telescope")
      assert(b.getLong(3) >= a.getLong(3),
             "changed-doc count grows with coarseness")
    }
    val lowerFp = graft.sources.Tables.documents(spark, sf0001)
      .select(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))
                    .cast("binary")).as("fp"))
      .distinct().count()
    assert(rows(2).getLong(4) == lowerFp)
  }

  test("q223 retrieval eval: gold set correct, per-query accounting " +
       "exact, summary aggregates, known-item queries retrieve") {
    val rows = graft.operators.LlmQueries
      .queries("q223_retrieval_eval")(spark, sf0001).collect()
    val (s, q) = rows.partition(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && q.nonEmpty)
    q.foreach { r =>
      assert(r.getString(1).toLong % 97 == 3,
             "every query is a gold doc from the fixed sample")
      val rank = r.getLong(2)
      assert(rank >= 1L)
      assert(r.getLong(3) == 1000000L / rank)
      assert(r.getLong(4) == (if (rank <= 1) 1L else 0L))
      assert(r.getLong(5) == (if (rank <= 5) 1L else 0L))
      assert(r.getLong(6) == (if (rank <= 10) 1L else 0L))
    }
    assert(s.head.getLong(2) == q.length.toLong)
    assert(s.head.getLong(3) == q.map(_.getLong(3)).sum / q.length)
    assert(s.head.getLong(4) == q.map(_.getLong(4)).sum)
    assert(s.head.getLong(5) == q.map(_.getLong(5)).sum)
    assert(s.head.getLong(6) == q.map(_.getLong(6)).sum)
    // the tf-idf query generator must actually retrieve: majority of
    // golds in the top 10 (rank-1 on both driver SFs in practice)
    assert(q.count(_.getLong(6) == 1L) * 2 > q.length,
           "known-item retrieval failed for most golds")
  }

  test("q220 threshold sweep: monotone yields, zero-threshold row is " +
       "the corpus, direct recount at tau=500 agrees") {
    val rows = graft.operators.LlmQueries
      .queries("q220_threshold_sweep")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(rows.length == 10 && rows.head.getLong(0) == 0L)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.head.getLong(1) == nDocs,
           "tau=0 keeps everything")
    assert(rows.head.getLong(3) == 1000000L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) <= a.getLong(1) && b.getLong(2) <= a.getLong(2),
             "yield must be non-increasing in the threshold")
    }
    val direct = graft.sources.Tables.documents(spark, sf0001)
      .filter(floor(TextAnalysis.qualityScore(col("text")) * 1000.0d)
                >= 500L)
      .count()
    assert(rows.find(_.getLong(0) == 500L).get.getLong(1) == direct)
  }

  test("q221 centroid drift: global counts the table, Cauchy-Schwarz " +
       "holds, base counts recount") {
    val rows = graft.operators.LlmQueries
      .queries("q221_centroid_drift")(spark, sf0001).collect()
    val (g, l) = rows.partition(_.getString(0) == "GLOBAL")
    assert(g.length == 1 && l.nonEmpty)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    assert(g.head.getLong(3) == emb.count())
    assert(g.head.getLong(2) ==
             emb.filter(col("vec_id") % 5 =!= 2).count())
    assert(l.map(_.getLong(3)).sum == g.head.getLong(3))
    rows.foreach { r =>
      val dot = BigInt(r.getLong(4))
      val cs = dot * dot <=
        BigInt(r.getLong(5)) * BigInt(r.getLong(6))
      assert(cs, s"Cauchy-Schwarz violated: ${r}")
      assert(r.getLong(5) > 0L && r.getLong(6) > 0L)
      // a random-slice delta keeps the sum-vectors positively aligned
      // (tight bounds need n large — at 500 vectors the sums are noisy)
      val cos = dot.toDouble /
        math.sqrt(r.getLong(5).toDouble * r.getLong(6).toDouble)
      assert(cos > 0.5, s"unexpectedly large drift: ${r}")
    }
  }

  test("q219 kmv roll: merged week sketches equal a direct rebuild, " +
       "sub-k sketches are exact, err accounting consistent") {
    import org.apache.spark.sql.expressions.Window
    val rows = graft.operators.LlmQueries
      .queries("q219_kmv_roll")(spark, sf0001).collect()
    val (wk, dy) = rows.partition(_.getString(0) == "WEEK")
    assert(wk.nonEmpty && dy.nonEmpty)
    rows.foreach { r =>
      if (r.getLong(5) < 64L)
        assert(r.getLong(3) == r.getLong(2),
               s"sub-k sketch must count exactly: ${r}")
      assert(r.getLong(4) ==
               math.abs(r.getLong(3) - r.getLong(2)) * 1000000L
                 / r.getLong(2))
    }
    // lossless-merge theorem made real: week bottom-k rebuilt straight
    // from events (no daily staging) must match the artifact-merged rows
    val direct = graft.sources.Tables.events(spark, sf0001)
      .select(
        expr("CAST(datediff(CAST(ts AS DATE), '1970-01-01') AS BIGINT)" +
             " div 7").as("week"),
        expr("CAST(conv(substring(md5(CAST(concat('kmv11:', " +
             "CAST(user_id AS STRING)) AS BINARY)), 1, 15), 16, 10) " +
             "AS BIGINT)").as("h"))
      .distinct()
      .withColumn("r", row_number().over(
        Window.partitionBy("week").orderBy("h")))
      .filter(col("r") <= 64)
      .groupBy("week")
      .agg(count(lit(1)).as("n_sketch"),
           (sum(col("h") % 1048576L) % 1048576L).as("digest"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(wk.map(_.getLong(1)).toSet == direct.keySet)
    wk.foreach { r =>
      val (n, d) = direct(r.getLong(1))
      assert(r.getLong(5) == n && r.getLong(6) == d,
             s"merged week sketch differs from rebuild: ${r}")
    }
  }

  test("q217 dp histogram: noise bounded, clamp exact, summary sums the " +
       "cells and composes epsilon") {
    val rows = graft.operators.LlmQueries
      .queries("q217_dp_histogram")(spark, sf0001).collect()
    val (s, c) = rows.partition(_.getString(0) == "SUMMARY")
    assert(s.length == 1 && c.nonEmpty)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(s.head.getLong(2) == nDocs,
           "cell true counts must partition the corpus")
    assert(s.head.getLong(2) == c.map(_.getLong(2)).sum)
    assert(s.head.getLong(3) == c.map(r => math.abs(r.getLong(3))).sum,
           "summary noise is the L1 of the drawn noise")
    assert(s.head.getLong(4) == c.map(_.getLong(4)).sum)
    assert(s.head.getLong(5) == c.length * 693147L,
           "epsilon composes linearly over released cells")
    c.foreach { r =>
      assert(math.abs(r.getLong(3)) <= 60L, "tz difference bounds noise")
      assert(r.getLong(4) == math.max(r.getLong(2) + r.getLong(3), 0L),
             s"clamped release wrong for ${r}")
      assert(r.getLong(5) == 693147L)
    }
  }

  test("q218 gate ablation: masks partition the corpus, clean mask " +
       "equals q65 keeps, gate uniques within totals") {
    val rows = graft.operators.LlmQueries
      .queries("q218_gate_ablation")(spark, sf0001).collect()
    val masks = rows.filter(_.getString(0) == "MASK")
    val gates = rows.filter(_.getString(0) == "GATE")
    val total = rows.filter(_.getString(0) == "TOTAL")
    assert(total.length == 1 && gates.length == 7 && masks.nonEmpty)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(total.head.getLong(2) == nDocs)
    assert(masks.map(_.getLong(2)).sum == nDocs,
           "fail-pattern histogram partitions the corpus")
    val rejected = masks.filter(_.getString(1) != "000").map(_.getLong(2)).sum
    assert(total.head.getLong(4) == rejected)
    val keeps = graft.operators.LlmQueries
      .queries("q65_gopher_filter")(spark, sf0001)
      .filter(col("keep")).count()
    assert(masks.filter(_.getString(1) == "000").map(_.getLong(2)).sum
             == keeps,
           "the all-clear mask must be exactly the q65 keep set")
    gates.foreach { g =>
      assert(g.getLong(4) <= g.getLong(2),
             s"unique rejections exceed total for ${g.getString(1)}")
      assert(g.getLong(2) <= rejected)
    }
  }

  test("q214 pseudonymize: surrogate map is a collision-free bijection " +
       "on this corpus and the audit row sums the map") {
    val rows = graft.operators.LlmQueries
      .queries("q214_pseudonymize")(spark, sf0001).collect()
    val (a, m) = rows.partition(_.getString(0) == "AUDIT")
    assert(a.length == 1 && m.nonEmpty)
    assert(m.forall(_.getLong(2) == 1L), "no surrogate maps two users")
    assert(a.head.getLong(4) == 0L, "collision audit must be clean")
    assert(a.head.getLong(2) == m.length.toLong)
    assert(a.head.getLong(3) == m.map(_.getLong(3)).sum)
    // consistency: the keyed hash is a pure function, so a re-run maps
    // identically
    val again = graft.operators.LlmQueries
      .queries("q214_pseudonymize")(spark, sf0001).collect()
      .filter(_.getString(0) == "MAP").map(_.getLong(1)).toSet
    assert(again == m.map(_.getLong(1)).toSet)
  }

  test("q213 vector daily roll: all three families cover every vector " +
       "exactly once") {
    val rows = graft.operators.LlmQueries
      .queries("q213_vector_daily_roll")(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq ==
             Seq("ivf_assign", "lsh_buckets", "pq_codes"))
    val nVecs = graft.sources.Tables.embeddings(spark, sf0001).count()
    rows.foreach(r => assert(r.getLong(1) == nVecs,
      s"${r.getString(0)}: every vector must appear exactly once"))
  }

  test("q212 props schema gate: every verdict class fires, shares sum " +
       "to ~1e6 per type, first-defect order holds on crafted payloads") {
    val rows = graft.operators.LlmQueries
      .queries("q212_props_schema_gate")(spark, sf0001).collect()
    val verdicts = rows.map(_.getString(1)).toSet
    assert(verdicts == Set("ok", "malformed", "missing_key", "bad_type",
                           "out_of_range"))
    rows.groupBy(_.getString(0)).foreach { case (t, g) =>
      val total = g.map(_.getLong(2)).sum
      val ppm = g.map(_.getLong(3)).sum
      // floor division loses at most (#verdicts - 1) ppm units
      assert(ppm <= 1000000L && ppm >= 1000000L - g.length + 1,
             s"$t shares must sum to ~1e6: $ppm")
      g.foreach(r => assert(r.getLong(3) ==
        r.getLong(2) * 1000000L / total))
    }
  }

  test("q207 compaction plan: bins partition the small files, ids are " +
       "contiguous, non-last bins at least half full, ratio exact") {
    val rows = graft.operators.LlmQueries
      .queries("q207_compaction_plan")(spark, sf0001).collect()
    val bins = rows.filter(_.getString(0) == "BIN")
    val keep = rows.filter(_.getString(0) == "KEEP")
    val g = rows.filter(_.getString(0) == "GLOBAL").head
    assert(bins.nonEmpty)
    // contiguous ids 0..n-1
    assert(bins.map(_.getLong(1)).sorted.toSeq ==
             (0L until bins.length).toSeq)
    // waterline guarantee: every non-last bin holds >= C/2 (files are
    // < C/2 each, so a bin spanning a full C of waterline cannot be
    // emptier), and no bin overshoots by more than one small file
    val byId = bins.sortBy(_.getLong(1))
    byId.dropRight(1).foreach(r =>
      assert(r.getLong(3) >= 8192L, s"bin ${r.getLong(1)} under half"))
    byId.foreach(r => assert(r.getLong(3) <= 16384L + 8192L))
    // conservation + the ratio
    assert(g.getLong(2) == bins.map(_.getLong(2)).sum + keep.length)
    assert(g.getLong(3) ==
             bins.map(_.getLong(3)).sum + keep.map(_.getLong(3)).sum)
    val after = bins.length + keep.length
    assert(g.getLong(4) ==
             after.toLong * 1000000L / g.getLong(2))
  }

  test("q200 daily roll: every rolled family digest equals the " +
       "from-scratch rebuild digest; checksum is partitioning-invariant " +
       "and row-sensitive") {
    import org.apache.spark.sql.{Column, DataFrame}
    def digest(df: DataFrame, canon: Column): (Long, Long) = {
      val r = df.select(canon.as("c"))
        .agg(count(lit(1)),
             coalesce(sum(conv(substring(md5(col("c").cast("binary")),
                                         1, 15), 16, 10).cast("long")
                            % 1048576L), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val out = graft.operators.LlmQueries
      .queries("q200_daily_roll")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set("bm25_postings", "bm25_stats", "clusters",
                             "exact_fp", "length_hist", "positional",
                             "token_counts"))
    // in-Spark rebuild over the FULL corpus (oracle-independent twin of
    // the DuckDB replay): rolled must equal rebuilt per family
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val bm = Relevance.bm25Index(docs, "doc_id", "text")
    val rebuilt = Map(
      "exact_fp" -> digest(Dedup.fingerprintIndex(docs, "doc_id", "text"),
                           concat_ws(":", col("fp"), col("corpus_id"))),
      "bm25_postings" -> digest(bm.postings,
                                concat_ws(":", col("token"), col("doc_id"),
                                          col("dl"),
                                          col("tf").cast("long"))),
      "bm25_stats" -> digest(bm.stats,
                             concat_ws(":", lit("stats"), col("n_docs"),
                                       col("sum_dl"))),
      "positional" -> digest(Relevance.positionalIndex(docs, "doc_id",
                                                       "text"),
                             concat_ws(":", col("token"), col("doc_id"),
                                       array_join(col("positions")
                                                    .cast("array<string>"),
                                                  ","))),
      "token_counts" -> digest(CorpusStats.tokenCounts(docs, "text"),
                               concat_ws(":", col("token"), col("n"))),
      "length_hist" -> digest(
        docs.select(col("source").as("scope"),
                    Sketches.logBin((size(Dedup.wordTokens(col("text")))
                                       + 1).cast("long")).as("bin"))
          .groupBy("scope", "bin").agg(count(lit(1)).as("cnt")),
        concat_ws(":", col("scope"), col("bin"), col("cnt"))),
      "clusters" -> digest(
        Dedup.clustersFromPairs(
            docs, "doc_id", "text",
            Dedup.minhashCandidatePairsPortable(docs, "doc_id", "text"))
          .select("doc_id", "cluster_id"),
        concat_ws(":", col("doc_id"), col("cluster_id"))))
    rebuilt.foreach { case (fam, d) =>
      assert(out(fam) == d, s"$fam: rolled ${out(fam)} != rebuilt $d")
    }
    // checksum is a sum of row hashes: partitioning/order cannot move it
    val fp = Dedup.fingerprintIndex(docs, "doc_id", "text")
    val canon = concat_ws(":", col("fp"), col("corpus_id"))
    assert(digest(fp.repartition(7), canon) == rebuilt("exact_fp"))
    // ...but any single changed row does (same row count, new content)
    val bumped = fp.withColumn(
      "corpus_id",
      when(col("corpus_id") === fp.agg(min("corpus_id")).head().getLong(0),
           col("corpus_id") + 1L).otherwise(col("corpus_id")))
    val (nb, cb) = digest(bumped, canon)
    assert(nb == rebuilt("exact_fp")._1 && cb != rebuilt("exact_fp")._2,
           "a modified row must move the checksum at equal row count")
  }
}
