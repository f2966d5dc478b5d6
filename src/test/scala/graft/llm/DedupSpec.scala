package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  /** 60 distinct docs + planted duplicates: 100/101 exact copies of 1,
    * 102 a near-copy of 2 (one word changed), 103 unrelated.
    */
  private def docs: DataFrame = {
    import spark.implicits._
    val base = (0 until 60).map { i =>
      (i.toLong,
       s"document number $i talks about topic ${i % 7} with unique detail " +
         s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")
    }
    val planted = Seq(
      (100L, base(1)._2),
      (101L, base(1)._2),
      (102L, base(2)._2.replace("alpha2", "REPLACED")),
      (103L, "totally different text about nothing in particular at all"))
    (base ++ planted).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, ignores whitespace/case variance") {
    import spark.implicits._
    val withVariant = docs.union(
      Seq((200L, "  Document   number 1 talks about topic 1 with unique " +
        "detail alpha1 beta1 gamma1 delta1 epsilon1 zeta1 eta1 theta1 "))
        .toDF("doc_id", "text"))
    val out = Dedup.exact(withVariant, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    val m = out.map(t => t._1 -> t._2).toMap
    assert(m(100L) == 1L && m(101L) == 1L && m(200L) == 1L)
    assert(m(102L) == 102L) // near-copy is NOT exact-equal
    assert(out.count(_._3) == 3)
  }

  test("minhash finds exact AND near duplicates, no cartesian in the plan") {
    val pairs = Dedup.minhashCandidatePairsPortable(
      docs, "doc_id", "text", k = 5, numHashes = 32, bands = 16,
      threshold = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
           "candidate generation must be a bucket join, not all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 100L)) && got.contains((1L, 101L)) &&
           got.contains((100L, 101L)), s"exact copies must pair up: $got")
    assert(got.contains((2L, 102L)), s"near-copy must pair up: $got")
    assert(!got.exists(p => p._1 == 103L || p._2 == 103L),
           "unrelated doc must not pair")

    val clusters = Dedup.minhashPortable(docs, "doc_id", "text",
                                         k = 5, numHashes = 32, bands = 16,
                                         threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters(100L) == 1L && clusters(101L) == 1L &&
           clusters(1L) == 1L)
    assert(clusters(102L) == 2L)
    assert(clusters(103L) == 103L)
  }

  test("simhash: near-identical docs have small hamming distance") {
    import spark.implicits._
    val sh = Dedup.withSimhashPortable(docs, "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(100L)) == 0)
    // one of 17 tokens replaced flips a few 60-bit votes (9 here); the
    // near-copy must still be doc 2's nearest neighbour
    val others = (sh.keySet - 2L - 102L).map(j => ham(sh(2L), sh(j)))
    assert(ham(sh(2L), sh(102L)) < others.min)
    assert(ham(sh(2L), sh(103L)) > 12)

    val cands = Dedup.simhashCandidatesPortable(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 100L)))
  }

  test("ngramJaccard: identical=1, near-copy high, unrelated low") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g", "a b c d e f g"),
      ("a b c d e f g", "a b c d e f X"),
      ("a b c d e f g", "q r s t u v w")).toDF("x", "y")
    val j = df.select(Dedup.ngramJaccard(col("x"), col("y"), 3).as("j"))
      .collect().map(_.getDouble(0))
    assert(j(0) == 1.0)
    assert(j(1) > 0.5 && j(1) < 1.0)
    assert(j(2) == 0.0)
  }

  test("minhash candidate generation drops pathological buckets (maxBucket)") {
    import spark.implicits._
    // 50 identical docs: bucket size 50 > maxBucket 10 → no pairs emitted
    val storm = (0 until 50).map(i => (i.toLong, "same text every time here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairsPortable(storm, "doc_id", "text",
      maxBucket = 10)
    assert(pairs.count() == 0)
  }

  test("simhash candidate generation drops pathological buckets (maxBucket)") {
    import spark.implicits._
    val storm = (0 until 50).map(i => (i.toLong, "same text every time here"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashCandidatesPortable(storm, "doc_id", "text",
                                           maxBucket = 10).count() == 0)
    // and with the guard above the bucket size, the pairs are all there
    assert(Dedup.simhashCandidatesPortable(storm, "doc_id", "text",
                                           maxBucket = 100)
             .count() == 50L * 49 / 2)
  }

  test("clustersFromPairs closes transitive chains (A~B~C, A≁C → one cluster)") {
    import spark.implicits._
    // chain 1-2-3-4-5: only adjacent pairs are candidate edges, so min-id
    // labels need 4 propagation rounds to reach the tail — the fixpoint
    // loop must carry 1 all the way to 5
    val verts = (1L to 5L).map(Tuple1(_)).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.clustersFromEdges(verts, chain)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert((1L to 5L).forall(id => out(id)._1 == 1L),
           s"all chain members must share cluster 1: $out")
    assert(!out(1L)._2 && (2L to 5L).forall(out(_)._2))
  }

  test("clustersFromEdges: disjoint components stay separate; singletons self-cluster") {
    import spark.implicits._
    val verts = (1L to 7L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = Dedup.clustersFromEdges(verts, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
                      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("clustersFromEdges distributed branch at real size: >1M edges " +
       "take the cluster path under the DEFAULT bound, and all three " +
       "paths (hybrid, forced-driver, forced-distributed) are " +
       "bit-identical to the closed form") {
    // 1.2M nodes in chains of 10 → 1,080,000 edges: crosses the 1M
    // localFinishEdges default, so round 1 runs the genuine
    // edgeCount > localFinishEdges contraction branch — no forced-small
    // bound (the GraphRankSpec real-size pattern). Closed form: node i's
    // component minimum is i - i%10.
    val n = 1200000L
    val verts = spark.range(n).select(col("id").as("doc_id"))
    val edges = spark.range(n).filter(col("id") % 10 =!= 9)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    def misses(out: org.apache.spark.sql.DataFrame): Long =
      out.filter(col("cluster_id") =!= (col("doc_id") - col("doc_id") % 10)
                   || col("is_duplicate") =!= (col("doc_id") % 10 =!= 0))
        .count()
    // hybrid (default bound): distributed round 1, local endgame after
    val hybrid = Dedup.clustersFromEdges(verts, edges)
    assert(hybrid.count() == n && misses(hybrid) == 0,
           "hybrid path diverged from the closed form")
    // forced driver endgame at the SAME >1M-edge size
    val viaDriver = Dedup.clustersFromEdges(verts, edges,
                                            localFinishEdges = 2000000L)
    assert(viaDriver.count() == n && misses(viaDriver) == 0,
           "driver union-find endgame diverged from the closed form")
    // forced fully-distributed to convergence (endgame disabled)
    val viaCluster = Dedup.clustersFromEdges(verts, edges,
                                             localFinishEdges = 0L)
    assert(viaCluster.count() == n && misses(viaCluster) == 0,
           "distributed fixpoint diverged from the closed form")
  }

  test("lineDedup strikes corpus-wide boilerplate lines, keeps unique ones") {
    import spark.implicits._
    val footer = "Copyright 2026 Example Corp - all rights reserved"
    val nav    = "  Home | About | Contact  " // trimmed form is shared
    val docsL = Seq(
      (1L, s"unique first line one\n$footer\nunique tail one"),
      (2L, s"unique first line two\n$nav\n$footer"),
      (3L, s"${nav.trim}\nunique body three\n\nunique tail three"),
      (4L, "entirely unique document with no shared lines at all"))
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docsL, "doc_id", "text", minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == (("unique first line one\nunique tail one", 2L, 1L)))
    assert(out(2L) == (("unique first line two", 1L, 2L)))
    // blank line is never boilerplate; nav matches via trim
    assert(out(3L) == (("unique body three\n\nunique tail three", 3L, 1L)))
    assert(out(4L)._3 == 0L)
  }

  test("boilerplateDocGate drops docs dominated by duplicated lines and " +
       "computes the exact floored char fraction") {
    import spark.implicits._
    val footer = "Copyright 2026 Example Corp - all rights reserved" // 49
    val docsL = Seq(
      // footer 49 of 49+21=70 non-blank chars → frac 0.7 → dropped
      (1L, s"unique line one alpha\n$footer"),
      // footer 49 of 49+150 chars → frac ≈ 0.246 → dropped at 0.15
      (2L, s"$footer\n" + ("b" * 150)),
      // footer 49 of 49+500 chars → frac ≈ 0.089 → kept
      (3L, s"${"c" * 500}\n$footer"),
      // no duplicated lines at all → frac 0 → kept
      (4L, "entirely unique document body"),
      // blank-only doc: total 0 chars → frac 0 → kept
      (5L, "\n  \n"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateDocGate(docsL, "doc_id", "text",
                                       minDocs = 2, maxDupFraction = 0.15)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out(1L) == ((49L, 70L, 0.7, false)))
    assert(out(2L)._1 == 49L && out(2L)._2 == 199L && !out(2L)._4)
    // exact floored fraction: floor(49/199·10⁶ + 0.5)/10⁶
    assert(out(2L)._3 == math.floor(49.0 / 199.0 * 1e6 + 0.5) / 1e6)
    assert(out(3L) == ((49L, 549L,
                        math.floor(49.0 / 549.0 * 1e6 + 0.5) / 1e6, true)))
    assert(out(4L) == ((0L, 29L, 0.0, true)))
    assert(out(5L) == ((0L, 0L, 0.0, true)))
  }

  test("incremental minhash classifies batch docs against a corpus index") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near " +
      "the quiet river bank while morning light settles on the water"
    val corpus = Seq(
      (10L, corpusText),
      (11L, "an entirely different corpus document about compilers and " +
            "register allocation strategies in modern optimizing backends"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, corpusText),                                   // exact corpus dup
      (2L, corpusText.replace("morning", "evening")),     // near-dup of 10
      (3L, "novel text about oceanic plate tectonics and subduction " +
           "zones forming volcanic island arcs over geologic time"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
    val out = Dedup.minhashIncrementalPortable(batch, index,
                                               "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(out(1L) == ((true, 10L)), s"exact dup must match 10: $out")
    assert(out(2L) == ((true, 10L)), s"near dup must match 10: $out")
    assert(out(3L) == ((false, -1L)), s"novel doc must not match: $out")
    // the matched jaccard of the exact dup is 1.0
    val j = Dedup.minhashIncrementalPortable(batch, index, "doc_id", "text")
      .filter(col("doc_id") === 1L).head().getDouble(3)
    assert(j == 1.0)
    // plan shape: bucket/shingle lookups are equi-joins — never a
    // cartesian or nested-loop join
    val plan = Dedup.minhashIncrementalPortable(batch, index,
                                                "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
           s"unexpected join strategy:\n$plan")
  }

  test("keepBestByQuality keeps the highest-quality cluster member, " +
       "ties broken by smallest id; singletons keep themselves") {
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // one cluster of three
      (9L, 9L))                     // singleton
      .toDF("doc_id", "cluster_id")
    val quality = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), // 2 and 3 tie at the top
      (9L, 0.1))
      .toDF("doc_id", "q")
    val out = Dedup.keepBestByQuality(clusters, quality)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == ((2L, false)))
    assert(out(2L) == ((2L, true)), "tie must break to the smaller id")
    assert(out(3L) == ((2L, false)))
    assert(out(9L) == ((9L, true)), "singleton keeps itself")
  }

  test("incremental minhash agrees with batch-mode candidate pairs") {
    // classifying batch-vs-corpus must find exactly the cross pairs the
    // full batch-mode run finds over the union (restricted to cross side)
    val all = docs
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val batch  = all.filter(col("doc_id") % 2 =!= 0)
    val crossPairs = Dedup.minhashCandidatePairsPortable(
      all, "doc_id", "text")
      .collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        // keep only (batch, corpus) sides, normalized to batch -> corpus
        if (a % 2 != 0 && b % 2 == 0) Some(a -> b)
        else if (b % 2 != 0 && a % 2 == 0) Some(b -> a)
        else None
      }
      .groupBy(_._1).map { case (d, ms) => d -> ms.map(_._2).min }
    val index = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
    val inc = Dedup.minhashIncrementalPortable(batch, index,
                                               "doc_id", "text")
      .filter(col("dup_of_corpus"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(inc == crossPairs, s"incremental=$inc batch-mode=$crossPairs")
  }

  /** Three tight unit-vector bundles (near-dup semantic groups) plus one
    * far-off singleton: ids 0-3 point along e0 (with tiny e1 jitter),
    * 10-12 along e1, 20-21 along e2, 30 along the (1,1,1)/√3 diagonal.
    */
  private def semEmbeddings = {
    import spark.implicits._
    def v(main: Int, jitter: Double, seqNo: Int): Seq[Float] = {
      val a = Array.fill(8)(0.0)
      a(main) = 1.0
      a((main + 1) % 8) = jitter * (seqNo + 1)
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / n).toFloat).toSeq
    }
    (Seq.tabulate(4)(i => (i.toLong, v(0, 0.01, i))) ++
      Seq.tabulate(3)(i => (10L + i, v(1, 0.01, i))) ++
      Seq.tabulate(2)(i => (20L + i, v(2, 0.01, i))) ++
      Seq((30L, Seq(0.577f, 0.577f, 0.577f, 0f, 0f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding")
  }

  test("semanticDedup: tight embedding bundles collapse to min-id groups, " +
       "the far-off vector stays a singleton, plan is never cartesian") {
    val emb = semEmbeddings
    val index = Similarity.ivfIndex(emb, nCells = 4, seed = 42L)
    val pairs = Dedup.semanticPairs(index, threshold = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))

    val out = Dedup.semanticDedupWithIndex(index, emb, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(out(_) == 0L), s"e0 bundle: $out")
    assert((10L to 12L).forall(out(_) == 10L), s"e1 bundle: $out")
    assert((20L to 21L).forall(out(_) == 20L), s"e2 bundle: $out")
    assert(out(30L) == 30L, s"diagonal singleton must not merge: $out")
  }

  test("semanticPairs matches a brute-force cosine scan within cells") {
    val emb = semEmbeddings
    val index = Similarity.ivfIndex(emb, nCells = 4, seed = 42L)
    val got = Dedup.semanticPairs(index, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference over the SAME cell assignment
    val cells = index.assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
             math.sqrt(b.map(x => x * x).sum))
    }
    val want = (for {
      x <- vecs.keys; y <- vecs.keys
      if x < y && cells(x) == cells(y) && cos(vecs(x), vecs(y)) >= 0.99
    } yield (x, y)).toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("sharedSubstringSpans finds the exact planted verbatim run with " +
       "positions in both docs; a mid-run edit splits it below threshold") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"shared$i").mkString(" ")
    val brokenRun = (0 until 12).map(i =>
      if (i == 5) "EDITED" else s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"one two three $shared tail1 tail2"),
      (2L, s"aa bb cc dd ee $shared zz"),
      (3L, "totally unrelated words nothing in common here at all"),
      (6L, s"xx yy $brokenRun ww")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
                                         n = 4, minTokens = 8,
                                         maxGramDocs = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    // doc1 tokens: 3 prefix + 12 shared + 2 tail → run at [3,14]
    // doc2 tokens: 5 prefix + 12 shared + 1 tail → run at [5,16]
    assert(out == Set((1L, 2L, 3L, 14L, 5L, 16L, 12L)),
           s"unexpected spans: $out")
  }

  test("sharedSubstringSpans: the maxGramDocs guard strikes boilerplate " +
       "shared by too many docs") {
    import spark.implicits._
    val boiler = (0 until 10).map(i => s"license$i").mkString(" ")
    val docs = (0 until 6).map { i =>
      (i.toLong, s"unique$i opening words $boiler unique${i}b closing")
    }.toDF("doc_id", "text")
    val guarded = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
                                             n = 4, minTokens = 8,
                                             maxGramDocs = 5)
    assert(guarded.count() == 0,
           "grams in >5 docs must be dropped before pairing")
    val unguarded = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
                                               n = 4, minTokens = 8,
                                               maxGramDocs = 100)
    assert(unguarded.count() == 15, "all C(6,2) pairs share the run")
  }

  test("sharedSubstringSpans: maxGramOccs bounds TOTAL occurrences per " +
       "fingerprint — a gram hot inside two degenerate docs is dropped " +
       "before any gather or pair explode") {
    import spark.implicits._
    val run = (0 until 12).map(i => s"w$i").mkString(" ")
    // Two docs each repeating the same 12-token run 30 times: every run
    // gram sits in only 2 distinct docs (passes maxGramDocs) but has 60
    // total occurrences (fails a tight maxGramOccs).
    val docs = Seq(
      (1L, Seq.fill(30)(run).mkString(" xx ")),
      (2L, Seq.fill(30)(run).mkString(" yy "))
    ).toDF("doc_id", "text")
    val capped = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
                                            n = 4, minTokens = 8,
                                            maxGramDocs = 10,
                                            maxGramOccs = 5)
    assert(capped.count() == 0,
           "fps with >5 total occurrences must be dropped pre-gather")
    val uncapped = Dedup.sharedSubstringSpans(docs, "doc_id", "text",
                                              n = 4, minTokens = 8,
                                              maxGramDocs = 10,
                                              maxGramOccs = 1000000)
    assert(uncapped.count() > 0,
           "with the cap lifted the repeated run must surface as spans")
  }

  test("mergeFingerprintIndex: rolling a delta in equals a from-scratch rebuild") {
    import graft.sources.Tables
    val docs  = Tables.documents(spark, sf0001)
    val a     = docs.filter(col("doc_id") % 4 === 0)
    val delta = docs.filter(col("doc_id") % 4 === 1)
    val merged = Dedup.mergeFingerprintIndex(
      Dedup.fingerprintIndex(a, "doc_id", "text"), delta, "doc_id", "text")
      .orderBy("fp").collect().toSeq
    val rebuilt = Dedup.fingerprintIndex(
      docs.filter(col("doc_id") % 4 === 0 || col("doc_id") % 4 === 1),
      "doc_id", "text")
      .orderBy("fp").collect().toSeq
    assert(merged == rebuilt,
           "rolled index must be byte-identical to a rebuild")
    // rolling the SAME delta twice is idempotent
    val again = Dedup.mergeFingerprintIndex(
      Dedup.mergeFingerprintIndex(
        Dedup.fingerprintIndex(a, "doc_id", "text"),
        delta, "doc_id", "text"),
      delta, "doc_id", "text").orderBy("fp").collect().toSeq
    assert(again == rebuilt, "re-rolling the same delta must be a no-op")
  }

  private def minhashIndexRows(idx: Dedup.MinhashIndex) = {
    val b = idx.buckets.select("corpus_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val s = idx.shingles.select("corpus_id", "shh")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSet
    (b, s)
  }

  test("minhashIndexPortable's maxBucket guard drops exactly the planted " +
       "hot bucket's rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val distinct = (0L until 40L).map { i =>
      (i, Seq.fill(30)(s"w${rnd.nextInt(100000)}").mkString(" "))
    }
    val boiler = "identical boilerplate text planted six times with " +
      "plenty of shingle overlap between every copy"
    val corpus = (distinct ++ (200L until 206L).map(i => (i, boiler)))
      .toDF("doc_id", "text")
    def bucketRows(maxBucket: Int) =
      Dedup.minhashIndexPortable(corpus, "doc_id", "text",
                                 maxBucket = maxBucket).buckets
        .select("corpus_id", "band", "bucket").as[(Long, Int, Long)]
        .collect().toSet
    val all = bucketRows(Int.MaxValue)
    // the six copies share one bucket per band; the random docs share
    // none
    val hot = all.groupBy(r => (r._2, r._3)).filter(_._2.size > 4).keySet
    val boilerBuckets = all.filter(_._1 == 200L).map(r => (r._2, r._3))
    assert(hot == boilerBuckets)
    val guarded = bucketRows(4)
    assert(all -- guarded == all.filter(r => hot((r._2, r._3))))
    assert((all -- guarded).map(_._1) == (200L until 206L).toSet)
  }

  test("mergeMinhashIndex: an append-only roll equals a from-scratch " +
       "rebuild (buckets incl. the re-applied maxBucket guard, and " +
       "shingles); re-rolling the same delta is a no-op") {
    import graft.sources.Tables
    val docs  = Tables.documents(spark, sf0001)
    val a     = docs.filter(col("doc_id") % 4 === 0)
    val delta = docs.filter(col("doc_id") % 4 === 1)
    val union = docs.filter(col("doc_id") % 4 <= 1)
    val merged = Dedup.mergeMinhashIndex(
      Dedup.minhashIndexPortable(a, "doc_id", "text"), delta,
      "doc_id", "text")
    val rebuilt = Dedup.minhashIndexPortable(union, "doc_id", "text")
    assert(minhashIndexRows(merged) == minhashIndexRows(rebuilt),
           "rolled index must equal the rebuild exactly")
    val again = Dedup.mergeMinhashIndex(merged, delta, "doc_id", "text")
    assert(minhashIndexRows(again) == minhashIndexRows(rebuilt),
           "re-rolling the same delta must be a no-op")
  }

  test("mergeMinhashIndex: the maxBucket guard re-judges buckets over " +
       "the UNION — a bucket pushed over the cap by the delta is " +
       "dropped exactly as a rebuild drops it") {
    import spark.implicits._
    val boiler = "identical boilerplate text shared by every document " +
      "in this fixture with plenty of shingle overlap"
    val base  = (0L until 3L).map(i => (i, boiler)).toDF("doc_id", "text")
    val delta = (10L until 13L).map(i => (i, boiler)).toDF("doc_id", "text")
    // cap 4: the base's 3-doc buckets survive, the 6-doc union must drop
    val merged = Dedup.mergeMinhashIndex(
      Dedup.minhashIndexPortable(base, "doc_id", "text", maxBucket = 4),
      delta, "doc_id", "text", maxBucket = 4)
    val rebuilt = Dedup.minhashIndexPortable(
      base.unionByName(delta), "doc_id", "text", maxBucket = 4)
    assert(minhashIndexRows(merged) == minhashIndexRows(rebuilt))
    assert(merged.buckets.count() == 0,
           "all buckets hold 6 identical docs > cap 4 — must be dropped")
  }

  test("eraseFromMinhashIndex: the erased index equals a from-scratch " +
       "rebuild over the NET corpus, no erased id survives, and " +
       "re-erasing is a no-op") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 4 <= 1)
    val built = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
    val eraseIds = corpus.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id").as("corpus_id"))
    assert(eraseIds.count() > 0, "fixture drift: empty erase set")
    val erased = Dedup.eraseFromMinhashIndex(built, eraseIds)
    val rebuilt = Dedup.minhashIndexPortable(
      corpus.filter(col("doc_id") % 23 =!= 0), "doc_id", "text")
    assert(minhashIndexRows(erased) == minhashIndexRows(rebuilt),
           "erased index must equal the net-corpus rebuild exactly")
    assert(erased.buckets.count() < built.buckets.count(),
           "the erasure must actually remove bucket rows")
    assert(erased.buckets
             .join(eraseIds, Seq("corpus_id"), "left_semi")
             .count() == 0 &&
           erased.shingles
             .join(eraseIds, Seq("corpus_id"), "left_semi")
             .count() == 0,
           "no erased id may survive in buckets or shingles")
    val again = Dedup.eraseFromMinhashIndex(erased, eraseIds)
    assert(minhashIndexRows(again) == minhashIndexRows(rebuilt),
           "re-erasing must be a no-op")
  }

  test("rollClusters: star edges + delta pairs re-close to exactly the " +
       "full rebuild — incl. a delta doc that MERGES two base clusters") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog near the " +
      "quiet river bank while morning light settles on the water"
    val t2 = "an entirely different corpus document about compilers " +
      "and register allocation strategies in modern optimizing backends"
    val t3 = "novel text on oceanic plate tectonics and subduction " +
      "zones forming volcanic island arcs over geologic eras"
    // bridge fixture: A and B differ by FOUR word substitutions
    // (Jaccard < 0.5 ⇒ separate base singletons); X carries two of B's
    // four substitutions (≈ 0.68 to each side ⇒ links BOTH)
    val tA = t3
    val tB = t3.replace("novel", "fresh").replace("oceanic", "maritime")
      .replace("volcanic", "igneous").replace("geologic", "ancient")
    val tX = t3.replace("novel", "fresh").replace("oceanic", "maritime")
    // base: two separate clusters {1,2} (t1-near) and {5,6} (t2-near),
    // plus the bridge singletons 8 (tA) and 9 (tB)
    val base = Seq(
      (1L, t1), (2L, t1.replace("morning", "evening")),
      (5L, t2), (6L, t2.replace("modern", "current")),
      (8L, tA), (9L, tB)).toDF("doc_id", "text")
    // delta: 10 ~ cluster{1,2}; 11 ~ cluster{5,6}; 12 ~ 10 (delta-delta
    // chain that must close THROUGH the base); 13 novel singleton;
    // 14 = tX, the bridge that MERGES base clusters {8} and {9}
    val delta = Seq(
      (10L, t1.replace("lazy", "sleepy")),
      (11L, t2.replace("register", "storage")),
      (12L, t1.replace("lazy", "sleepy").replace("quick", "rapid")),
      (13L, "completely unrelated content about baking sourdough " +
            "bread with a long cold fermentation schedule overnight"),
      (14L, tX))
      .toDF("doc_id", "text")
    // 16 bands of 2 rows: the LSH S-curve midpoint drops to ~J 0.35,
    // so the J≈0.6 bridge pairs band-collide deterministically while
    // the J≈0.33 A-B pair is still rejected by the exact verify
    val bands = 16
    val index = Dedup.minhashIndexPortable(base, "doc_id", "text",
                                           bands = bands)
    val baseClusters = Dedup.clustersFromPairs(
        base, "doc_id", "text",
        Dedup.minhashCandidatePairsPortable(base, "doc_id", "text",
                                            bands = bands))
      .select("doc_id", "cluster_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "is_duplicate")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSet
    val rolled = rows(Dedup.rollClusters(baseClusters, index, delta,
                                         "doc_id", "text", bands = bands))
    val rebuilt = rows(Dedup.clustersFromPairs(
      base.unionByName(delta), "doc_id", "text",
      Dedup.minhashCandidatePairsPortable(base.unionByName(delta),
                                          "doc_id", "text",
                                          bands = bands)))
    assert(rolled == rebuilt, s"rolled=$rolled\nrebuilt=$rebuilt")
    // the cross-boundary transitive chain landed: 12 ~ 10 ~ {1,2} ⇒
    // 12's label is the BASE minimum 1 even though 12 never touched a
    // base doc directly
    assert(rolled.contains((12L, 1L, true)),
           s"delta-delta chain must close through the base: $rolled")
    assert(rolled.contains((11L, 5L, true)))
    assert(rolled.contains((13L, 13L, false)))
    // the bridge doc merged the two previously-separate base
    // singletons: 8, 9, 14 all label 8
    assert(rolled.contains((8L, 8L, false)) &&
             rolled.contains((9L, 8L, true)) &&
             rolled.contains((14L, 8L, true)),
           s"delta bridge must merge base clusters 8 and 9: $rolled")
  }

  test("cluster-size report conserves mass and matches the cluster table") {
    val stats = graft.operators.LlmQueries
      .q146ClusterStats(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc is in exactly one cluster of exactly one size
    val corpus = graft.sources.Tables.documents(spark, sf0001).count()
    assert(stats.map(_._3).sum == corpus,
           s"size-profile doc mass must equal the corpus: $stats")
    stats.foreach { case (sz, nc, nd) => assert(sz * nc == nd) }
    assert(stats.map(_._1).distinct.length == stats.length)
  }

  test("contrastive triplets: positives are exactly the verified " +
       "near-dup pairs, negatives sit below the duplicate threshold") {
    val t = graft.operators.LlmQueries
      .q176ContrastiveTriplets(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                 r.getDouble(3)))
    assert(t.nonEmpty)
    t.foreach { case (a, p, n, cos) =>
      assert(cos < 0.25, s"negative of $a must be below threshold: $cos")
      assert(n != a && n != p, "negative must be a third document")
    }
    val pairs = Dedup.minhashCandidatePairsPortable(
        graft.sources.Tables.documents(spark, sf0001), "doc_id", "text",
        k = 5, numHashes = 32, bands = 8, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t.map(x => (x._1, x._2)).toSet == pairs,
           "every verified pair must yield exactly one triplet")
  }

  test("scrubSharedSubstrings excises the planted run from the higher-id " +
       "side only; untouched docs pass through with zero removals") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"one two three $shared tail1 tail2"),
      (2L, s"aa bb cc dd ee $shared zz"),
      (3L, "totally unrelated words nothing in common here at all")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSharedSubstrings(docs, "doc_id", "text",
                                          n = 4, minTokens = 8,
                                          maxGramDocs = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc1 is the kept (lower-id) side: all 17 tokens survive
    assert(out(1L) == ((s"one two three $shared tail1 tail2", 17L, 0L)))
    // doc2 loses exactly the 12-token run at [5,16], keeping its 6 others
    assert(out(2L) == (("aa bb cc dd ee zz", 6L, 12L)))
    assert(out(3L)._3 == 0L)
  }

  test("scrubSharedSubstrings merges overlapping spans from different " +
       "pairs before excision — no double-removal, one contiguous cut") {
    import spark.implicits._
    val r = (0 until 18).map(i => s"r$i")
    val docs = Seq(
      (1L, "ax ay " + r.slice(0, 12).mkString(" ")),  // shares r0..r11 w/ 3
      (2L, "bx by " + r.slice(6, 18).mkString(" ")),  // shares r6..r17 w/ 3
      (3L, "cx " + r.mkString(" ") + " cz")           // scrubbed side twice
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSharedSubstrings(docs, "doc_id", "text",
                                          n = 4, minTokens = 8,
                                          maxGramDocs = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // 1↔2 share only 6 tokens (< minTokens): both keep everything vs each
    // other; doc3 is the higher-id side of BOTH pairs, whose spans
    // [1,12] and [7,18] must merge to one [1,18] cut: 18 removed, not 24
    assert(out(1L)._3 == 0L && out(2L)._3 == 0L)
    assert(out(3L) == (("cx cz", 2L, 18L)))
  }

  test("q249 threshold sweep: pair and doc counts are non-increasing " +
       "in the cutoff, docs ≤ 2·pairs, and the t=50 row equals the " +
       "q35-parameter portable pair count exactly") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.LlmQueries
      .queries("q249_dedup_thr_sweep")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._1 < b._1 && a._2 >= b._2 && a._3 >= b._3,
               s"sweep must be monotone: $a then $b")
      case _ =>
    }
    rows.foreach { case (_, np, ndocs) =>
      assert(ndocs <= 2 * np && ndocs >= 2) }
    val at50 = rows.find(_._1 == 50L).map(_._2).getOrElse(0L)
    val q35Pairs = Dedup.minhashCandidatePairsPortable(
      graft.sources.Tables.documents(spark, sf0001), "doc_id", "text",
      k = 5, numHashes = 32, bands = 8, threshold = 0.5,
      maxBucket = 1000).count()
    assert(at50 == q35Pairs,
           s"sweep t=50 ($at50) must equal the 0.5-cutoff pipeline " +
             s"($q35Pairs)")
  }
}
