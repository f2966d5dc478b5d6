package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one scan, per-partition top-k, no shuffle of
  *    the corpus. The correctness baseline and the right answer whenever
  *    |queries| is small.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are bucketed
  *    by sign-bit signatures; candidates come from a bucket equi-join, so
  *    the plan is scan → narrow join → per-query top-k. The 100 TB scale
  *    path: corpus is hashed once, each query probes only its bucket.
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions —
  * no UDFs.
  */
object Similarity {

  /** Cosine similarity between two array<float|double> columns, via the
    * native codegen'd kernel ([[graft.functions.CosineSimExpr]]). Elements
    * are cast to double before any arithmetic so results are independent of
    * the stored precision (and match a double-math oracle); numerics are
    * bit-identical to [[cosineHof]], the readable spec formulation.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CosineSimExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Fused cosine argmax over a (broadcast) candidate array via the
    * native kernel ([[graft.functions.CosineArgmaxExpr]]): one codegen'd
    * pass returns struct(closest, max_cos, n_hits). `candidates` must be
    * array<struct<bigint, array<float|double>>>. Bit-identical to
    * [[cosineArgmaxHof]], the spec twin.
    */
  def cosineArgmax(vec: Column, candidates: Column,
                   threshold: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CosineArgmaxExpr(
      ColumnBridge.expression(vec), ColumnBridge.expression(candidates),
      threshold))
  }

  /** Spec twin of [[cosineArgmax]] as higher-order functions: three
    * interpreted walks (transform → array_max, filter → size) instead of
    * one fused loop. The candidate struct is positional: field 0 = id,
    * field 1 = vector.
    */
  def cosineArgmaxHof(vec: Column, candidates: Column,
                      threshold: Double): Column = {
    val cs = transform(candidates, x =>
      struct(cosine(vec, x.getField("ev")).as("c"),
             (-x.getField("eid")).as("n")))
    val m = array_max(cs)
    struct(
      (-m.getField("n")).as("closest"),
      m.getField("c").as("max_cos"),
      coalesce(size(filter(cs, x => x.getField("c") >= lit(threshold)))
                 .cast("long"), lit(0L)).as("n_hits"))
  }

  /** Spec formulation of [[cosine]] as pure higher-order functions —
    * slower (interpreted lambdas) but dependency-free; kept as the
    * property-test twin of the native kernel.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, x => x.cast("double"))
    val dot = aggregate(zip_with(d(a), d(b), (x, y) => x * y),
                        lit(0.0d), (acc, x) => acc + x)
    val na  = sqrt(aggregate(transform(d(a), x => x * x),
                             lit(0.0d), (acc, x) => acc + x))
    val nb  = sqrt(aggregate(transform(d(b), x => x * x),
                             lit(0.0d), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Sign-bit binary quantization: bit i of one BIGINT word is set iff
    * component i is positive — 64 float32 dims become 8 bytes (a 32×
    * index cut, the "binary embeddings" serving trick), and the word is
    * exactly a seeded-free random-hyperplane sketch whose hamming
    * distance tracks angle. Dims MUST be ≤ 64 (one word); the driver
    * embeddings are 64-dim. Engine-portable bit arithmetic only.
    *
    * The precondition is ENFORCED, not advisory: Spark's
    * `shiftleft(1L, i)` wraps the shift amount mod 64, so a >64-dim
    * vector would silently alias bit i onto bit i−64 and corrupt the
    * hamming ranking downstream instead of failing. A row whose vector
    * exceeds 64 components raises at execution time via `raise_error`
    * — loud, per-row, and free for conforming rows (the guard is a
    * codegen'd CASE WHEN on `size`, no extra pass).
    */
  def withSignBits(df: DataFrame, vecCol: String = "embedding",
                   outCol: String = "sig"): DataFrame =
    df.withColumn(outCol,
      expr(s"CASE WHEN size($vecCol) > 64 THEN raise_error(concat(" +
           s"'withSignBits: dims must be <= 64, got ', " +
           s"CAST(size($vecCol) AS STRING))) " +
           s"ELSE aggregate(sequence(0, size($vecCol) - 1), 0L, " +
           s"(acc, i) -> acc + IF(element_at($vecCol, i + 1) > 0.0D, " +
           s"shiftleft(1L, i), 0L)) END"))

  /** Binary-sketch ANN with exact re-rank: queries broadcast, the
    * corpus SCAN ranks by `bit_count(xor)` hamming on the 8-byte
    * signatures only (ids + two longs ride the candidate window — the
    * float vectors never enter it; the `rank ≤ rerank` filter plans as
    * WindowGroupLimit, map-side top-R per query), then the
    * rerank-sized candidate set broadcasts back onto the corpus to
    * fetch floats for the exact cosine top-k. At 100 TB the hamming
    * pass reads 8 bytes/vector instead of 256 — the memory-bound
    * first stage binary indexes exist for.
    */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 rerank: Int = 20, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
                          col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("qvec"))
    val csig = withSignBits(c, "cvec", "csig").select("corpus_id", "csig")
    val qsig = withSignBits(q, "qvec", "qsig").select("query_id", "qsig")
    val wH = Window.partitionBy("query_id")
      .orderBy(asc("hamming"), asc("corpus_id"))
    val cand = csig
      .join(broadcast(qsig), col("query_id") =!= col("corpus_id"))
      .withColumn("hamming",
                  expr("CAST(bit_count(csig ^ qsig) AS BIGINT)"))
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= rerank)
      .select("query_id", "corpus_id", "hamming")
    val wC = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("corpus_id"))
    c.join(broadcast(cand), Seq("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("hamming"),
              round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Exact top-k neighbors for each query id. `queries` must be small
    * enough to broadcast (it is explicitly broadcast). Corpus is scanned
    * once; ranking is a window over (query, corpus-partition) — Spark plans
    * rank+filter as a per-partition top-k before the final shuffle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"),
                          col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
              round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive/embedding training data: per
    * query, the `k` MOST similar corpus vectors whose cosine stays BELOW
    * `dupThreshold` — the classic "semantically close but not a
    * duplicate" negatives; at-or-above-threshold neighbors are
    * positives/leaks and are excluded BEFORE ranking, so a query ringed
    * by near-dups still yields k genuine negatives. Same scale shape as
    * [[bruteForceTopK]]: corpus scanned once and never shuffled (queries
    * broadcast), per-partition top-k before the exchange; swap the scan
    * for an [[ivfTopK]]-style probe at 100 TB with a larger candidate k.
    */
  /** `exclude`, when given, is a (query_id, corpus_id) relation of KNOWN
    * POSITIVES to anti-join out of negative candidacy — the standard
    * triplet-mining guard: the cosine threshold excludes embedding-space
    * duplicates, but a pair known positive through ANOTHER signal (text
    * near-dup, click log) must be excluded explicitly or it can
    * surface as a "negative".
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    dupThreshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    exclude: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && dupThreshold > -1.0 && dupThreshold <= 1.0,
            "need k > 0 and dupThreshold in (-1, 1]")
    val c = corpus.select(col(idCol).as("corpus_id"),
                          col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("qvec"))
    val scored0 = c.join(broadcast(q), col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
      .filter(col("cos") < dupThreshold)
    val scored = exclude.fold(scored0)(ex =>
      scored0.join(broadcast(ex.select("query_id", "corpus_id")),
                   Seq("query_id", "corpus_id"), "left_anti"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
              round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Random-hyperplane sign signature: `nBits` fixed pseudo-random
    * hyperplanes (deterministically derived from a seed via a splitmix-ish
    * integer mix — no RNG object, fully reproducible), each contributing a
    * sign bit. Returns a bigint bucket id.
    */
  /** Deterministic "random" hyperplane component for (bit, dimension):
    * integer-mixed (splitmix-style) hash mapped to [-1, 1). Matches nothing
    * external — just a fixed reproducible projection matrix computed
    * inline. Public so the DuckDB oracle can inline the SAME matrix as SQL
    * literals and replay the signature exactly.
    */
  def hyperplaneComponent(bit: Int, d: Int, seed: Long = 42L): Double = {
    var z = seed + bit.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  def hyperplaneSignature(vec: Column, dim: Int, nBits: Int = 12,
                          seed: Long = 42L): Column = {
    val bits = (0 until nBits).map { b =>
      val plane = typedLit((0 until dim).map(d => hyperplaneComponent(b, d, seed)))
      val dot = aggregate(
        zip_with(vec, plane, (x, w) => x.cast("double") * w),
        lit(0.0d), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Build the LSH index once: corpus rows keyed by hyperplane-signature
    * bucket. This is the expensive pass (one corpus scan + signature) —
    * persist it (or write it bucketed-by-`bucket`) and reuse across query
    * batches; the scale probe (PLANS.md) shows the per-run re-hash is what
    * makes one-shot LSH lose to brute force on small corpora.
    */
  def lshIndex(corpus: DataFrame, dim: Int, nBits: Int = 12,
               seed: Long = 42L, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("bucket", hyperplaneSignature(col("cvec"), dim, nBits, seed))

  /** ROLL a persisted [[lshIndex]] forward with a delta batch — the
    * maintenance job for the LSH family (the q144/q147/q151/q152
    * pattern): the hyperplane signature is a pure row-local function of
    * the vector, so the roll is hash-the-delta + upsert (re-ingested
    * ids replace their rows; re-rolling is a no-op). Exactly equal to
    * [[lshIndex]] rebuilt over base ∪ delta — the one index family
    * whose roll is unconditionally exact even under re-ingestion,
    * because there is no cross-row state (no guard, no stats) to
    * reconcile. SimilaritySpec pins it; q153's oracle replays the
    * rolled-index classification against a full rebuild.
    */
  def mergeLshIndex(base: DataFrame, delta: DataFrame, dim: Int,
                    nBits: Int = 12, seed: Long = 42L,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val deltaIds = delta.select(col(idCol).as("corpus_id")).distinct()
    base.join(broadcast(deltaIds), Seq("corpus_id"), "left_anti")
      .select("corpus_id", "cvec", "bucket")
      .unionByName(lshIndex(delta, dim, nBits, seed, idCol, vecCol)
                     .select("corpus_id", "cvec", "bucket"))
  }

  /** LSH-bucketed approximate top-k: bucket corpus and queries by
    * hyperplane signature, equi-join on bucket, rank within query.
    * Multi-probe: each query also probes buckets at Hamming distance 1
    * (flip each bit) to recover near-boundary neighbors — recall knob
    * without any corpus re-hash.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 12, seed: Long = 42L,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    lshTopKWithIndex(lshIndex(corpus, dim, nBits, seed, idCol, vecCol),
                     queries, k, dim, nBits, seed, idCol, vecCol)

  /** Query a prebuilt (typically persisted) [[lshIndex]]. */
  def lshTopKWithIndex(index: DataFrame, queries: DataFrame, k: Int,
                       dim: Int, nBits: Int = 12, seed: Long = 42L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val c = index
    // query probes: own bucket + all 1-bit flips
    val probes = array(
      (col("bucket") +: (0 until nBits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b)))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("bucket", hyperplaneSignature(col("qvec"), dim, nBits, seed))
      .withColumn("probe", explode(probes))
      .drop("bucket")
    val cand = c.join(broadcast(q), col("bucket") === col("probe") &&
                        col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("corpus_id"))
    cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
              round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF (inverted-file) ANN: partition the corpus by seeded KMeans
    * centroid, then each query probes only its `nProbe` nearest cells.
    *
    * The 100 TB shape: centroids are O(√N) rows fit on the driver and
    * broadcast; the corpus is scanned once at index build (KMeans fit +
    * cell assignment — both distributed), and each query's candidate set
    * is corpus/nCells × nProbe via a broadcast equi-join on cell id.
    * Recall is tunable with nProbe at constant index cost, unlike LSH
    * where recall is baked into the bit count.
    */
  /** Prebuilt IVF index: cell-assigned corpus (persist or write
    * partitioned by `cell`) + the nCells centroid table.
    */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Build the IVF index once — the expensive pass (KMeans fit + corpus
    * assignment). Reuse across query batches like [[lshIndex]].
    */
  def ivfIndex(corpus: DataFrame, nCells: Int = 16, seed: Long = 42L,
               kmeansMaxIter: Int = 8, idCol: String = "vec_id",
               vecCol: String = "embedding"): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val corpusVec = corpus.select(
      col(idCol).as("corpus_id"), col(vecCol).as("cvec"),
      array_to_vector(transform(col(vecCol), x => x.cast("double")))
        .as("fvec"))
    // Index quality saturates fast; cap iterations — cell assignment just
    // needs rough Voronoi structure, recall comes from nProbe.
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setMaxIter(kmeansMaxIter)
      .setFeaturesCol("fvec").setPredictionCol("cell")
      .fit(corpusVec)
    val indexed = model.transform(corpusVec).select("corpus_id", "cvec", "cell")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")
    IvfIndex(indexed, cents)
  }

  /** Squared euclidean distance between a float-array vector and a
    * double-array centroid — row-local HOF arithmetic, same
    * left-to-right summation order as the oracle's replay.
    */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
                val d = x.cast("double") - y; d * d
              }),
              lit(0.0d), (acc, v) => acc + v)

  /** Assign vectors to a FIXED centroid table by euclidean argmin (ties
    * → smallest cell) — the KMeans-free assignment the index ROLL uses:
    * rolling must not re-fit, so delta vectors route to the cells the
    * BASE fit defined. Same Voronoi rule the q45/q88 oracles replay
    * with `list_distance` argmin; SimilaritySpec pins agreement with
    * the fitted model's own assignment on the clustered corpus. Output:
    * (corpus_id, cvec, cell) — [[IvfIndex.assigned]]'s schema.
    *
    * Scale shape: centroids are O(√N) rows broadcast; assignment is one
    * row-local pass over the vectors (cross join against the broadcast
    * + per-vector argmin window partitioned by id).
    */
  def assignToCells(centroids: DataFrame, vectors: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy("corpus_id")
      .orderBy(asc("__d2"), asc("cell"))
    vectors.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .join(broadcast(centroids), lit(true))
      .withColumn("__d2", dist2(col("cvec"), col("centroid")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select("corpus_id", "cvec", "cell")
  }

  /** Diversity-balanced subset off a persisted [[IvfIndex]]: the k
    * md5-priority winners from EACH Voronoi cell — cluster-stratified
    * coreset selection (the embedding-space analogue of
    * [[QualityFilters.stratifiedTopN]]): a uniform hash sample
    * reproduces the corpus density and so over-draws its dense modes,
    * while drawing per CELL guarantees every embedding-space region
    * keeps representation. This is the curation move for eval-set
    * seeding and balanced fine-tuning subsets.
    *
    * Plan: reads the ALREADY-ASSIGNED index table (the expensive KMeans
    * + assignment pass is amortized across every consumer of the index),
    * then one shuffle on `cell` where WindowGroupLimit keeps ≤k rows per
    * task. Membership is the md5-order trick: content-stable, RNG-free,
    * engine-portable, and the selected set NESTS as k grows.
    */
  def cellBalancedSample(index: IvfIndex, k: Int): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(md5(col("corpus_id").cast("string").cast("binary")),
               asc("corpus_id"))
    index.assigned.select(col("cell"), col("corpus_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** ROLL a persisted [[IvfIndex]] forward with a delta batch — the
    * q144/q147/q151 maintenance invariant for the IVF family: the delta
    * is assigned to the base's FIXED centroids ([[assignToCells]] — no
    * re-fit, the whole point of the roll) and upserts into the assigned
    * table (re-ingested ids replace their rows, so re-rolling is a
    * no-op). Centroids pass through unchanged. Equal by construction to
    * assigning the union corpus against the same centroids
    * (SimilaritySpec pins it); when cells drift hot the roll can't fix
    * that — q152's health report is the refit trigger.
    */
  def mergeIvfIndex(base: IvfIndex, delta: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): IvfIndex = {
    val deltaIds = delta.select(col(idCol).as("corpus_id")).distinct()
    val assigned = base.assigned
      .join(broadcast(deltaIds), Seq("corpus_id"), "left_anti")
      .select("corpus_id", "cvec", "cell")
      .unionByName(assignToCells(base.centroids, delta, idCol, vecCol))
    IvfIndex(assigned, base.centroids)
  }

  /** Right-to-be-forgotten for the persisted ANN estate — one
    * id-keyed anti-join per family, erase-proportional, the
    * [[Dedup.eraseFromMinhashIndex]] discipline applied to the vector
    * indexes. Per-vector rows (LSH buckets, IVF cell assignments, PQ
    * codes) are SUBJECT data and go; the fitted model parameters
    * (IVF centroids, PQ codebooks, the LSH hyperplanes implicit in
    * the seed) are aggregates over the training corpus and are
    * RETAINED — the same privacy class as a trained model, and the
    * same frozen-model convention the roll ops already pin
    * (re-fitting is the separately scheduled job q152's health report
    * triggers). Because every per-vector row is a pure row-local
    * function of (vector, frozen model), erased ≡ net-corpus rebuild
    * EXACTLY for all three families — no guard/min-owner corner —
    * and the q283 estate attestation measures the gap at 0.
    */
  def eraseFromLshIndex(index: DataFrame, eraseIds: DataFrame): DataFrame =
    index.join(eraseIds, Seq("corpus_id"), "left_anti")

  /** See [[eraseFromLshIndex]] — centroids retained by design. */
  def eraseFromIvfIndex(index: IvfIndex, eraseIds: DataFrame): IvfIndex =
    IvfIndex(index.assigned.join(eraseIds, Seq("corpus_id"), "left_anti"),
             index.centroids)

  /** See [[eraseFromLshIndex]] — codebooks retained by design. */
  def eraseFromPqIndex(index: PqIndex, eraseIds: DataFrame): PqIndex =
    index.copy(codes =
      index.codes.join(eraseIds, Seq("corpus_id"), "left_anti"))

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 3, seed: Long = 42L,
              kmeansMaxIter: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    ivfTopKWithIndex(
      ivfIndex(corpus, nCells, seed, kmeansMaxIter, idCol, vecCol),
      queries, k, nProbe, idCol, vecCol)

  /** Query a prebuilt [[IvfIndex]]. */
  def ivfTopKWithIndex(index: IvfIndex, queries: DataFrame, k: Int,
                       nProbe: Int = 3, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val indexed = index.assigned
    val cents   = index.centroids

    // each query ranks centroids by cosine, keeps top nProbe cells
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val wCells = Window.partitionBy("query_id")
      .orderBy(desc("cell_cos"), asc("cell"))
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("cell_cos", cosine(col("qvec"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCells))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qvec", "cell")

    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("corpus_id"))
    indexed.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
              round(col("cos"), 6).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** All (corpus, query) pairs at or above a cosine threshold, pruned by
    * a prebuilt [[IvfIndex]]: each query probes its `nProbe`
    * closest-centroid cells and compares only against their members —
    * the threshold-query analogue of [[ivfTopKWithIndex]] (which ranks;
    * this filters). Every returned pair carries its TRUE cosine, so the
    * result is a SUBSET of the exact threshold join with zero false
    * positives; recall is tuned with nProbe at constant index cost.
    *
    * Scale shape: centroids broadcast (O(√N) rows), probed
    * (query, cell) pairs broadcast (nProbe × |queries| rows), the
    * assigned table joins on `cell` — the corpus never self-joins and
    * only probed-cell members are scored.
    */
  def ivfThresholdMatches(index: IvfIndex, queries: DataFrame,
                          threshold: Double, nProbe: Int = 3,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val wCells = Window.partitionBy("query_id")
      .orderBy(desc("cell_cos"), asc("cell"))
    val probed = q.join(broadcast(index.centroids), lit(true))
      .withColumn("cell_cos", cosine(col("qvec"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCells))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qvec", "cell")
    index.assigned.join(broadcast(probed), Seq("cell"))
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
      .filter(col("cos") >= threshold)
      .select(col("corpus_id"), col("query_id"), col("cos"))
  }

  /** Brute-force all-pairs-free similarity JOIN between two document sets
    * via shared LSH buckets — returns pairs above a cosine threshold.
    * (The `approxSimilarityJoin` shape, hand-built so the plan is a plain
    * equi-join Catalyst can reason about.)
    *
    * Skew guard: the bucket equi-join is quadratic WITHIN a bucket, so a
    * hot bucket (clustered corpus, too few bits) is a scale-killer. Each
    * side drops buckets holding more than `maxBucket` of its rows before
    * the join (the [[Dedup.minhashCandidatePairsPortable]] guard), capping the
    * per-bucket candidate count at maxBucket². Sizing rule: choose
    * nBits ≈ log2(N / targetBucketSize) so the EXPECTED bucket holds
    * `targetBucketSize` rows and the guard only fires on pathological
    * (boilerplate/duplicate-storm) buckets, which exact dedup handles.
    */
  def lshSimilarityJoin(left: DataFrame, right: DataFrame, dim: Int,
                        threshold: Double, nBits: Int = 10,
                        seed: Long = 42L, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBucket: Int = 10000): DataFrame = {
    def guarded(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("bucket")
      df.withColumn("bsize", count(lit(1)).over(w))
        .filter(col("bsize") <= maxBucket)
        .drop("bsize")
    }
    // salted bucket join — same straggler guard as Dedup.pairsFromSigTable:
    // a bucket at the maxBucket cap emits its quadratic pair set across S
    // tasks instead of one
    val S = 8
    val l = guarded(
      left.select(col(idCol).as("left_id"), col(vecCol).as("lvec"))
        .withColumn("bucket",
                    hyperplaneSignature(col("lvec"), dim, nBits, seed)))
      .withColumn("salt", pmod(xxhash64(col("left_id")), lit(S)).cast("int"))
    val r = guarded(
      right.select(col(idCol).as("right_id"), col(vecCol).as("rvec"))
        .withColumn("bucket",
                    hyperplaneSignature(col("rvec"), dim, nBits, seed)))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    l.join(r, Seq("bucket", "salt"))
      .drop("salt")
      .filter(col("left_id") < col("right_id"))
      .withColumn("cos", cosine(col("lvec"), col("rvec")))
      .filter(col("cos") >= threshold)
      .select(col("left_id"), col("right_id"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Per-vector symmetric int8 quantization: each embedding becomes
    * `round(x * 127 / max|x|)` ints plus a `qscale = max|x| / 127`
    * reconstruction factor — the standard 4× memory cut for a
    * billion-vector ANN index (float32 → int8). Cosine RANKING needs no
    * dequantization at all: the per-vector scale cancels in
    * dot/(|a||b|), so the quantized index is searched with the same
    * [[cosine]] kernel on exact small integers.
    *
    * Rounding is spelled `floor(x + 0.5)` — portable half-up across
    * engines (`round()` differs between HALF_UP and banker's semantics
    * for negatives, exactly the kind of silent divergence an
    * oracle-checked pipeline can't tolerate). All-zero vectors quantize
    * to all-zero with qscale 0. The max|x| reduction is materialized as
    * a named column BEFORE the quantize lambda references it (the
    * [[Dedup.shinglesOfNorm]] HOF re-evaluation rule).
    */
  def withQuantizedInt8(df: DataFrame, vecCol: String = "embedding",
                        outCol: String = "qvec"): DataFrame =
    df.withColumn("__maxabs",
                  array_max(transform(col(vecCol),
                                      x => abs(x.cast("double")))))
      .withColumn(outCol,
        when(col("__maxabs") === 0.0d,
             transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(
            col(vecCol),
            x => floor(x.cast("double") * 127.0d / col("__maxabs") + 0.5d)
                   .cast("tinyint"))))
      .withColumn("qscale", col("__maxabs") / 127.0d)
      .drop("__maxabs")

  /** Retrieval-result diversity audit: per query, pairwise-cosine
    * stats (mean/max/min, 6 dp) among its exact top-k results — the
    * redundancy number a serving stack monitors beside recall (mean
    * near 1 = a result page of near-duplicates). Pairs are bounded at
    * k·(k−1)/2 per query, the ids re-join their vectors in one
    * result-sized pass, and the mean follows the exact-DECIMAL-sum +
    * one-IEEE-division convention so summation order cannot flap the
    * rounding.
    */
  def resultDiversity(corpus: DataFrame, queries: DataFrame, k: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val top = bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("corpus_id"))
    val withV = top.join(
      corpus.select(col(idCol).as("corpus_id"),
                    col(vecCol).as("__v")),
      Seq("corpus_id"))
    val a = withV.select(col("query_id"), col("corpus_id").as("ca"),
                         col("__v").as("va"))
    val b = withV.select(col("query_id"), col("corpus_id").as("cb"),
                         col("__v").as("vb"))
    a.join(b, Seq("query_id")).filter(col("ca") < col("cb"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"),
           (floor(sum(col("cos").cast("decimal(18,6)")).cast("double")
                    / count(lit(1)).cast("double") * 1000000.0d + 0.5d)
              / 1000000.0d).as("mean_cos"),
           round(max("cos"), 6).as("max_cos"),
           round(min("cos"), 6).as("min_cos"))
      .orderBy("query_id")
  }

  /** Exact top-k over the int8-quantized index: same plan as
    * [[bruteForceTopK]] (broadcast queries, per-partition top-k) but the
    * corpus scanned is a quarter the bytes. Integer dots are exact in
    * double arithmetic (≤ 127²·dim ≪ 2⁵³), so results are deterministic
    * and engine-portable — the recall loss vs float32 comes only from
    * the quantization grid, pinned ≥0.9 by spec.
    */
  def bruteForceTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    // the index STORES array<tinyint> (the 4× cut); the kernel wants
    // float/double, so a single codegen'd array Cast widens at query
    // time — byte values are exact in float, dots are exact in the
    // kernel's double accumulation
    def widened(df: DataFrame) =
      withQuantizedInt8(df, vecCol).drop(vecCol)
        .withColumn("qvecf", col("qvec").cast("array<float>"))
    bruteForceTopK(widened(corpus), widened(queries),
                   k, idCol, vecCol = "qvecf")
  }

  /** Product-quantization index (Jégou et al. 2011 — the FAISS PQ core):
    * the vector space is split into `nSub` contiguous subspaces, each
    * with its own seeded k-means codebook of `nCodes` centroids, and
    * every corpus vector is stored as `nSub` small codes — 64 float32
    * dims become 4 bytes at (4, 16), a 64× memory cut, which at 100 TB
    * is the difference between an in-RAM index and none. `codes` is
    * (corpus_id, codes ARRAY<INT>); `codebooks` is (sub, code, centroid).
    */
  case class PqIndex(codes: DataFrame, codebooks: DataFrame,
                     nSub: Int, subDim: Int)

  /** Fit the PQ codebooks (one seeded MLlib KMeans per subspace over the
    * sliced corpus — `seed + sub` keeps subspaces independent but
    * deterministic) and encode the corpus with the PORTABLE assignment
    * rule ([[pqAssignCodes]] — explicit d² argmin, ties → smallest code,
    * the same Voronoi convention the IVF roll uses), so encoding is
    * exactly replayable from the centroid literals.
    */
  def pqIndex(corpus: DataFrame, nSub: Int = 4, nCodes: Int = 16,
              seed: Long = 42L, kmeansMaxIter: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim must split into $nSub subspaces")
    val subDim = dim / nSub
    val base = corpus.select(col(idCol).as("corpus_id"),
                             col(vecCol).as("cvec"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = (0 until nSub).flatMap { s =>
      val sv = base.select(
        col("corpus_id"),
        array_to_vector(
          transform(slice(col("cvec"), s * subDim + 1, subDim),
                    x => x.cast("double"))).as("fvec"))
      val m = new KMeans().setK(nCodes).setSeed(seed + s)
        .setMaxIter(kmeansMaxIter)
        .setFeaturesCol("fvec").setPredictionCol("code")
        .fit(sv)
      m.clusterCenters.zipWithIndex.map { case (c, i) =>
        (s, i, c.toArray.toSeq)
      }
    }.toDF("sub", "code", "centroid")
    PqIndex(pqAssignCodes(cb, base, subDim), cb, nSub, subDim)
  }

  /** Encode vectors against FIXED codebooks: per (vector, subspace) the
    * d²-argmin code (ties → smallest code), gathered into the sub-major
    * code array. Row-local against the broadcast codebooks + one
    * per-(id, sub) window over nSub·nCodes candidate rows — linear in
    * the corpus, and the rule another engine replays verbatim.
    * Input `vectors` must be (corpus_id, cvec).
    */
  def pqAssignCodes(codebooks: DataFrame, vectors: DataFrame,
                    subDim: Int): DataFrame = {
    val w = Window.partitionBy("corpus_id", "sub")
      .orderBy(asc("__d2"), asc("code"))
    vectors.join(broadcast(codebooks), lit(true))
      .withColumn("__d2",
                  dist2(slice(col("cvec"), col("sub") * subDim + 1,
                              lit(subDim)),
                        col("centroid")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy("corpus_id")
      .agg(transform(
             array_sort(collect_list(struct(col("sub"), col("code")))),
             s => s.getField("code")).as("codes"))
  }

  /** Embedding hygiene gate — the QA pass an ANN/dedup consumer runs
    * before indexing a new embedding batch: flag zero vectors (encoder
    * failures serialize as zeros more often than anything else) and
    * norm outliers (scale bugs, double-normalization, truncated
    * payloads) by a robust median/MAD rule on the ×10⁶-quantized norm.
    *
    * Medians are LOWER medians (smallest value whose cumulative count
    * reaches ⌈n/2⌉) — a pure integer definition with no interpolation,
    * so any engine picks the identical element — computed the q112 way:
    * counts per QUANTIZED value (one narrow shuffle bounded by the
    * ×10⁴ norm grid, never by corpus size), then a cumulative window
    * over grid rows only. The MAD repeats it on |norm − med|.
    * `is_outlier` = zero norm OR |norm − med| > madK · MAD.
    */
  def vectorQuarantine(df: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       madK: Int = 5): DataFrame = {
    val normed = df.select(
      col(idCol).as("vec_id"),
      floor(sqrt(aggregate(transform(col(vecCol), x =>
                             x.cast("double") * x.cast("double")),
                           lit(0.0d), (acc, v) => acc + v))
              * 10000.0d + 0.5d).cast("long").as("norm_e4"))
    // lower median over the value GRID: counts per quantized value →
    // cumulative window over grid rows → first value reaching ⌈n/2⌉
    def lowerMedian(in: DataFrame, valCol: String): DataFrame = {
      val counts = in.groupBy(valCol).agg(count(lit(1)).as("__c"))
      val w = Window.orderBy(col(valCol))
        .rowsBetween(Window.unboundedPreceding, 0)
      val n = in.agg(count(lit(1)).as("__n"))
      counts.crossJoin(broadcast(n))
        .withColumn("__cum", sum("__c").over(w))
        // `div`, not `/`: Column./ on longs detours through doubles
        .filter(col("__cum") >= expr("(__n + 1) div 2"))
        .orderBy(valCol).limit(1)
        .select(col(valCol).as("__med"))
    }
    val med = lowerMedian(normed, "norm_e4")
    val dev = normed.crossJoin(broadcast(med))
      .withColumn("abs_dev", abs(col("norm_e4") - col("__med")))
    val mad = lowerMedian(dev.select(col("abs_dev")), "abs_dev")
      .select(col("__med").as("__mad"))
    dev.crossJoin(broadcast(mad))
      .select(
        col("vec_id"), col("norm_e4"),
        col("__med").as("median_e4"), col("__mad").as("mad_e4"),
        when(col("norm_e4") === 0L, lit("zero_norm"))
          .when(col("abs_dev") > col("__mad") * madK,
                lit("norm_outlier"))
          .otherwise(lit("ok")).as("reason"))
      .withColumn("is_outlier", col("reason") =!= "ok")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix parallel-corpus miner): a source-language document
    * pairs with the target-language document that maximizes the MARGIN
    * cos(x,y) / (½·(avgₖ(x) + avgₖ(y))), where avgₖ is the mean cosine
    * of each side's k nearest neighbors in the OTHER language — the
    * ratio criterion that suppresses hubs (vectors close to everything)
    * which absolute-threshold mining mis-pairs.
    *
    * Both k-NN averages are computed by rank-pivoting the top-k
    * cosines into fixed columns and adding them in rank order, so the
    * double arithmetic is engine-identical (the PQ ADC trick); margins
    * round to 6 decimals with id tie-breaks. Requires ≥ k docs on each
    * side.
    *
    * Scale shape: the target side is broadcast (mining runs one
    * language-shard batch at a time — the production loop's unit); the
    * pair frame shuffles twice for the two per-side rank windows. At
    * 100 TB the candidate pairs come from the PERSISTED IVF/PQ index
    * instead of the dense cross ([[ivfThresholdMatches]] composed the
    * q160 way) with the same margin arithmetic on top.
    */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                       minMargin: Double = 1.05,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k > 0, "k > 0")
    // fewer than k rows on either side would leave null pivot columns,
    // null margins, and a silently empty result — fail loudly instead
    require(src.limit(k).count() >= k && tgt.limit(k).count() >= k,
            s"bitext mining needs >= k=$k docs on each side")
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("sv"))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("tv"))
    val scored = s.join(broadcast(t), lit(true))
      .withColumn("cos", cosine(col("sv"), col("tv")))
      .select("src_id", "tgt_id", "cos")
    val ws = Window.partitionBy("src_id").orderBy(desc("cos"),
                                                 asc("tgt_id"))
    val wt = Window.partitionBy("tgt_id").orderBy(desc("cos"),
                                                  asc("src_id"))
    val ranked = scored
      .withColumn("rs", row_number().over(ws))
      .withColumn("rt", row_number().over(wt))
    def knnAvg(side: String, rank: String) = {
      val pivots = (1 to k).map(r =>
        max(when(col(rank) === r, col("cos"))).as(s"__c$r"))
      val sum = (2 to k).foldLeft(col("__c1")) {
        (acc, r) => acc + col(s"__c$r")
      }
      ranked.filter(col(rank) <= k)
        .groupBy(side)
        .agg(pivots.head, pivots.tail: _*)
        .select(col(side), (sum / k).as(s"__avg_$side"))
    }
    val out = ranked
      .join(knnAvg("src_id", "rs"), Seq("src_id"))
      .join(broadcast(knnAvg("tgt_id", "rt")), Seq("tgt_id"))
      .withColumn("margin",
                  round(col("cos") /
                          ((col("__avg_src_id") + col("__avg_tgt_id"))
                             / 2.0d), 6))
    val wBest = Window.partitionBy("src_id")
      .orderBy(desc("margin"), asc("tgt_id"))
    out
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1 && col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"),
              round(col("cos"), 6).as("cos"), col("margin"))
  }

  /** IVF-PQ ranking (the FAISS composition): queries probe their
    * `nProbe` closest IVF cells (the [[ivfTopKWithIndex]] probe shape —
    * broadcast centroids, cosine argtop), and ONLY the probed cells'
    * members are ADC-ranked against the PQ codes — so a query touches
    * |corpus|·nProbe/nCells code rows instead of the full code scan,
    * and never a float vector at all. Requires both PERSISTED indexes
    * over the same corpus; candidate pruning (IVF) and memory
    * compression (PQ) compose orthogonally, which is the whole point.
    * Same fixed-order ADC arithmetic and rounded-distance ranking as
    * [[pqTopK]], so the composition replays in SQL from the two
    * indexes' literals.
    */
  def ivfPqTopK(ivf: IvfIndex, pq: PqIndex, queries: DataFrame,
                k: Int = 10, nProbe: Int = 3,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
                           col(vecCol).as("qvec"))
    val wCells = Window.partitionBy("query_id")
      .orderBy(desc("cell_cos"), asc("cell"))
    val probed = q.join(broadcast(ivf.centroids), lit(true))
      .withColumn("cell_cos", cosine(col("qvec"), col("centroid")))
      .withColumn("__rk", row_number().over(wCells))
      .filter(col("__rk") <= nProbe)
      .select("query_id", "cell")
    val cand = ivf.assigned.select("corpus_id", "cell")
      .join(broadcast(probed), Seq("cell"))
      .select("query_id", "corpus_id")
    val qt = q.join(broadcast(pq.codebooks), lit(true))
      .select(col("query_id"), col("sub"), col("code"),
              dist2(slice(col("qvec"), col("sub") * pq.subDim + 1,
                          lit(pq.subDim)),
                    col("centroid")).as("d2"))
    val ce = pq.codes
      .select(col("corpus_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "code")
    val subCols = (0 until pq.nSub).map(s =>
      max(when(col("sub") === s, col("d2"))).as(s"__d$s"))
    val adc = (1 until pq.nSub).foldLeft(col("__d0")) {
      (acc, s) => acc + col(s"__d$s")
    }
    val w = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("corpus_id"))
    cand.join(ce, Seq("corpus_id"))
      .join(broadcast(qt), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("corpus_id"))
      .groupBy("query_id", "corpus_id")
      .agg(subCols.head, subCols.tail: _*)
      .withColumn("adc_d2", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("adc_d2"),
              col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Roll the PQ index forward with a delta batch WITHOUT refitting:
    * delta vectors are encoded against the BASE codebooks (the fixed
    * Voronoi rule — codebooks define the quantization contract, refit =
    * new index version) and upserted by id, latest wins. Cost is
    * delta-sized encoding + an id anti-join over narrow code rows —
    * never a corpus re-encode. Same day-two contract as
    * [[mergeIvfIndex]]; spec-pinned merged ≡ assign-over-union and
    * re-roll idempotence.
    */
  def mergePqIndex(base: PqIndex, delta: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): PqIndex = {
    val deltaIds = delta.select(col(idCol).as("corpus_id")).distinct()
    val deltaCodes = pqAssignCodes(
      base.codebooks,
      delta.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec")),
      base.subDim)
    val codes = base.codes
      .join(broadcast(deltaIds), Seq("corpus_id"), "left_anti")
      .select("corpus_id", "codes")
      .unionByName(deltaCodes)
    PqIndex(codes, base.codebooks, base.nSub, base.subDim)
  }

  /** Approximate top-k by asymmetric distance computation (ADC): each
    * query builds its nSub×nCodes distance table against the broadcast
    * codebooks (row-local), and a corpus vector's approximate d² is the
    * FIXED-ORDER sum of its codes' table entries — the whole scan
    * touches only (id, sub, code) ints, never the original floats.
    * The sub-wise sum is pivoted into explicit columns and added in
    * subspace order so the double arithmetic is identical in any
    * engine; ranking orders by the 6-decimal rounded distance with an
    * id tie-break. Queries must be broadcast-small (they are
    * explicitly broadcast, twice — tables, then scan).
    */
  def pqTopK(index: PqIndex, queries: DataFrame, k: Int = 10,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val qt = queries.select(col(idCol).as("query_id"),
                            col(vecCol).as("qvec"))
      .join(broadcast(index.codebooks), lit(true))
      .select(col("query_id"), col("sub"), col("code"),
              dist2(slice(col("qvec"), col("sub") * index.subDim + 1,
                          lit(index.subDim)),
                    col("centroid")).as("d2"))
    val ce = index.codes
      .select(col("corpus_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub")
      .withColumnRenamed("col", "code")
    val subCols = (0 until index.nSub).map(s =>
      max(when(col("sub") === s, col("d2"))).as(s"__d$s"))
    val adc = (1 until index.nSub).foldLeft(col("__d0")) {
      (acc, s) => acc + col(s"__d$s")
    }
    val w = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("corpus_id"))
    ce.join(broadcast(qt), Seq("sub", "code"))
      .filter(col("query_id") =!= col("corpus_id"))
      .groupBy("query_id", "corpus_id")
      .agg(subCols.head, subCols.tail: _*)
      .withColumn("adc_d2", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("adc_d2"),
              col("rank"))
      .orderBy("query_id", "rank")
  }
}
