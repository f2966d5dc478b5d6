package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Every variant is a groupBy/join plan with
  * NO all-pairs stage and no driver state — the cardinal 100 TB constraints.
  *
  * Candidate generation is always signature → band → bucket-join; exact
  * similarity is computed only WITHIN buckets, and cluster assignment is
  * min-id-over-neighbors (documents in a near-dup clique all map to the
  * clique's smallest id — the standard keep-first policy of web-scale dedup
  * pipelines).
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint. One
    * shuffle on the 128-bit key; output assigns every doc its cluster
    * representative (min doc_id among identical texts).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w  = Window.partitionBy("fp")
    df.select(col(idCol).as("doc_id"), fp.as("fp"))
      .withColumn("cluster_id", min("doc_id").over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("cluster_id"))
      .select("doc_id", "cluster_id", "is_duplicate")
  }

  /** Whitespace/case normalization feeding [[shingles]] — exposed so
    * pipelines can materialize it as a NAMED column before shingling.
    */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Incremental exact dedup: classify a NEW batch against an EXISTING
    * corpus fingerprint index — the daily-ingest shape (crawl delta vs
    * the accumulated index) where re-clustering the whole corpus would be
    * absurd. Returns every new doc with `dup_of_corpus` (fingerprint
    * already in the index), `dup_in_batch` (an earlier doc in the SAME
    * batch has it), and the batch-local `cluster_id`.
    *
    * Scale: the index side is (fp, min_id) — one row per DISTINCT corpus
    * text, usually orders of magnitude smaller than the corpus, stored
    * sorted/bucketed by fp in production; the join is a plain equi-join
    * on the 128-bit key. The new batch (a day's delta) is the small side;
    * nothing ever re-touches corpus text.
    */
  def exactIncremental(newBatch: DataFrame, corpusIndex: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w  = Window.partitionBy("fp")
    newBatch.select(col(idCol).as("doc_id"), fp.as("fp"))
      .join(corpusIndex.select(col("fp"), col("corpus_id")), Seq("fp"), "left")
      .withColumn("cluster_id", min("doc_id").over(w))
      .select(col("doc_id"),
              col("corpus_id").isNotNull.as("dup_of_corpus"),
              (col("doc_id") =!= col("cluster_id")).as("dup_in_batch"),
              col("cluster_id"))
  }

  /** Build the (fp, corpus_id) fingerprint index [[exactIncremental]]
    * joins against: one row per distinct normalized text, keyed by the
    * minimum owning doc id.
    */
  def fingerprintIndex(corpus: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    corpus.select(col(idCol).as("corpus_id"),
                  TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min("corpus_id").as("corpus_id"))

  /** ROLL a persisted fingerprint index forward with a delta batch —
    * the daily index-maintenance job incremental dedup depends on:
    * union the existing (fp, corpus_id) rows with the delta's
    * fingerprints and keep the minimum owner per fp. Equal by
    * construction to [[fingerprintIndex]] rebuilt over corpus ∪ delta
    * (DedupSpec pins it), at delta-plus-index cost instead of a corpus
    * re-scan: the delta is tokenized row-locally and the merge is one
    * agg shuffle on the 128-bit fp — corpus text is never touched.
    */
  def mergeFingerprintIndex(index: DataFrame, delta: DataFrame,
                            idCol: String, textCol: String): DataFrame =
    index.select("fp", "corpus_id")
      .unionByName(delta.select(
        TextAnalysis.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("corpus_id")))
      .groupBy("fp").agg(min("corpus_id").as("corpus_id"))

  /** Right-to-be-forgotten for the persisted fingerprint index
    * ([[fingerprintIndex]]'s (fp, min-owner) rows): drop every row
    * OWNED by an erased doc — one erase-proportional anti-join,
    * corpus text never touched. Semantics corner (the min-owner
    * analogue of the minhash guard corner): the index keeps one row
    * per distinct text keyed by the MINIMUM owning id, so when the
    * min owner is erased but other docs share the text, the whole fp
    * row goes and surviving duplicates re-classify as NOVEL until the
    * next roll re-inserts the fp under a surviving owner — the
    * conservative direction (nothing derived from an erased doc is
    * retained; dedup recall, not privacy, pays). The q283 estate
    * attestation MEASURES this gap per erasure (`n_rebuild_gap`)
    * instead of hiding it.
    */
  def eraseFromFingerprintIndex(index: DataFrame,
                                eraseIds: DataFrame): DataFrame =
    index.join(eraseIds, Seq("corpus_id"), "left_anti")

  /** Decouple CPU-bound row-local stages from the INPUT's split count:
    * a small/compacted source can arrive as one partition, serializing
    * the signature computation on one core no matter the cluster size.
    * If the frame has fewer partitions than the cluster's parallelism,
    * hash-repartition on the id (deterministic, value-based); otherwise
    * leave the input partitioning alone — at 100 TB the scan already has
    * thousands of splits and the extra shuffle would be pure waste.
    * Public since round 18: every text-heavy operator entry point
    * (grams, tokenize gates, quality scoring) wants the same guard —
    * sf-dir document tables arrive as one compacted split and were
    * serializing whole pipelines on one core.
    *
    * SIZE-AWARE (round-18): the spread width is proportional to the
    * optimizer's size estimate (one task per ~16 KB of input, capped at
    * defaultParallelism) instead of a flat core count — a KB-scale
    * delta/manifest frame stays at 1–2 partitions (the flat spread made
    * five manifest-scale queries run FASTER at 8 cores than 32: pure
    * per-task overhead), while a corpus slice still fans out to every
    * core. Frames whose plans carry no usable estimate (checkpointed
    * RDDs report the conservative maximum) keep the full spread, which
    * is the pre-round-18 behavior.
    */
  def parallelizeCompute(df: DataFrame, idCol: String): DataFrame = {
    // Only narrow scan/checkpoint-rooted plans can arrive one-split;
    // anything with an exchange (join/agg/window/repartition) already
    // carries shuffle-width partitioning — AND probing `.rdd` on such a
    // plan EXECUTES its intermediate AQE stages as real jobs (measured:
    // q193's windowed delta paid its whole changelog subtree once extra
    // at build). Skip those without touching `.rdd`.
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrow = df.queryExecution.optimizedPlan.collectFirst {
      case n if !(n.isInstanceOf[Project] || n.isInstanceOf[Filter] ||
                  n.isInstanceOf[Generate] || n.isInstanceOf[Union] ||
                  n.isInstanceOf[SubqueryAlias] ||
                  n.isInstanceOf[LeafNode]) => n
    }.isEmpty
    if (!narrow) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val byBytes =
          if (bytes <= 0 || bytes > BigInt(Long.MaxValue / 4)) target
          else math.max(1L, (bytes / 16384).toLong min target.toLong).toInt
        if (byBytes <= df.rdd.getNumPartitions) df
        else df.repartition(byBytes, col(idCol))
      }
    }
  }

  /** Character k-shingles over an ALREADY-MATERIALIZED normalized-text
    * column. `norm` must be a plain column reference (attribute): HOF
    * lambdas are interpreted and re-evaluate every outer expression they
    * reference PER ELEMENT, so passing the normalization tree directly
    * would run the regexp once per shingle (~|text| regexp calls per row —
    * measured 10× the cost of the whole MinHash pipeline). Against an
    * attribute, the per-element work is just the substr.
    */
  def shinglesOfNorm(norm: Column, k: Int = 5): Column =
    when(length(norm) < k, array(norm)).otherwise(
      array_distinct(
        transform(sequence(lit(1), length(norm) - (k - 1)),
                  i => norm.substr(i, lit(k)))))

  /** Character k-shingles of the normalized text (the MinHash/Jaccard
    * input universe). Row-local expression. Convenience form inlining the
    * normalization — fine for specs and small relations; hot paths should
    * name the norm column and use [[shinglesOfNorm]] (see scale note
    * there).
    */
  def shingles(text: Column, k: Int = 5): Column =
    shinglesOfNorm(normalizeText(text), k)

  /** MinHash+LSH near-dup candidates over the portable
    * ([[graft.functions.PortableHash]]) family: md5-prefix shingle
    * hashes, modular permutation signatures, fold-mod band buckets —
    * every step replayable by another SQL engine from inlined constants,
    * which is how the DuckDB oracle checks the whole near-dedup pipeline.
    * Docs sharing ANY band bucket are candidates; exact Jaccard is then
    * computed only within buckets via a self-join ON the bucket key
    * (never a cartesian), through [[pairsFromSigTable]].
    *
    * Returns (doc_a, doc_b, jaccard) pairs with doc_a < doc_b and
    * jaccard >= threshold.
    *
    * Scale: band-bucket skew (a hot bucket) is bounded by
    * `maxBucket` — buckets larger than that are dropped (standard
    * web-dedup guard: a bucket that big means boilerplate, handled by
    * exact dedup instead).
    */
  def minhashCandidatePairsPortable(df: DataFrame, idCol: String,
                                    textCol: String,
                                    k: Int = 5, numHashes: Int = 32,
                                    bands: Int = 8,
                                    threshold: Double = 0.5,
                                    maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    pairsFromSigTable(portableSigTable(df, idCol, textCol, k, numHashes),
                      bands, portableBucketOfBand(numHashes, bands),
                      threshold, maxBucket)
  }

  private[llm] def md5Prefix60(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Md5Prefix60Expr(
      ColumnBridge.expression(c)))
  }

  private[llm] def permSig(c: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.PermMinSigExpr(
      ColumnBridge.expression(c), numHashes))
  }

  /** The portable-family signature table: (doc_id, sig, shh) with
    * md5-prefix60 hashed shingle sets and mod-P permutation signatures.
    *
    * Shingle sets are carried as 60-bit hashes, not strings: the
    * within-bucket verify intersects arrays of longs and every shuffle of
    * a shingle set moves 8 bytes/shingle instead of the string bytes.
    * Jaccard over hashed shingles equals string Jaccard unless two
    * shingles of one ~10²-shingle document collide (P ≈ |sh|²/2⁶⁰ —
    * negligible).
    *
    * Materialized (localCheckpoint) because every consumer references it
    * 2-3 times (banding + both sides of the shingle-set lookup) —
    * re-shingling the corpus per reference is the cost it avoids. This is
    * the standard "signature table" pass of production dedup pipelines;
    * at cluster scale it is the relation a persisted dedup index stores.
    */
  private def portableSigTable(df: DataFrame, idCol: String,
                               textCol: String, k: Int,
                               numHashes: Int): DataFrame = {
    def permSig(c: Column): Column = Dedup.permSig(c, numHashes)
    parallelizeCompute(df, idCol).select(
      col(idCol).as("doc_id"),
      normalizeText(col(textCol)).as("norm"))
      .select(col("doc_id"), shinglesOfNorm(col("norm"), k).as("sh"))
      .withColumn("shh", md5Prefix60(col("sh")))
      // permSig is a min over elements (order-invariant); shh itself is
      // consumed only as a set — pre-sort once per doc so the per-pair
      // verify kernel's sort degenerates to a linear sortedness check
      // (round-18; a doc's array used to be re-sorted once per candidate
      // pair it appears in)
      .withColumn("sig", permSig(col("shh")))
      .withColumn("shh", sort_array(col("shh")))
      .select("doc_id", "sig", "shh")
      .transform(graft.Materialize(_))
  }

  /** Fold-mod band bucket off the portable signature: acc = (acc*M + slot)
    * mod P, acc0 = band+1 — rowsPerBand is small and fixed, so unroll
    * Scala-side instead of an interpreted `aggregate` HOF (identical
    * arithmetic, stays codegen'd).
    */
  private def portableBucketOfBand(numHashes: Int,
                                   bands: Int): Int => Column = {
    val rowsPerBand = numHashes / bands
    (b: Int) =>
      (0 until rowsPerBand).foldLeft(lit((b + 1).toLong)) { (acc, j) =>
        (acc * graft.functions.PortableHash.M +
          element_at(col("sig"), b * rowsPerBand + j + 1)) %
          graft.functions.PortableHash.P
      }
  }

  /** (doc_id, band, bucket) from a signature table: bands are unrolled
    * Scala-side (fixed small count); `sig` is a named column so
    * CollapseProject won't duplicate the signature per band.
    */
  private def bandedBuckets(sigs: DataFrame,
                            bands: Int,
                            bucketOfBand: Int => Column): DataFrame = {
    val bandArr = array((0 until bands).map(bucketOfBand): _*)
    sigs.select(col("doc_id"), posexplode(bandArr))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Persisted MinHash index of an accumulated corpus, the state an
    * incremental (daily-ingest) near-dedup keeps between runs:
    * `buckets` = (band, bucket, corpus_id) — the banded LSH buckets with
    * the `maxBucket` boilerplate guard already applied — and `shingles` =
    * (corpus_id, shh) — the hashed shingle sets the verify step joins
    * against. Both persist as parquet bucketed by their join keys via
    * [[IndexStore.saveMinhashIndex]]/[[IndexStore.loadMinhashIndex]] —
    * the loaded join is Exchange-free on the index side; re-deriving
    * either from corpus text is the thing incremental dedup exists to
    * avoid.
    */
  final case class MinhashIndex(buckets: DataFrame, shingles: DataFrame)

  /** Build a [[MinhashIndex]] over `corpus` with the portable hash family
    * (so index and query runs agree across engines and releases).
    */
  def minhashIndexPortable(corpus: DataFrame, idCol: String,
                           textCol: String,
                           k: Int = 5, numHashes: Int = 32,
                           bands: Int = 8,
                           maxBucket: Int = 1000): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = portableSigTable(corpus, idCol, textCol, k, numHashes)
    val banded = bandedBuckets(sigs, bands,
                               portableBucketOfBand(numHashes, bands))
    val buckets = dropHotBuckets(banded, maxBucket)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket"))
    MinhashIndex(buckets, sigs.select(col("doc_id").as("corpus_id"),
                                      col("shh")))
  }

  /** ROLL a persisted [[MinhashIndex]] forward with a delta batch — the
    * daily index-maintenance job [[minhashIncrementalPortable]]'s
    * daily-rotation story needs (the [[mergeFingerprintIndex]] /
    * `mergeBm25Index` pattern for the third index family): only the
    * DELTA is shingled and signed (row-local), its banded rows union
    * into the base buckets, and the `maxBucket` boilerplate guard is
    * re-applied over the UNION with a (band, bucket) recount — a bucket
    * that becomes hot only once the delta lands is dropped exactly as a
    * from-scratch rebuild would drop it. Delta docs REPLACE their base
    * rows (anti-join on id), so re-rolling the same delta is a no-op.
    *
    * Equivalence: for append-only deltas (new ids) the rolled index is
    * EXACTLY [[minhashIndexPortable]] rebuilt over base ∪ delta —
    * DedupSpec pins it, and q151's oracle replays the rebuilt-index
    * classification on real data. For re-ingested ids the one corner
    * that can differ is a doc whose OLD rows sat in a guard-dropped
    * bucket: the base index no longer holds that bucket's other rows,
    * so a rebuild (which re-sees them) can resurrect the bucket while
    * the roll cannot. Guard-dropped buckets are boilerplate by
    * definition, so the divergence only ever re-drops junk candidates;
    * a release that re-ingests heavily should schedule a rebuild.
    *
    * Scale shape: delta signing is O(delta) row-local work; the guard
    * recount and the union shuffle narrow (corpus_id, band, bucket)
    * longs; shingle rows ride an id-keyed anti-join + union. Corpus
    * text behind the base index is never touched; save-time bucketing
    * restores the Exchange-free query property.
    */
  def mergeMinhashIndex(base: MinhashIndex, delta: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 5, numHashes: Int = 32, bands: Int = 8,
                        maxBucket: Int = 1000): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val deltaIds = delta.select(col(idCol).as("corpus_id")).distinct()
    val sigs = portableSigTable(delta, idCol, textCol, k, numHashes)
    val banded = bandedBuckets(sigs, bands,
                               portableBucketOfBand(numHashes, bands))
      .select(col("doc_id").as("corpus_id"), col("band"), col("bucket"))
    val buckets = dropHotBuckets(
      base.buckets
        .join(broadcast(deltaIds), Seq("corpus_id"), "left_anti")
        .select("corpus_id", "band", "bucket")
        .unionByName(banded),
      maxBucket)
    val shingles = base.shingles
      .join(broadcast(deltaIds), Seq("corpus_id"), "left_anti")
      .select("corpus_id", "shh")
      .unionByName(sigs.select(col("doc_id").as("corpus_id"), col("shh")))
    MinhashIndex(buckets, shingles)
  }

  /** Right-to-be-forgotten for the persisted index estate: drop every
    * erased doc's bucket AND shingle rows (id-keyed anti-joins — one
    * pass over each table, erase-proportional routing; pass
    * `eraseIds` pre-gated/materialized with a `corpus_id` column).
    * The result is published as the NEXT VERSION through
    * [[IndexStore]]'s crash-safe flip — erasure of a persisted
    * artifact is a ROLL, not an in-place mutation: readers pinned to
    * the previous version are unaffected until the commit marker
    * lands, and retention GCs the pre-erasure version on schedule
    * (the retention horizon IS the erasure deadline — size
    * `spark.graft.index.keepVersions` accordingly).
    *
    * Equivalence to a net-corpus rebuild: exact except a bucket that
    * was guard-dropped at BUILD time whose size falls back under
    * `maxBucket` once erased rows are discounted — the rebuild
    * resurrects it, the erased index cannot (the
    * [[mergeMinhashIndex]] re-ingestion corner, mirrored).
    * Guard-dropped buckets are boilerplate by definition; schedule a
    * rebuild after a bulk erasure.
    */
  def eraseFromMinhashIndex(index: MinhashIndex,
                            eraseIds: DataFrame): MinhashIndex =
    MinhashIndex(
      index.buckets.join(eraseIds, Seq("corpus_id"), "left_anti"),
      index.shingles.join(eraseIds, Seq("corpus_id"), "left_anti"))

  /** Incremental MinHash near-dedup: classify a NEW batch against an
    * existing [[MinhashIndex]] without touching corpus text — the
    * daily-crawl shape where the corpus is orders of magnitude bigger
    * than the delta. Each new doc gets `dup_of_corpus`, the smallest
    * matching `match_id`, and that match's verified `match_jaccard`.
    *
    * Plan shape: batch signatures (delta-sized) → band buckets →
    * equi-join against `index.buckets` (the only corpus-scale relation
    * touched, and only on its join key) → distinct (doc, corpus) pairs →
    * shingle-set lookups on both sides → native `jaccard_long` verify →
    * min-match per doc. The index side is bounded per bucket by the
    * build-time `maxBucket` guard, so a batch doc emits at most
    * bands×maxBucket candidates.
    */
  def minhashIncrementalPortable(batch: DataFrame, index: MinhashIndex,
                                 idCol: String, textCol: String,
                                 k: Int = 5, numHashes: Int = 32,
                                 bands: Int = 8,
                                 threshold: Double = 0.5): DataFrame = {
    val verified = minhashIncrementalPairsPortable(
      batch, index, idCol, textCol, k, numHashes, bands, threshold)
    // min(struct) picks the smallest corpus_id and carries ITS jaccard —
    // deterministic however many corpus docs a batch doc matches.
    val best = verified.groupBy("doc_id")
      .agg(min(struct(col("corpus_id"), col("jaccard"))).as("m"))
      .select(col("doc_id"), col("m.corpus_id").as("match_id"),
              col("m.jaccard").as("match_jaccard"))
    batch.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
              col("match_id").isNotNull.as("dup_of_corpus"),
              col("match_id"), col("match_jaccard"))
  }

  /** ALL verified (batch doc, corpus doc) near-dup pairs against an
    * existing [[MinhashIndex]] — [[minhashIncrementalPortable]]'s edge
    * set before its best-match aggregation, exposed for graph-level
    * maintenance ([[rollClusters]] needs every edge, not just each
    * doc's minimum match). Same plan shape and bounds: the index side
    * is touched only on its join key, a batch doc emits at most
    * bands×maxBucket candidates.
    */
  def minhashIncrementalPairsPortable(batch: DataFrame,
                                      index: MinhashIndex,
                                      idCol: String, textCol: String,
                                      k: Int = 5, numHashes: Int = 32,
                                      bands: Int = 8,
                                      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    incrementalPairsFromSigTable(
      portableSigTable(batch, idCol, textCol, k, numHashes),
      index, numHashes, bands, threshold)
  }

  /** [[minhashIncrementalPairsPortable]] over a PREBUILT signature
    * table — so a caller that also self-bands the same batch
    * ([[rollClusters]]) shingles and materializes the batch ONCE
    * instead of once per pair generator (round-17, guide §2.4).
    */
  private[llm] def incrementalPairsFromSigTable(sigs: DataFrame,
                                                index: MinhashIndex,
                                                numHashes: Int,
                                                bands: Int,
                                                threshold: Double)
      : DataFrame = {
    val banded = bandedBuckets(sigs, bands,
                               portableBucketOfBand(numHashes, bands))
    val cand = banded.join(index.buckets, Seq("band", "bucket"))
      .select("doc_id", "corpus_id")
      .distinct()
    cand
      .join(sigs.select(col("doc_id"), col("shh").as("sh_b")), Seq("doc_id"))
      .join(index.shingles.select(col("corpus_id"), col("shh").as("sh_c")),
            Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
              jaccardLong(col("sh_b"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[minhashIncrementalPairsPortable]] re-shaped for a STREAMING
    * source — the per-row plan behind the transformWithState twin of
    * the incremental near-dedup sink: one row per (doc, band)
    * carrying the doc's event time and a verified match (corpus_id,
    * jaccard) or nulls. Three deliberate differences from the batch
    * pairs plan, each a streaming constraint:
    *
    *  - LEFT joins instead of inner, so a clean doc (no candidate in
    *    any band) still reaches the downstream classifier;
    *  - no Materialize of the signature table (localCheckpoint is a
    *    batch action; per-projection attribute references keep
    *    CollapseProject from inlining the shingle HOF's inputs) and
    *    no pair-distinct (a second stateful operator): a (doc,
    *    corpus) pair sharing b bands is verified b times and
    *    collapsed by the downstream per-doc aggregation — bounded by
    *    `bands`, and ingest micro-batches are delta-sized;
    *  - the hashed shingle set rides the band explode (bands× its
    *    size in flight) instead of being re-joined from a
    *    materialized table.
    *
    * The foreachBatch sink remains the bulk path; this is the
    * single-declarative-plan shape the modern state API consumes.
    */
  /** STREAM-safe banded signature rows — (doc_id, ts, band, bucket,
    * shh), one row per doc × band, via per-projection attribute
    * references and no Materialize (see
    * [[minhashCandidateRowsPortable]]'s notes). The row shape both
    * streaming near-dedup layers consume: the static-index classifier
    * joins it against persisted buckets; the in-stream layer groups it
    * BY (band, bucket) and carries state per bucket.
    */
  def bandedSigRowsPortable(batch: DataFrame, idCol: String,
                            textCol: String, tsCol: String,
                            k: Int = 5, numHashes: Int = 32,
                            bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = batch
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
              normalizeText(col(textCol)).as("norm"))
      .select(col("doc_id"), col("ts"),
              shinglesOfNorm(col("norm"), k).as("sh"))
      .withColumn("shh", md5Prefix60(col("sh")))
      .withColumn("sig", permSig(col("shh"), numHashes))
      // set-consumed only (jaccard / jpm verify): pre-sort per doc (r18)
      .withColumn("shh", sort_array(col("shh")))
      .select("doc_id", "ts", "sig", "shh")
    val bandArr = array(
      (0 until bands).map(portableBucketOfBand(numHashes, bands)): _*)
    sigs
      .select(col("doc_id"), col("ts"), col("shh"), posexplode(bandArr))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  def minhashCandidateRowsPortable(batch: DataFrame, index: MinhashIndex,
                                   idCol: String, textCol: String,
                                   tsCol: String,
                                   k: Int = 5, numHashes: Int = 32,
                                   bands: Int = 8,
                                   threshold: Double = 0.5): DataFrame = {
    val banded = bandedSigRowsPortable(batch, idCol, textCol, tsCol,
                                       k, numHashes, bands)
    banded
      .join(index.buckets, Seq("band", "bucket"), "left_outer")
      .join(index.shingles.select(col("corpus_id"),
                                  col("shh").as("sh_c")),
            Seq("corpus_id"), "left_outer")
      .select(col("doc_id"), col("ts"), col("corpus_id"),
              when(col("sh_c").isNotNull,
                   jaccardLong(col("shh"), col("sh_c"))).as("j"))
      .select(col("doc_id"), col("ts"),
              when(col("j") >= threshold, col("corpus_id"))
                .as("corpus_id"),
              when(col("j") >= threshold, col("j")).as("jaccard"))
  }

  /** ROLL a persisted CLUSTER ASSIGNMENT forward with a delta batch —
    * the graph half of the daily dedup maintenance contract: the
    * release pipeline keeps (doc_id, cluster_id) families current
    * without ever re-running the corpus-scale pair generation. The
    * rolled graph is
    *
    *   star edges of the existing assignment (doc → its cluster label)
    *   ∪ delta-vs-corpus verified pairs (classified against the
    *     PERSISTED index — corpus text never re-shingled)
    *   ∪ delta-vs-delta verified pairs (delta-sized self-banding),
    *
    * closed by the same contraction CC ([[clustersFromEdges]]). Because
    * star edges reproduce exactly the base components and labels are
    * component minima, the result equals [[clustersFromPairs]] rebuilt
    * over base ∪ delta whenever the maxBucket boilerplate guard agrees
    * between the two views (a bucket that crosses the guard only once
    * the delta lands can diverge — boilerplate junk by definition; the
    * q151 mergeMinhashIndex caveat, same remedy: heavy re-ingest ⇒
    * schedule a rebuild). DedupSpec pins rolled ≡ rebuilt on
    * cross-boundary transitive chains including a delta doc that merges
    * TWO base clusters; q199's oracle replays the full rebuild closure
    * on real data.
    *
    * Scale shape: delta shingling is O(delta) row-local; the corpus
    * contributes one narrow star-edge projection of the persisted
    * cluster table plus index-key joins; the closure starts from a
    * near-contracted graph (stars are depth-1), so it converges in the
    * local-finish endgame almost immediately.
    */
  def rollClusters(baseClusters: DataFrame, index: MinhashIndex,
                   delta: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5): DataFrame = {
    val stars = baseClusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    // ONE delta signature table feeds both the vs-corpus and the
    // vs-delta pair generators (round-17: each used to shingle +
    // materialize the delta independently — guide §2.4)
    val sigs = portableSigTable(delta, idCol, textCol, k, numHashes)
    val deltaCorpus = incrementalPairsFromSigTable(
        sigs, index, numHashes, bands, threshold)
      .select(col("doc_id").as("doc_a"), col("corpus_id").as("doc_b"))
    val deltaDelta = pairsFromSigTable(
        sigs, bands, portableBucketOfBand(numHashes, bands),
        threshold, maxBucket = 1000)
      .select("doc_a", "doc_b")
    val vertices = baseClusters.select("doc_id")
      .unionByName(delta.select(col(idCol).as("doc_id")))
    clustersFromEdges(vertices,
                      stars.unionByName(deltaCorpus)
                           .unionByName(deltaDelta))
  }

  /** The maxBucket boilerplate guard, graft's one guard shape: drop every
    * row of a (band, bucket) whose occupancy exceeds `maxBucket`, with
    * `count(1) over (band, bucket)`. It keeps the same rows as a
    * counter + anti-join, but that shape references `banded` twice and
    * adds an agg + join stage pair:
    *
    *  - the candidate generators (round-18 A/B, OPTIMIZATION_r18.md):
    *    +1.2 s on a funnel-stage (tiny, checkpointed) input, a wash on the
    *    corpus replicated ×20 (0.86 vs 0.87 s); q164's unmaterialized
    *    image-hash subtree ran twice, 1.1 → 2.4 s;
    *  - the index builds and rolls: over base ∪ delta, perfbench
    *    curation's `roll.minhash` ran 18 jobs and 161 tasks under the
    *    anti-join against 11 and 84 under the window
    *    (`plans/probe/index_write_width.txt`).
    *
    * The window's per-(band, bucket) sort is bounded by `maxBucket` at any
    * scale once storms are the only big buckets.
    */
  private def dropHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .withColumn("bsize", count(lit(1)).over(
        Window.partitionBy("band", "bucket")))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")

  /** Shared LSH plumbing of the minhash pair generators
    * ([[minhashCandidatePairsPortable]], [[rollClusters]]): band-bucket
    * explode → size-guarded bucket self-join (salted) → distinct pairs →
    * in-bucket exact-Jaccard verify. `sigs` must expose (doc_id, sig, shh);
    * `bucketOfBand(b)` yields band b's bucket key off `sig`.
    *
    * Only (doc_id, band, bucket) flows into the explode/window/join —
    * shingle sets are joined back AFTER candidate pairs are deduped, so
    * the band duplication and the bucket shuffle stay narrow.
    */
  private def pairsFromSigTable(sigs: DataFrame, bands: Int,
                                bucketOfBand: Int => Column,
                                threshold: Double,
                                maxBucket: Int): DataFrame = {
    val banded = bandedBuckets(sigs, bands, bucketOfBand)

    // Drop pathological buckets (boilerplate storms) before the
    // self-join.
    val pruned = dropHotBuckets(banded, maxBucket)

    // Salted self-join: a bucket near maxBucket emits O(maxBucket²) pairs,
    // and an unsalted equi-join does that in ONE task (the bucket hashes
    // to one partition) — a straggler even when the cluster is idle. The
    // a-side gets a content salt, the b-side replicates S×, and the salt
    // joins as a key: the same pair still meets exactly once (at
    // salt = hash(doc_a) % S) but a hot bucket's emission spreads over S
    // tasks. b-side replication is S× a narrow 3-column relation.
    val S = 8
    val a = pruned.select(col("band"), col("bucket"),
                          col("doc_id").as("doc_a"))
      .withColumn("salt", pmod(xxhash64(col("doc_a")), lit(S)).cast("int"))
    val b = pruned.select(col("band"), col("bucket"),
                          col("doc_id").as("doc_b"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    // Distinct BEFORE the verify step: a pair colliding in several bands
    // is verified once, not once per band.
    val cand = a.join(b, Seq("band", "bucket", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()

    // Both shingle lookups broadcast the SAME (doc_id, shh) projection:
    // renaming AFTER the join (instead of aliasing two different
    // projections) keeps the two BroadcastExchange subtrees canonically
    // identical, so ReuseExchange builds the hashed relation once
    // (round-18; the aliased form built it twice per pass).
    val sh  = sigs.select(col("doc_id"), col("shh"))
    val shA = sh.as("__shA")
    val shB = sh.as("__shB")
    cand.join(shA, col("doc_a") === col("__shA.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("__shA.shh").as("sh_a"))
      .join(shB, col("doc_b") === col("__shB.doc_id"))
      .select(col("doc_a"), col("doc_b"),
              jaccardLong(col("sh_a"), col("__shB.shh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact set Jaccard over two array<bigint> columns via the native
    * sorted-merge kernel ([[graft.functions.JaccardLongExpr]]) — equal to
    * `size(array_intersect)/size(array_union)` without the per-pair boxed
    * hash sets. The MinHash verify hot path.
    */
  def jaccardLong(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.JaccardLongExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Cluster assignment from candidate pairs: iterated min-label
    * propagation to a fixpoint, so transitive chains A~B~C (with A≁C)
    * land in ONE cluster — the connected-components closure standard in
    * web-scale dedup. Delegates to [[clustersFromEdges]].
    */
  def clustersFromPairs(df: DataFrame, idCol: String, textCol: String,
                        pairs: DataFrame): DataFrame =
    clustersFromEdges(df.select(col(idCol).as("doc_id")), pairs)

  /** Connected components by min-label propagation WITH GRAPH CONTRACTION:
    * each round computes one-hop min labels over the current label graph,
    * path-compresses them (rep ← rep(rep) — pointer jumping, halving
    * chain length per round), folds the hop into the doc→label mapping,
    * and CONTRACTS the edge list through the new labels (self-edges drop,
    * duplicates collapse). Converged when the contracted graph has no
    * edges.
    *
    * Scale shape: only round 1 touches the full candidate edge set; a
    * clique-heavy near-dup graph collapses almost entirely in that round,
    * so later rounds shuffle a label graph orders of magnitude smaller —
    * vs naive iteration which re-joins every original edge every round.
    * All per-round state is localCheckpointed: plans stay O(1) nodes
    * (persist alone lets the logical tree, and planning time, grow
    * exponentially through the loop). On a shared cluster with executor
    * loss, swap for reliable checkpoint() under a checkpoint dir.
    *
    * `vertices` must expose `doc_id`; `pairs` must expose
    * (`doc_a`, `doc_b`). Returns (doc_id, cluster_id, is_duplicate);
    * cluster_id = the component's minimum doc id (fully deterministic).
    */
  def clustersFromEdges(vertices: DataFrame, pairs: DataFrame,
                        maxRounds: Int = 16,
                        localFinishEdges: Long = 1000000L): DataFrame = {
    var le = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
              greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .transform(graft.Materialize(_))
    // the doc→label mapping starts as a pure projection of `vertices`;
    // it is only checkpointed inside the DISTRIBUTED branch (where the
    // loop would otherwise grow its plan) — the common local-finish path
    // never pays a full-vertex materialization job for it
    var mapping = vertices.select(col("doc_id"))
      .withColumn("cluster_id", col("doc_id"))
    var round = 0
    // Once the contracted graph fits comfortably on the driver, finish it
    // there: a union-find over ≤`localFinishEdges` edges costs well under
    // a second (1M edges ≈ 16 MB collected), replacing several
    // distributed rounds whose cost is pure job latency. This is the
    // standard CC endgame (the quotient graph of a clique-heavy dup
    // corpus is tiny after round 1); larger contracted graphs keep
    // iterating distributed — the 100 TB fallback. The bound is a
    // parameter (default 1M ≈ 16 MB collected) so specs can force either
    // branch at identical input size; 0 disables the endgame entirely.
    val isLongKeyed =
      le.schema("a").dataType == org.apache.spark.sql.types.LongType
    var done = false
    // one count() action per round drives BOTH the termination check and
    // the local-finish decision (counting a checkpointed frame scans
    // materialized blocks — cheap, and cannot trigger the partial-cache
    // recompute trap); the iterative path refreshes it after contraction
    var edgeCount = le.count()
    while (!done && round < maxRounds && edgeCount > 0) {
      if (isLongKeyed && edgeCount <= localFinishEdges) {
        val local = le.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        local.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          // attach the LARGER root under the smaller: the component root
          // is always its minimum id, matching the distributed semantics
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val closure = local.iterator.flatMap(e => Iterator(e._1, e._2))
          .toSeq.distinct.map(x => (x, find(x)))
        val spark = le.sparkSession
        import spark.implicits._
        // slice the rep mapping so no parallelize task exceeds ~1 MiB
        // (at the 1M-edge bound the mapping is ~MBs — a single-slice
        // localRelation would ship it whole inside one task binary)
        val slices = math.max(1, closure.size / 20000 + 1)
        val repDf = spark.sparkContext.parallelize(closure, slices)
          .toDF("x", "rep")
        mapping = mapping.as("m")
          .join(broadcast(repDf), col("m.cluster_id") === col("x"), "left")
          .select(col("doc_id"),
                  coalesce(col("rep"), col("m.cluster_id")).as("cluster_id"))
        done = true
      } else {
      val sym = le.select(col("a").as("x"), col("b").as("y"))
        .unionByName(le.select(col("b").as("x"), col("a").as("y")))
      val hop = sym.groupBy("x").agg(min("y").as("m"))
        .select(col("x"), least(col("x"), col("m")).as("rep"))
      // pointer jumping: rep ← min(rep, rep(rep))
      val reps = hop.as("h")
        .join(hop.select(col("x").as("rx"), col("rep").as("rrep")),
              col("h.rep") === col("rx"), "left")
        .select(col("x"),
                least(col("h.rep"), coalesce(col("rrep"), col("h.rep")))
                  .as("rep"))
        .transform(graft.Materialize(_))
      mapping = mapping.as("m")
        .join(reps, col("m.cluster_id") === col("x"), "left")
        .select(col("doc_id"),
                coalesce(col("rep"), col("m.cluster_id")).as("cluster_id"))
        .transform(graft.Materialize(_))
      le = le
        .join(reps.select(col("x").as("a"), col("rep").as("ra")), Seq("a"))
        .join(reps.select(col("x").as("b"), col("rep").as("rb")), Seq("b"))
        .select(least(col("ra"), col("rb")).as("a"),
                greatest(col("ra"), col("rb")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .transform(graft.Materialize(_))
      edgeCount = le.count()
      }
      round += 1
    }
    // Detect a non-converged exit: maxRounds exhausted while contracted
    // edges remain (possible with non-Long ids, where the local union-find
    // finish is skipped, on a deep chain graph). Labels are then only
    // PARTIALLY merged — surface it instead of returning silently.
    if (!done && round >= maxRounds && edgeCount > 0) {
      log.warn(
        s"clustersFromEdges did NOT converge in $maxRounds rounds " +
          s"($edgeCount contracted edges remain); cluster labels are " +
          "partially merged — raise maxRounds or use Long doc ids to " +
          "enable the local union-find finish")
    }
    mapping.withColumn("is_duplicate", col("doc_id") =!= col("cluster_id"))
  }

  /** End-to-end MinHash near-dedup: candidates → clusters. */
  def minhashPortable(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame =
    clustersFromPairs(df, idCol, textCol,
      minhashCandidatePairsPortable(df, idCol, textCol, k, numHashes, bands,
                                    threshold))

  /** Keep-BEST cluster representative selection: real pipelines keep the
    * HIGHEST-QUALITY copy of a near-dup cluster, not the smallest id.
    * `clusters` = (doc_id, cluster_id, …) from any dedup variant;
    * `quality` = (idCol, qCol) with a 4-decimal quality score (the
    * [[TextAnalysis.qualityScore]] contract). The argmax is computed on
    * the EXACT ×10⁴ integer (floor(q·10⁴+0.5) — q is a 4-dec rational,
    * so this is lossless), ties broken by smallest id: deterministic and
    * engine-portable, no double comparisons in the ordering.
    *
    * One window over cluster_id — the same shuffle the cluster assignment
    * already did; at 100 TB clusters are tiny (near-dup cliques), so no
    * per-partition skew.
    */
  def keepBestByQuality(clusters: DataFrame, quality: DataFrame,
                        idCol: String = "doc_id",
                        qCol: String = "q"): DataFrame = {
    val j = clusters.select(col("doc_id"), col("cluster_id"))
      .join(quality.select(col(idCol).as("doc_id"),
                           floor(col(qCol) * 10000.0d + 0.5d).cast("long")
                             .as("__ql")),
            Seq("doc_id"))
    val w = Window.partitionBy("cluster_id")
    j.withColumn("__m", min(struct((-col("__ql")).as("nq"),
                                   col("doc_id").as("kid"))).over(w))
      .select(col("doc_id"), col("cluster_id"),
              col("__m.kid").as("kept_id"),
              (col("doc_id") === col("__m.kid")).as("keep"))
  }

  /** SQL fragment producing the simhash input: the distinct non-empty
    * `\W+`-split tokens of the lower-cased, trimmed text.
    */
  private def tokenizeSql(textCol: String): String =
    s"array_distinct(filter(split(lower(trim($textCol)), '\\\\W+'), " +
      "t -> length(t) > 0))"

  /** 60-bit portable SimHash ([[graft.functions.PortableHash]] family):
    * same distinct-token tokenizer, tokens hashed by md5-prefix60 and
    * bit-voted by [[graft.functions.SimHashVoteExpr]] — every step
    * replayable per-bit in DuckDB SQL, which is how the oracle checks it.
    */
  def withSimhashPortable(df: DataFrame, textCol: String,
                          outCol: String = "simhash60"): DataFrame =
    df.withColumn(outCol,
      expr(s"simhash_vote(md5prefix60(${tokenizeSql(textCol)}), 60)"))

  /** SimHash near-dup candidates: 60-bit portable simhash, 4 × 15-bit
    * bands (guaranteed recall for Hamming ≤ 3), the size-guarded salted
    * bucket self-join of [[hammingCandidatesPortable]] — every step (bit
    * votes, band extraction, XOR popcount) replayable in DuckDB SQL,
    * which is how q72's oracle checks the whole candidate pipeline.
    */
  def simhashCandidatesPortable(df: DataFrame, idCol: String,
                                textCol: String,
                                maxBucket: Int = 1000,
                                maxHamming: Int = 3): DataFrame = {
    val sh = withSimhashPortable(df.select(col(idCol).as("doc_id"),
                                           col(textCol)), textCol, "sh60")
      .select(col("doc_id"), col("sh60").as("h60"))
    hammingCandidatesPortable(sh, maxBucket, maxHamming)
  }

  /** Banded Hamming pair generation over ANY 60-bit signature column —
    * the band-bucket-join core shared by text simhash
    * ([[simhashCandidatesPortable]]) and perceptual image hashes
    * ([[Multimodal.imageAHash60]] → q164): 4 × 15-bit bands give
    * guaranteed recall for Hamming ≤ 3, the `maxBucket` guard drops
    * boilerplate-storm buckets before the within-bucket self-join
    * (candidates ≤ maxBucket² per bucket — no all-pairs stage), and the
    * salted join spreads hot buckets across `S` tasks. Input: (doc_id,
    * h60); output: (doc_a, doc_b, hamming) with doc_a < doc_b and
    * hamming ≤ `maxHamming`, distinct.
    */
  def hammingCandidatesPortable(hashed: DataFrame,
                                maxBucket: Int = 1000,
                                maxHamming: Int = 3): DataFrame = {
    val bandArr = array((0 until 4).map { b =>
      shiftright(col("h60"), b * 15).bitwiseAND(lit(0x7FFFL))
    }: _*)
    val banded = dropHotBuckets(
      hashed.select(col("doc_id"), col("h60"), posexplode(bandArr))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket"),
      maxBucket)
    val S = 8
    val a = banded.select(col("band"), col("bucket"),
                          col("doc_id").as("doc_a"), col("h60").as("ha"))
      .withColumn("salt", pmod(xxhash64(col("doc_a")), lit(S)).cast("int"))
    val b = banded.select(col("band"), col("bucket"),
                          col("doc_id").as("doc_b"), col("h60").as("hb"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    a.join(b, Seq("band", "bucket", "salt"))
      .drop("salt")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      // band equality only guarantees recall up to maxHamming; beyond it
      // collisions on a homogeneous corpus are mostly shared-vocabulary
      // noise (measured 22k pairs over 500 docs unfiltered) — verify here
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Edit-distance verification of near-dup candidates: run the
    * [[simhashCandidatesPortable]] signature filter with a LOOSENED
    * Hamming bound (recall), then score every surviving pair with
    * character Levenshtein over whitespace/case-normalized text truncated
    * to `maxChars`, keeping pairs whose similarity ratio
    * `1 − lev / max(len_a, len_b)` clears `minRatio` (precision). This is
    * the two-stage shape production near-dedup uses when signature
    * collisions must be confirmed against ground truth instead of
    * trusted outright.
    *
    * Scale shape: the O(maxChars²) DP runs once per CANDIDATE pair —
    * banded + bucket-guarded, never all-pairs — and `maxChars` caps each
    * evaluation independent of document length (a prefix comparison is
    * the standard production compromise; raise the cap, not the pair
    * count, if precision needs it). The pair list is slim (ids + hamming)
    * and picks up both texts via two hash joins on doc id; full texts
    * never ride the banding shuffle. Levenshtein is the unit-cost DP in
    * Spark and DuckDB alike, so the oracle replays the entire pipeline
    * including the verification arithmetic.
    */
  def editVerifiedCandidates(df: DataFrame, idCol: String, textCol: String,
                             maxBucket: Int = 1000, maxHamming: Int = 8,
                             minRatio: Double = 0.8,
                             maxChars: Int = 512): DataFrame = {
    require(minRatio >= 0.0 && minRatio <= 1.0, "minRatio must be in [0,1]")
    require(maxChars > 0, "maxChars must be positive")
    val pairs = simhashCandidatesPortable(df, idCol, textCol,
                                          maxBucket, maxHamming)
    val norm = df.select(
      col(idCol).as("__id"),
      substring(normalizeText(col(textCol)), 1, maxChars).as("__norm"))
    pairs
      .join(norm.select(col("__id").as("doc_a"), col("__norm").as("__na")),
            "doc_a")
      .join(norm.select(col("__id").as("doc_b"), col("__norm").as("__nb")),
            "doc_b")
      .withColumn("lev", levenshtein(col("__na"), col("__nb")).cast("long"))
      .withColumn("sim_ratio",
        round(lit(1.0) - col("lev").cast("double") /
          greatest(greatest(length(col("__na")), length(col("__nb"))),
                   lit(1)).cast("double"), 6))
      .filter(col("sim_ratio") >= minRatio)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long")
                .as("hamming"), col("lev"), col("sim_ratio"))
  }

  /** Embedding-cosine near-dedup: LSH-bucketed similarity join over the
    * embedding column, then the same min-id cluster assignment as the text
    * variants. Completes the dedup family (exact / MinHash / SimHash /
    * n-gram / embedding) with the same no-all-pairs plan shape.
    */
  def embeddingClusters(embeddings: DataFrame, dim: Int,
                        threshold: Double = 0.9, nBits: Int = 6,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBucket: Int = 10000): DataFrame = {
    val pairs = Similarity
      .lshSimilarityJoin(embeddings, embeddings, dim, threshold, nBits,
                         idCol = idCol, vecCol = vecCol,
                         maxBucket = maxBucket)
      .select(col("left_id").as("doc_a"), col("right_id").as("doc_b"))
    clustersFromEdges(embeddings.select(col(idCol).as("doc_id")), pairs)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with seeded KMeans (the
    * [[Similarity.ivfIndex]] fit), enumerate cosine pairs WITHIN each
    * cell only, and collapse pairs above `threshold` into
    * connected-component groups keyed by minimum id. Complements
    * [[embeddingClusters]]: LSH buckets find high-cosine twins; KMeans
    * cells follow the density structure of the space, which is what the
    * published method exploits to bound the pair enumeration.
    *
    * Scale shape: the KMeans fit and cell assignment are the one
    * corpus-scale pass (both distributed; the index persists via
    * [[IndexStore.saveIvfIndex]] and is reused across releases). Pair
    * enumeration is quadratic only within a cell — `nCells` sizes the
    * expected cell to corpus/nCells rows, the `maxCell` guard drops
    * degenerate cells (a collapsed embedding space), and the salted
    * self-join spreads a hot cell's pair emission across tasks exactly
    * like the MinHash bucket join. No all-pairs stage anywhere.
    */
  def semanticDedup(embeddings: DataFrame, nCells: Int = 16,
                    threshold: Double = 0.9, seed: Long = 42L,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxCell: Int = 100000): DataFrame =
    semanticDedupWithIndex(
      Similarity.ivfIndex(embeddings, nCells, seed,
                          idCol = idCol, vecCol = vecCol),
      embeddings, threshold, idCol, maxCell)

  /** [[semanticDedup]] against a prebuilt (typically
    * [[IndexStore]]-persisted) [[Similarity.IvfIndex]] — the production
    * shape: fit once, reuse the cell assignment across query batches and
    * threshold sweeps.
    */
  def semanticDedupWithIndex(index: Similarity.IvfIndex,
                             vertices: DataFrame, threshold: Double,
                             idCol: String = "vec_id",
                             maxCell: Int = 100000): DataFrame =
    clustersFromEdges(
      vertices.select(col(idCol).as("doc_id")),
      semanticPairs(index, threshold, maxCell).select("doc_a", "doc_b"))

  /** The within-cell pair stage of [[semanticDedupWithIndex]], exposed
    * standalone: (doc_a, doc_b, cos) for every same-cell pair at or above
    * `threshold`. Salted cell self-join — the [[pairsFromSigTable]]
    * straggler guard — with the `maxCell` degenerate-cell cutoff applied
    * first; never a cartesian.
    */
  def semanticPairs(index: Similarity.IvfIndex, threshold: Double,
                    maxCell: Int = 100000): DataFrame = {
    val cellW = Window.partitionBy("cell")
    val guarded = index.assigned
      .withColumn("csize", count(lit(1)).over(cellW))
      .filter(col("csize") <= maxCell)
      .drop("csize")
    val S = 8
    val a = guarded.select(col("cell"), col("corpus_id").as("doc_a"),
                           col("cvec").as("va"))
      .withColumn("salt", pmod(xxhash64(col("doc_a")), lit(S)).cast("int"))
    val b = guarded.select(col("cell"), col("corpus_id").as("doc_b"),
                           col("cvec").as("vb"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    a.join(b, Seq("cell", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Word tokens feeding [[wordNgrams]] — materialize as a named column
    * before n-gramming (see the [[shinglesOfNorm]] scale note: HOF lambdas
    * re-evaluate referenced outer expressions per element, so the lambda
    * must see an attribute, not the split/filter tree).
    */
  def wordTokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\W+"), t => length(t) > 0)

  /** Distinct word n-grams over an ALREADY-MATERIALIZED token-array
    * column (plain column reference — per-element work is then just the
    * slice+concat).
    */
  def wordNgrams(toks: Column, n: Int = 3): Column =
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** Word n-gram Jaccard similarity between two text columns (the
    * within-bucket verify primitive, exposed standalone). Row-local.
    * Convenience form inlining tokenize+n-gram — fine for specs; hot
    * paths should name the token/gram columns and compose
    * [[wordTokens]] → [[wordNgrams]] → intersect/union (the inlined tree
    * re-runs tokenization once per n-gram element, per the HOF scale
    * note on [[shinglesOfNorm]]).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = wordNgrams(wordTokens(a), n)
    val gb = wordNgrams(wordTokens(b), n)
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  /** Corpus-wide boilerplate LINE removal (the CCNet/C4 line-dedup pass):
    * a line whose trimmed form appears in ≥ `minDocs` DISTINCT documents
    * is boilerplate (headers, footers, nav chrome, cookie banners) and is
    * struck from every document; blank lines are never counted as
    * boilerplate. Returns one row per doc with the cleaned text (original
    * line order preserved), lines kept, and lines removed.
    *
    * Scale shape: posexplode lines → one shuffle grouping by the 128-bit
    * line fingerprint (count DISTINCT docs) → equi-join the per-line
    * verdict back → per-doc re-assembly via sort_array(collect_list)
    * (deterministic — no window, no collect_list ordering assumption).
    * Line fingerprints ride as md5 strings so the verdict join never
    * moves line text; the only data-scale relations are the exploded
    * (doc, pos, fp) triples.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int = 2): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
                          posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "pos")
      .withColumnRenamed("col", "line")
      .withColumn("norm", trim(col("line")))
      .withColumn("fp", md5(col("norm").cast("binary")))
    val boiler = lines.filter(col("norm") =!= "")
      .groupBy("fp")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("fp"), lit(true).as("boiler"))
    lines.join(boiler, Seq("fp"), "left")
      .withColumn("drop", coalesce(col("boiler"), lit(false)))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("drop"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        sum(when(!col("drop"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** Document-level boilerplate gate (the Dolma/RefinedWeb companion to
    * [[lineDedup]]): instead of striking duplicated lines and keeping the
    * remainder, DROP the whole document when too much of it is
    * boilerplate — a page that is mostly nav chrome / cookie banner /
    * template is noise even after the chrome is removed. The signal is
    * the fraction of a doc's non-blank characters sitting on lines whose
    * trimmed form appears in ≥ `minDocs` distinct documents.
    *
    * Returns one row per doc: (doc_id, dup_chars, total_chars, dup_frac,
    * keep) with `keep = dup_frac <= maxDupFraction`. The fraction is
    * floored at 6 decimals via the q81 pattern — floor(x·10⁶ + 0.5) on
    * the IEEE-identical quotient — so the gate decision is engine- and
    * order-portable (avg/round on raw doubles is not).
    *
    * Scale shape: identical to [[lineDedup]] — posexplode (row-local) →
    * one agg shuffle on the 128-bit line fingerprint → verdict equi-join
    * on the fp key (line text never rides it) → per-doc agg. Docs whose
    * lines are all blank have total_chars 0 and keep = true (nothing to
    * judge).
    */
  def boilerplateDocGate(df: DataFrame, idCol: String, textCol: String,
                         minDocs: Int = 2,
                         maxDupFraction: Double = 0.15): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
                          posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("col", "line")
      .withColumn("norm", trim(col("line")))
      .withColumn("fp", md5(col("norm").cast("binary")))
    val boiler = lines.filter(col("norm") =!= "")
      .groupBy("fp")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("fp"), lit(true).as("boiler"))
    lines.join(boiler, Seq("fp"), "left")
      .withColumn("dup", coalesce(col("boiler"), lit(false)))
      .groupBy("doc_id")
      .agg(sum(when(col("dup"), length(col("norm")).cast("long"))
                 .otherwise(0L)).as("dup_chars"),
           sum(length(col("norm")).cast("long")).as("total_chars"))
      .withColumn(
        "dup_frac",
        when(col("total_chars") === 0, lit(0.0d))
          .otherwise(
            floor(col("dup_chars").cast("double") / col("total_chars")
                    * 1e6d + 0.5d) / 1e6d))
      .withColumn("keep", col("dup_frac") <= maxDupFraction)
  }

  /** Cross-document EXACT-SUBSTRING spans (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"
    * suffix-array pass, re-expressed relationally): every maximal run of
    * ≥ `minTokens` consecutive tokens shared verbatim between two
    * documents, with its position in both. A shared L-token substring is
    * exactly L−n+1 consecutive positional n-gram matches on one
    * DIAGONAL (pos_a − pos_b constant), so the suffix-array scan becomes:
    * positional gram fingerprints → per-fingerprint occurrence gather →
    * row-local a<b pairing → per (pair, diagonal) contiguous-run
    * islands — no suffix array, no global sort, and the oracle can
    * replay it as join+window SQL (the relational pair set is identical
    * to a fingerprint self-equi-join).
    *
    * Scale shape: the only corpus-scale relations are the positional
    * (doc, pos, fp) triple stream (longs — gram text never shuffles)
    * and its counter-only pre-pass. The pre-pass judges every
    * fingerprint with O(1) per-key state (distinct-doc and
    * total-occurrence COUNTERS, never a gathered list), so the
    * occurrence gather below only ever materializes lists for
    * fingerprints already known to be rare — each list is genuinely
    * bounded at `maxGramOccs` entries, not merely filtered after an
    * unbounded gather. Pairing is guarded by `maxGramDocs`: a gram
    * occurring in more distinct docs is boilerplate (license headers,
    * nav chrome) and never reaches the gather — same role as the
    * MinHash `maxBucket` guard. `maxGramOccs` additionally bounds
    * TOTAL occurrences per fingerprint, so a gram repeated many times
    * within one or two degenerate docs cannot blow up the row-local
    * |occ|² pair explode even when callers skipped the upstream
    * repetition gates. Runs shorter than n tokens are invisible by
    * construction (they produce no shared gram); sub-n whole-doc grams
    * only ever match identical short docs, which exact dedup owns.
    */
  def sharedSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8, minTokens: Int = 16,
                           maxGramDocs: Int = 50,
                           maxGramOccs: Int = 200): DataFrame = {
    val g = Contamination.gramFingerprintsPos(df, idCol, textCol, n)
    // Counter-only pre-pass: (fp, doc) partial-count then per-fp
    // (ndocs, nocc) — both aggs keep O(1) state per key, so no hot
    // fingerprint can blow an aggregation buffer here. Only fps that
    // pass BOTH bounds (plus the ≥2-doc floor — a single-doc fp can't
    // produce a cross-doc pair) reach the list gather.
    val eligible = g.groupBy("gram_fp", "doc_id")
      .agg(count(lit(1)).as("__c"))
      .groupBy("gram_fp")
      .agg(count(lit(1)).as("__nd"), sum("__c").as("__nocc"))
      .filter(col("__nd") >= 2 && col("__nd") <= maxGramDocs &&
              col("__nocc") <= maxGramOccs)
      .select("gram_fp")
    // Gather only the eligible fingerprints' occurrences: every
    // collected list is ≤ maxGramOccs entries by construction. The join
    // shuffles g on gram_fp (or broadcasts `eligible` under AQE when it
    // is leak-sized), and the gather reuses that partitioning.
    val occ = g.join(eligible, Seq("gram_fp"))
      .groupBy("gram_fp")
      .agg(collect_list(struct(col("doc_id"), col("gram_pos"),
                               col("gram_end"))).as("occ"))
    val hits = occ
      .select(explode(col("occ")).as("a"), col("occ"))
      .select(col("a"), explode(col("occ")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
              (col("a.gram_pos") - col("b.gram_pos")).as("diag"),
              col("a.gram_pos").as("pa"), col("a.gram_end").as("ea"))
    // contiguous-run islands per (pair, diagonal): gram starts advance by
    // exactly 1 inside a shared substring — a gap breaks the run (unlike
    // the span MERGE in Contamination.contaminationSpans, which is the
    // point there)
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    hits
      .withColumn("__prev", lag("pa", 1).over(w))
      .withColumn("__new",
                  when(col("__prev").isNull ||
                         col("pa") =!= col("__prev") + 1, 1).otherwise(0))
      .withColumn("__run", sum("__new").over(w))
      .groupBy("doc_a", "doc_b", "diag", "__run")
      .agg(min("pa").as("a_start"), max("ea").as("a_end"),
           count(lit(1)).as("n_grams"))
      .withColumn("n_tokens", col("a_end") - col("a_start") + 1)
      .filter(col("n_tokens") >= minTokens)
      .select(col("doc_a"), col("doc_b"), col("a_start"), col("a_end"),
              (col("a_start") - col("diag")).as("b_start"),
              (col("a_end") - col("diag")).as("b_end"),
              col("n_tokens"))
  }

  /** Exact-substring SCRUB — the removal step of Lee et al. 2021's
    * ExactSubstr dedup, completing [[sharedSubstringSpans]] (the audit)
    * into the transform: every document with its cross-document duplicate
    * spans EXCISED from the token stream, keeping one copy.
    *
    * Policy (deterministic, local): each shared span is removed from the
    * HIGHER-id side of its pair (`doc_b`) — the keep-first rule every
    * other dedup operator here uses (min-id keeps the clique
    * representative). A doc can be the kept side of one pair and the
    * scrubbed side of another; spans from different pairs/diagonals may
    * overlap within a doc, so b-side spans are merged per doc into
    * maximal disjoint islands (adjacent spans coalesce) before excision.
    *
    * Scale shape: span generation is [[sharedSubstringSpans]]'s
    * counter-guarded plan (no unbounded gathers); the merge is a per-doc
    * window over span rows only (spans per doc are few — bounded by the
    * gram guards); excision is [[Contamination.exciseSpans]]'s
    * posexplode + residual range join + per-doc reassembly. No stage
    * touches more than (tokens + spans) rows.
    *
    * Output text is the normalized [[wordTokens]] view (same contract as
    * [[Contamination.exciseContamination]] — see its scaladoc for the
    * raw-bytes caveat).
    */
  def scrubSharedSubstrings(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 8, minTokens: Int = 16,
                            maxGramDocs: Int = 50,
                            maxGramOccs: Int = 200): DataFrame = {
    val bSpans = sharedSubstringSpans(df, idCol, textCol, n, minTokens,
                                      maxGramDocs, maxGramOccs)
      .select(col("doc_b").as("doc_id"), col("b_start").as("start"),
              col("b_end").as("end"))
    // merge per-doc intervals into maximal disjoint islands (adjacent
    // spans coalesce) — the contaminationSpans island window
    val w = Window.partitionBy("doc_id").orderBy("start", "end")
    val merged = bSpans
      .withColumn("__prev_end",
                  max("end").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
                  when(col("__prev_end").isNull ||
                         col("start") > col("__prev_end") + 1, 1)
                    .otherwise(0))
      .withColumn("__island", sum("__new").over(w))
      .groupBy("doc_id", "__island")
      .agg(min("start").as("span_start"), max("end").as("span_end"))
      .select("doc_id", "span_start", "span_end")
    Contamination.exciseSpans(df, idCol, textCol, merged)
  }
}
