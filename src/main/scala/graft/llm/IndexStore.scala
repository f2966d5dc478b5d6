package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.Bucketing

/** Persistence for the incremental-dedup and ANN indexes — the piece that
  * closes the daily-ingest contract: an index built from yesterday's corpus
  * must classify today's batch from DISK, in a fresh session, without
  * re-touching corpus text.
  *
  * Every index is written as a parquet table BUCKETED (and bucket-sorted)
  * by its join key, so the classify-time equi-join reads the corpus-scale
  * side shuffle-free: Spark's bucketed-scan planning aligns the join's
  * required distribution with the table's bucket spec and only the (small,
  * delta-sized) batch side exchanges. That is exactly the layout the
  * [[Dedup.MinhashIndex]] scaladoc promises for production.
  *
  * Tables are registered in the session catalog (metastore) because bucket
  * metadata lives there — a bare parquet directory loses the bucketing
  * contract. Pass `dir` to pin the data files to an external location
  * (e.g. the corpus lake); omit it for warehouse-managed storage.
  *
  * ==Atomic, versioned publication==
  *
  * A daily index roll must never destroy the only copy of the live index:
  * the naive drop-then-overwrite leaves a crash window in which yesterday's
  * index is gone and today's is partial, and concurrent readers in other
  * sessions see a missing/half-written table during every roll. Publication
  * here is therefore versioned and commit-marked:
  *
  * {{{
  *   {base}/                        logical table location
  *     __v1/                        immutable version: data + descriptor
  *       part-*.parquet
  *       _graft_index_spec          schema DDL + bucket spec
  *       _graft_index_commit        created LAST — the atomic publish point
  *     __v2/
  *     _graft_index_current         advisory pointer (human/ops-readable)
  * }}}
  *
  * A save writes version N+1 COMPLETELY beside the live version N (data,
  * then descriptor) and only then creates the `_graft_index_commit` marker
  * — a single atomic file create, the whole commit. Readers resolve "the
  * current version" as max(N) over version dirs that carry the marker, so:
  *
  *  - a crash anywhere before the marker leaves version N untouched and
  *    live; the torn `__v{N+1}` dir has no marker, is invisible to every
  *    reader, and is scrubbed by the next successful save;
  *  - a concurrent reader (any session, any JVM over shared storage) sees
  *    exactly one complete version — never a mix, never a gap — because
  *    committed version dirs are immutable;
  *  - the marker-create beats a pointer-file flip (delete + rename is TWO
  *    operations with a no-pointer window between them; object stores make
  *    overwrite-rename worse). `_graft_index_current` is still written as
  *    an advisory convenience, AFTER the commit, but is never load-bearing.
  *
  * After commit, versions ≤ N−1 are garbage-collected — one previous
  * version is always retained, so a reader that resolved the old current
  * right before a flip has a full roll period to finish its scans before
  * that version can disappear (GC of version N requires TWO further
  * successful rolls).
  *
  * READER lifetime contract: the default retention depth (current + one
  * back) therefore protects reader queries whose lifetime spans at most
  * ONE roll. A session that resolved a version two rolls ago and lazily
  * re-scans its DataFrame will hit deleted files. Long-running readers
  * (a week-old notebook over a daily-rolled index) must either
  * re-resolve per query or raise the retention depth:
  * `spark.graft.index.keepVersions` = k on the publishing frame's session
  * (`Sessions.withConf(index, "spark.graft.index.keepVersions" -> k)`)
  * keeps the current and k−1 previous committed versions (k ≥ 2; read at
  * publish time, so it guards the NEXT roll's GC — a reader's lifetime
  * may span k−1 rolls).
  *
  * Catalog names are per-version (`{table}__v{N}`) and immutable once
  * created, so no DROP/CREATE flip ever races a reader's resolution; the
  * session catalog is only a cache over the on-disk truth.
  *
  * WRITER concurrency contract: one writer per index (the daily roll is
  * one scheduled job). Readers are unrestricted — any number, any
  * session, concurrent with the single writer (IndexStoreSpec pins it).
  * Two simultaneous writers would race the same `__v{N+1}` dir (the
  * second's torn-dir scrub can delete the first's in-flight data); the
  * commit-marker create (`overwrite=false`) makes the residual collision
  * fail loudly rather than publish a mix, but the contract is: serialize
  * your roll jobs per index.
  */
object IndexStore {

  private val SpecFile = "_graft_index_spec"
  private val CommitFile = "_graft_index_commit"
  private val CurrentFile = "_graft_index_current"
  private val VersionDirRe = "__v([0-9]+)".r

  /** Standing retention depth for persisted index estates — THE one
    * policy number: the GC on every publish/roll, the [[vacuum]]
    * sweep, and the estate attestations (q289/q292's
    * versions-beyond-retention column) all read it through
    * [[keepVersions]], so the attested policy can't silently diverge
    * from the sweeper (round-16 verdict #6 — q289 hardcoded its own
    * `2`).
    */
  val DefaultKeepVersions: Int = 2

  /** The effective retention depth: `spark.graft.index.keepVersions`
    * if set (readers raise it before a roll per the reader-lifetime
    * contract), parsed defensively — a malformed value must never
    * abort a publish whose commit marker is already written — with a
    * floor of 2 so one previous version always survives a flip.
    */
  def keepVersions(spark: SparkSession): Int = {
    val raw = spark.conf.get("spark.graft.index.keepVersions",
                             DefaultKeepVersions.toString)
    math.max(2, raw.trim.toIntOption.getOrElse {
      System.err.println(
        s"graft: ignoring malformed spark.graft.index.keepVersions=" +
          s"'$raw', using $DefaultKeepVersions")
      DefaultKeepVersions
    })
  }

  /** Test-only failpoint: when set, a save throws AFTER the new version's
    * data + descriptor are fully written but BEFORE the commit marker —
    * the worst-case crash point of a roll. Specs use it to pin that the
    * previous version stays live and byte-identical.
    */
  private[graft] val failBeforeCommit =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Drop `table` AND its on-disk location: the last step of dropping
    * a versioned table ([[dropOne]]).
    */
  private def dropWithLocation(spark: SparkSession, table: String,
                                    dir: Option[String]): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new Path(location(spark, table, dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def location(spark: SparkSession, table: String,
                       dir: Option[String]): String =
    dir.getOrElse(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/" + table.toLowerCase(java.util.Locale.ROOT))

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionedName(table: String, v: Int): String = s"${table}__v$v"

  /** Every `__v{N}` under `base`, committed or not. */
  private def allVersions(fs: FileSystem, base: Path): Seq[Int] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.collect {
      case s if s.isDirectory =>
        s.getPath.getName match {
          case VersionDirRe(n) => Some(n.toInt)
          case _               => None
        }
    }.flatten

  private def isCommitted(fs: FileSystem, base: Path, v: Int): Boolean =
    fs.exists(new Path(new Path(base, s"__v$v"), CommitFile))

  /** The live version: max N whose dir carries the commit marker. */
  private def currentVersion(fs: FileSystem, base: Path): Option[Int] = {
    val committed = allVersions(fs, base).filter(isCommitted(fs, base, _))
    if (committed.isEmpty) None else Some(committed.max)
  }

  private def writeSmallFile(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Versioned publish of `df` as `{table}` (bucketed when `bucket` is
    * set, plain otherwise). Writes `__v{N+1}` completely beside the live
    * `__v{N}`, commits with one atomic marker create, then GCs versions
    * ≤ N−1. See the object scaladoc for the crash/concurrency analysis.
    *
    * A bucketed write ([[graft.sources.Bucketing.bucketedWriter]]) runs
    * `p` tasks for `n` buckets, `p` the largest divisor of `n` that is at
    * most the frame session's `spark.sql.shuffle.partitions`:
    *
    *  - `p` divides `n`, so `pmod(murmur3(keys), p)` equals
    *    `pmod(bucketId, p)` with `bucketId = pmod(murmur3(keys), n)`:
    *    every bucket's rows land in exactly one task, and the version
    *    holds one file per non-empty bucket (Spark's bucket-id suffix,
    *    the same sort, the same spec file) however many buckets a task
    *    carries. A frame already hash-partitioned by the keys into `p`
    *    partitions (an aggregate on them) keeps its own shuffle, which
    *    AQE may coalesce further; coalescing merges whole partitions, so
    *    this still holds.
    *  - Each write task pays a fixed cost before it writes a row: it
    *    deserializes a `WriteJobDescription`, which carries the session's
    *    whole Hadoop conf. One task per bucket paid it 32 times per
    *    publish on a 4-core host: 13–43 ms of `executorDeserializeTime`
    *    per task for 5–18 ms of run time (perfbench curation,
    *    `plans/probe/index_write_width.txt`). One task per core pays it
    *    once per core.
    *  - Shuffle partitions, not `defaultParallelism`, set the bound: it is
    *    the width every other shuffle of the session plans at, and under
    *    dynamic allocation `defaultParallelism` can read 2 at planning
    *    time. On a cluster whose shuffle partitions reach `n`, `p = n`.
    */
  private def publishTable(df: DataFrame, table: String,
                           bucket: Option[(Int, Seq[String])],
                           dir: Option[String]): Unit = {
    val spark = df.sparkSession
    val base = new Path(location(spark, table, dir))
    val fs = fileSystem(spark, base)
    val committedNow = allVersions(fs, base).filter(isCommitted(fs, base, _))
    val cur = if (committedNow.isEmpty) 0 else committedNow.max
    // scrub torn dirs from crashed attempts (any version without a marker)
    allVersions(fs, base).filterNot(committedNow.contains).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${versionedName(table, n)}")
      fs.delete(new Path(base, s"__v$n"), true)
    }
    val vNext = cur + 1
    val vt = versionedName(table, vNext)
    // a lingering catalog entry at this version number can only be stale
    // (the dir scrub above removed any torn data): drop the metadata too
    spark.sql(s"DROP TABLE IF EXISTS $vt")
    val vdir = new Path(base, s"__v$vNext").toString
    // A bucketed write emits one file per (task, bucket) PAIR: a frame
    // whose rows are scattered across tasks (anti-join/union outputs)
    // writes up to partitions × numBuckets tiny files — measured 951
    // files instead of 32 on q285's rolled index, doubling every
    // downstream version walk (round-18; guide §6 small files). The
    // bucketed writer clusters by the bucket keys first so each task
    // holds whole buckets and the file count equals the bucket count at
    // any scale.
    val w = bucket.fold(df.write) { case (n, keys) =>
      Bucketing.bucketedWriter(df, n, keys)
    }
    w.mode(SaveMode.Overwrite).format("parquet").option("path", vdir)
      .saveAsTable(vt)
    val spec = bucket match {
      case Some((n, keys)) => s"$n\n${keys.mkString(",")}\n${df.schema.toDDL}"
      case None            => s"0\n\n${df.schema.toDDL}"
    }
    writeSmallFile(fs, new Path(vdir, SpecFile), spec)
    if (failBeforeCommit.get)
      throw new IllegalStateException(
        s"graft failpoint: simulated crash before committing $table v$vNext")
    // COMMIT: one atomic create — before this line v{cur} is live,
    // after it v{vNext} is
    fs.create(new Path(vdir, CommitFile), false).close()
    // advisory pointer, never load-bearing (see scaladoc)
    writeSmallFile(fs, new Path(base, CurrentFile), vNext.toString)
    // GC: keep the new current and keepVersions-1 back; drop older.
    // Read per-publish so long-running readers can raise the depth
    // before their index's next roll (see the reader-lifetime contract
    // in the object scaladoc).
    val keep = keepVersions(spark)
    allVersions(fs, base).filter(_ <= vNext - keep).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${versionedName(table, n)}")
      fs.delete(new Path(base, s"__v$n"), true)
    }
  }

  /** Resolve `{table}` through the commit markers to its live versioned
    * catalog name, registering it in THIS session's catalog from the
    * on-disk descriptor if needed (the catalog is per-session; an index
    * saved by yesterday's JVM exists only as files + descriptor).
    * Registration re-declares the bucket spec (CLUSTERED BY … INTO n
    * BUCKETS) over the version dir, so the loaded side keeps its
    * Exchange-free join property across sessions.
    */
  private def resolve(spark: SparkSession, table: String,
                      dir: Option[String]): String = {
    val base = new Path(location(spark, table, dir))
    val fs = fileSystem(spark, base)
    val cur = currentVersion(fs, base)
    require(cur.isDefined,
            s"no committed index version under $base (missing $CommitFile)")
    resolveVersion(spark, table, cur.get, base, fs)
  }

  /** Register (if needed) and return the catalog name of ONE committed
    * version — [[resolve]]'s per-version core, also used directly by
    * the erasure-horizon audit to read versions BEHIND the current one.
    */
  private def resolveVersion(spark: SparkSession, table: String, v: Int,
                             base: Path, fs: FileSystem): String = {
    val vt = versionedName(table, v)
    if (!isCommitted(fs, base, v)) {
      // The dir is gone (GC'd, possibly by another session) or torn. A
      // catalog entry registered for it is dangling — deregister it
      // lazily here so horizon audits don't accumulate dead tables
      // (the catalog is a cache; disk is truth).
      if (spark.catalog.tableExists(vt))
        spark.sql(s"DROP TABLE IF EXISTS $vt")
      require(false,
              s"version $v of $table is not committed under $base")
    }
    if (spark.catalog.tableExists(vt) &&
        !registeredOver(spark, vt, fs.makeQualified(new Path(base, s"__v$v")))) {
      // Same-named estate registered from a DIFFERENT location (e.g. a
      // probe re-created the estate under a fresh temp dir): the cached
      // entry points at the old files — drop and re-register below.
      spark.sql(s"DROP TABLE IF EXISTS $vt")
    }
    if (!spark.catalog.tableExists(vt)) {
      val vdir = new Path(base, s"__v$v")
      val spec = readSmallFile(fs, new Path(vdir, SpecFile))
      val Array(nb, keys, ddl) = spec.split("\n", 3)
      val clustered =
        if (nb == "0") ""
        else {
          val keyList = keys.split(",").mkString(", ")
          s"CLUSTERED BY ($keyList) SORTED BY ($keyList) " +
            s"INTO $nb BUCKETS "
        }
      try spark.sql(
        s"CREATE TABLE $vt ($ddl) USING PARQUET " +
          clustered + s"LOCATION '$vdir'")
      catch {
        // lost a registration race with a concurrent resolve — theirs
        // registered the identical immutable version; nothing to do
        case _: org.apache.spark.sql.AnalysisException
            if spark.catalog.tableExists(vt) => ()
      }
    }
    vt
  }

  /** Whether the session catalog's entry for `vt` points at `vdir` (the
    * immutable version dir it is supposed to describe). The catalog
    * side is qualified through ITS OWN location's filesystem before
    * comparing — a stored unqualified or scheme-variant URI (`file:/`
    * vs `file:///`) would otherwise compare false and every resolve
    * would drop + re-register the entry: safe, but silent churn that
    * defeats the catalog cache. Any read failure counts as "no" — the
    * caller drops and re-registers, which is always safe because the
    * catalog is only a cache over disk.
    */
  private def registeredOver(spark: SparkSession, vt: String,
                             vdir: Path): Boolean =
    scala.util.Try {
      val loc = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(vt)).location
      val p = new Path(loc)
      fileSystem(spark, p).makeQualified(p) == vdir
    }.getOrElse(false)

  /** Every RETAINED committed version number of `{table}`, ascending —
    * the enumeration the erasure-horizon audit (q285) walks: "the
    * subject is erased" is a property of EVERY version a reader can
    * still resolve, not just the current one; the retention horizon IS
    * the erasure deadline.
    */
  private[graft] def retainedVersionNumbers(
      spark: SparkSession, table: String,
      dir: Option[String] = None): Seq[Int] = {
    val base = new Path(location(spark, table, dir))
    val fs = fileSystem(spark, base)
    allVersions(fs, base).filter(isCommitted(fs, base, _)).sorted
  }

  /** Load ONE committed version of `{table}` (audit/ops hook — normal
    * readers go through the current-version loaders).
    */
  private[graft] def loadTableVersion(
      spark: SparkSession, table: String, v: Int,
      dir: Option[String] = None): DataFrame = {
    val base = new Path(location(spark, table, dir))
    spark.table(resolveVersion(spark, table, v, base,
                               fileSystem(spark, base)))
  }

  /** The live versioned catalog name for `{table}` (test/ops hook). */
  private[graft] def currentTable(spark: SparkSession, table: String,
                                  dir: Option[String] = None): String =
    resolve(spark, table, dir)

  /** Forget every catalog registration for `name`'s tables in THIS
    * session WITHOUT touching disk — simulates a fresh session against
    * the same storage (specs; the catalog is a cache, disk is truth).
    */
  private[graft] def forgetSession(spark: SparkSession, name: String): Unit =
    indexTableNames(name).foreach { t =>
      spark.sql(s"SHOW TABLES LIKE '${t.toLowerCase(java.util.Locale.ROOT)}__v*'")
        .collect()
        .foreach(r => spark.sql(s"DROP TABLE IF EXISTS ${r.getString(1)}"))
    }

  // ---------------------------------------------------------------- MinHash

  /** Persist a [[Dedup.MinhashIndex]] as two bucketed tables:
    * `{name}_buckets` bucketed by (band, bucket) — the candidate-join key —
    * and `{name}_shingles` bucketed by corpus_id — the verify-join key.
    */
  def saveMinhashIndex(index: Dedup.MinhashIndex, name: String,
                       numBuckets: Int = 32,
                       dir: Option[String] = None): Unit = {
    saveBucketedArtifact(index.buckets, s"${name}_buckets", numBuckets,
                         Seq("band", "bucket"), dir.map(d => s"$d/buckets"))
    saveBucketedArtifact(index.shingles, s"${name}_shingles", numBuckets,
                         Seq("corpus_id"), dir.map(d => s"$d/shingles"))
  }

  /** Load a persisted MinHash index; the returned frames carry the bucket
    * spec, so [[Dedup.minhashIncrementalPortable]] joins them without an
    * index-side Exchange. Works from a FRESH session: if the catalog
    * doesn't know the tables, they are re-registered from the on-disk
    * descriptor (pass the same `dir` given to save, if any).
    */
  def loadMinhashIndex(spark: SparkSession, name: String,
                       dir: Option[String] = None): Dedup.MinhashIndex =
    Dedup.MinhashIndex(
      loadPlainArtifact(spark, s"${name}_buckets", dir.map(d => s"$d/buckets")),
      loadPlainArtifact(spark, s"${name}_shingles",
                        dir.map(d => s"$d/shingles")))

  // ------------------------------------------------------------ fingerprint

  /** Persist the exact-dedup (fp, corpus_id) index bucketed by fp — the
    * [[Dedup.exactIncremental]] join key.
    */
  def saveFingerprintIndex(index: DataFrame, name: String,
                           numBuckets: Int = 32,
                           dir: Option[String] = None): Unit =
    saveBucketedArtifact(index, name, numBuckets, Seq("fp"), dir)

  def loadFingerprintIndex(spark: SparkSession, name: String,
                           dir: Option[String] = None): DataFrame =
    loadPlainArtifact(spark, name, dir)

  // -------------------------------------------------------------------- LSH

  /** Persist an ANN [[Similarity.lshIndex]] bucketed by its hyperplane
    * `bucket` key.
    */
  def saveLshIndex(index: DataFrame, name: String,
                   numBuckets: Int = 32,
                   dir: Option[String] = None): Unit =
    saveBucketedArtifact(index, name, numBuckets, Seq("bucket"), dir)

  def loadLshIndex(spark: SparkSession, name: String,
                   dir: Option[String] = None): DataFrame =
    loadPlainArtifact(spark, name, dir)

  // -------------------------------------------------------------------- IVF

  /** Persist a [[Similarity.IvfIndex]]: the cell-assigned corpus bucketed
    * by `cell` (the probe-join key) and the tiny centroid table plain.
    */
  def saveIvfIndex(index: Similarity.IvfIndex, name: String,
                   numBuckets: Int = 16,
                   dir: Option[String] = None): Unit = {
    saveBucketedArtifact(index.assigned, s"${name}_assigned", numBuckets,
                         Seq("cell"), dir.map(d => s"$d/assigned"))
    savePlainArtifact(index.centroids, s"${name}_centroids",
                      dir.map(d => s"$d/centroids"))
  }

  def loadIvfIndex(spark: SparkSession, name: String,
                   dir: Option[String] = None): Similarity.IvfIndex =
    Similarity.IvfIndex(
      loadPlainArtifact(spark, s"${name}_assigned",
                        dir.map(d => s"$d/assigned")),
      loadPlainArtifact(spark, s"${name}_centroids",
                        dir.map(d => s"$d/centroids")))

  // -------------------------------------------------------------------- PQ

  /** Persist a [[Similarity.PqIndex]]: codes bucketed by `corpus_id`
    * (the id-keyed upsert pattern every roll job probes), codebooks
    * plain (the IVF-centroid pattern). Subspace geometry is recovered
    * from the codebook shape on load, so the descriptor carries no
    * extra config.
    */
  def savePqIndex(index: Similarity.PqIndex, name: String,
                  numBuckets: Int = 16,
                  dir: Option[String] = None): Unit = {
    saveBucketedArtifact(index.codes, s"${name}_codes", numBuckets,
                         Seq("corpus_id"), dir.map(d => s"$d/codes"))
    savePlainArtifact(index.codebooks, s"${name}_codebooks",
                      dir.map(d => s"$d/codebooks"))
  }

  def loadPqIndex(spark: SparkSession, name: String,
                  dir: Option[String] = None): Similarity.PqIndex = {
    val codes = loadPlainArtifact(spark, s"${name}_codes",
                                  dir.map(d => s"$d/codes"))
    val cb = loadPlainArtifact(spark, s"${name}_codebooks",
                               dir.map(d => s"$d/codebooks"))
    val shape = cb.agg(
      org.apache.spark.sql.functions.max("sub"),
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("centroid")))).head()
    Similarity.PqIndex(codes, cb,
                       nSub = shape.getInt(0) + 1,
                       subDim = shape.getInt(1))
  }

  // ------------------------------------------------------------------- BM25

  /** Persist a [[Relevance.Bm25Index]]: postings bucketed AND sorted by
    * `token` (a query-term filter prunes parquet row groups via the
    * token min/max stats — scoring reads index slivers, never corpus
    * text) plus the one-row stats table plain (the IVF-centroid
    * pattern).
    */
  def saveBm25Index(index: Relevance.Bm25Index, name: String,
                    numBuckets: Int = 32,
                    dir: Option[String] = None): Unit = {
    saveBucketedArtifact(index.postings, s"${name}_postings", numBuckets,
                         Seq("token"), dir.map(d => s"$d/postings"))
    savePlainArtifact(index.stats, s"${name}_stats", dir.map(d => s"$d/stats"))
  }

  /** Positional postings ([[Relevance.positionalIndex]]), bucketed +
    * sorted by token exactly like the BM25 postings — phrase-term
    * filters prune row groups the same way.
    */
  def savePositionalIndex(index: DataFrame, name: String,
                          numBuckets: Int = 32,
                          dir: Option[String] = None): Unit =
    saveBucketedArtifact(index, s"${name}_positions", numBuckets,
                         Seq("token"), dir.map(d => s"$d/positions"))

  def loadPositionalIndex(spark: SparkSession, name: String,
                          dir: Option[String] = None): DataFrame =
    loadPlainArtifact(spark, s"${name}_positions",
                      dir.map(d => s"$d/positions"))

  def loadBm25Index(spark: SparkSession, name: String,
                    dir: Option[String] = None): Relevance.Bm25Index =
    Relevance.Bm25Index(
      loadPlainArtifact(spark, s"${name}_postings",
                        dir.map(d => s"$d/postings")),
      loadPlainArtifact(spark, s"${name}_stats", dir.map(d => s"$d/stats")))

  // --------------------------------------------------- plain artifacts

  /** Versioned publish of a single plain artifact table (token counts,
    * fitted vocabularies, merge lists, LM tables) — the daily-rolled
    * artifacts outside the index families get the SAME commit protocol:
    * a crashed vocab refit must not destroy the vocabulary yesterday's
    * shards were tokenized with.
    */
  private[graft] def savePlainArtifact(df: DataFrame, table: String,
                                       dir: Option[String] = None): Unit =
    publishTable(df, table, None, dir)

  /** Versioned publish of a single KEY-BUCKETED artifact table (e.g. a
    * maintained join view bucketed by its merge key, so the roll's
    * merge join reads it Exchange-free) — same commit protocol as the
    * index families. Load through [[loadPlainArtifact]].
    */
  private[graft] def saveBucketedArtifact(df: DataFrame, table: String,
                                          numBuckets: Int,
                                          keys: Seq[String],
                                          dir: Option[String] = None): Unit =
    publishTable(df, table, Some((numBuckets, keys)), dir)

  // NOTE (round-18, measured): a size-gated coalesce here (partition
  // count ∝ file bytes) fixed the manifest-scale task storms (q144
  // 0.34→0.19 s) but SERIALIZED every compute-heavy consumer of a
  // loaded index — coalesce adds no shuffle boundary, so the whole
  // downstream row-local pipeline fused into its 1–2 tasks (q188
  // 0.70→1.20 s, q190 0.94→2.71 s, q76/q151 ~1.8× worse). Reverted;
  // the KB-scale 32-task reads are a benign local-mode artifact that
  // disappears at scale (real indexes fill their buckets).
  /** Load any versioned table, index tables included. */
  private[graft] def loadPlainArtifact(spark: SparkSession, table: String,
                                       dir: Option[String] = None): DataFrame =
    spark.table(resolve(spark, table, dir))

  /** Drop ONE versioned table (all versions + base location). */
  private[graft] def dropArtifact(spark: SparkSession,
                                  table: String): Unit = dropOne(spark, table)

  private def dropOne(spark: SparkSession, t: String): Unit = {
    spark.sql(s"SHOW TABLES LIKE '${t.toLowerCase(java.util.Locale.ROOT)}__v*'")
      .collect()
      .foreach(r => spark.sql(s"DROP TABLE IF EXISTS ${r.getString(1)}"))
    dropWithLocation(spark, t, None)
  }

  private def indexTableNames(name: String): Seq[String] =
    Seq(name, s"${name}_buckets", s"${name}_shingles",
        s"${name}_assigned", s"${name}_centroids",
        s"${name}_postings", s"${name}_stats",
        s"${name}_codes", s"${name}_codebooks", s"${name}_positions")

  /** Drop a persisted index: every versioned catalog entry plus the
    * warehouse locations (external `dir` data is left for the caller's
    * lifecycle, as before).
    */
  def drop(spark: SparkSession, name: String): Unit =
    indexTableNames(name).foreach(dropOne(spark, _))

  /** What [[vacuum]] did, for the caller's log line. */
  final case class VacuumReport(droppedEstates: Seq[String],
                                gcedVersionDirs: Int,
                                droppedCatalogEntries: Int) {
    def summary: String =
      s"vacuum: dropped ${droppedEstates.size} dead estates, " +
        s"GC'd $gcedVersionDirs stale version dirs, " +
        s"deregistered $droppedCatalogEntries catalog entries"
  }

  /** Estate-wide warehouse hygiene — the sweep [[drop]] (one name at a
    * time) never gave the closing chain. Per-table GC keeps each LIVE
    * estate at `keepVersions`, but nothing ever removed dead TABLES:
    * every probe/spec/Verify run leaves its `graft_*` estates behind,
    * and the accumulated version dirs inflate catalog + file listings
    * until they show up as latency on every index-estate query (round-14
    * measured a 1.43× median on persisted-index bench queries vs 1.19×
    * elsewhere, partially recovered from a clean warehouse alone).
    *
    * The sweep enumerates the warehouse's `graft_*` estate dirs (the
    * `scope` prefix — specs narrow it to their own fixtures so a
    * hygiene test never touches estates other suites memoized) and,
    * for each estate whose name does not start with a prefix in `live`:
    * drops its versioned catalog entries and deletes its dir. Estates
    * that ARE live are GC'd to the standing `keepVersions` depth
    * (committed versions beyond the retention horizon plus torn,
    * never-committed dirs), exactly what the next roll's GC would do.
    * Finally, every `graft_*__v{N}` catalog entry whose backing version
    * dir no longer carries a commit marker is deregistered — dropping a
    * catalog entry is ALWAYS safe (the catalog is a cache; a live
    * version re-registers from its on-disk descriptor on next resolve).
    *
    * Idempotent: a second call with the same `live` set finds a clean
    * warehouse and does nothing. Runs under the same single-writer
    * contract as a roll — and since round 17 the contract is ENFORCED
    * by a create-exclusive lock file under the warehouse root
    * ([[VacuumLockName]], stale-broken after
    * `spark.graft.vacuum.lockStaleMs`): an overlapping sweep throws
    * instead of racing deletes. Do not vacuum concurrently with an
    * index WRITER either (readers are fine: committed retained
    * versions are untouched).
    */
  /** The vacuum writer lock's file name, under the warehouse root. */
  private[llm] val VacuumLockName = "__graft_vacuum_lock"

  /** Acquire the warehouse-wide vacuum writer lock by atomic
    * create-exclusive (round-15 ADVICE / round-16 verdict #7: the
    * single-writer contract was documented + opt-out only; the lock
    * makes an overlapping sweep REFUSE by construction instead of
    * racing deletes). A lock older than
    * `spark.graft.vacuum.lockStaleMs` (default 15 min — a sweep runs
    * seconds, so that's a crashed holder) is broken with a warning.
    * Throws IllegalStateException when a live holder exists.
    */
  private def acquireVacuumLock(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                whRoot: Path): Path = {
    val lock = new Path(whRoot, VacuumLockName)
    val staleMs = spark.conf
      .get("spark.graft.vacuum.lockStaleMs", "900000")
      .trim.toLongOption.getOrElse(900000L)
    fs.mkdirs(whRoot)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        out.writeBytes(s"pid=${ProcessHandle.current().pid()} " +
                       s"ts=${System.currentTimeMillis()}\n")
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        catch { // holder released between create and stat: retry below
          case _: java.io.FileNotFoundException => Long.MaxValue
        }
      if (age >= staleMs) {
        System.err.println(
          s"graft: breaking stale vacuum lock $lock (age ${age} ms)")
        fs.delete(lock, false)
        if (!tryCreate())
          throw new IllegalStateException(
            s"vacuum: lost the race re-acquiring $lock after breaking " +
              "a stale holder; another sweep is running — retry later")
      } else
        throw new IllegalStateException(
          s"vacuum: another writer holds $lock (age ${age} ms); the " +
            "sweep is single-writer by construction — wait for the " +
            "holder, or delete the lock if its process crashed")
    }
    lock
  }

  def vacuum(spark: SparkSession,
             live: Seq[String] = Seq.empty,
             scope: String = "graft_"): VacuumReport = {
    val whRoot = new Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/"))
    val fs = fileSystem(spark, whRoot)
    val lock = acquireVacuumLock(spark, fs, whRoot)
    try vacuumLocked(spark, fs, whRoot, live, scope)
    finally fs.delete(lock, false)
  }

  private def vacuumLocked(spark: SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           whRoot: Path, live: Seq[String],
                           scope: String): VacuumReport = {
    var gced = 0
    var deregistered = 0
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    val liveLc = live.map(_.toLowerCase(java.util.Locale.ROOT))

    // SHOW TABLES LIKE treats characters other than * as regex, so a
    // dir name with metacharacters (anything outside [A-Za-z0-9_])
    // would error or over-match and drop unintended entries — match in
    // Scala over the plain listing instead (catalog-bounded). Listed
    // FRESH per estate: earlier estates' drops mutate the catalog, and
    // a shared snapshot would hand later estates a stale listing if
    // estate name prefixes ever overlap.
    def allCatalogNames(): Seq[String] =
      spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSeq

    def dropEntriesFor(t: String): Unit = {
      val hits = allCatalogNames().filter { name =>
        name.startsWith(s"${t}__v") &&
          name.stripPrefix(s"${t}__v").forall(_.isDigit)
      }
      hits.foreach(name => spark.sql(s"DROP TABLE IF EXISTS `$name`"))
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      deregistered += hits.size
    }

    if (fs.exists(whRoot)) {
      val estates = fs.listStatus(whRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(scope))
      estates.foreach { st =>
        val t = st.getPath.getName
        if (!liveLc.exists(t.startsWith)) {
          dropEntriesFor(t)
          fs.delete(st.getPath, true)
          dropped += t
        } else {
          // survivor: GC to the standing retention depth + torn dirs
          val base = st.getPath
          val committed =
            allVersions(fs, base).filter(isCommitted(fs, base, _)).sorted
          val retained = committed.takeRight(keepVersions(spark)).toSet
          allVersions(fs, base).filterNot(retained.contains).foreach { n =>
            spark.sql(s"DROP TABLE IF EXISTS ${versionedName(t, n)}")
            fs.delete(new Path(base, s"__v$n"), true)
            gced += 1
          }
        }
      }
    }

    // Dangling catalog entries: any in-scope {t}__v{N} whose backing
    // dir no longer carries a commit marker (external-dir estates whose
    // entry is healthy re-register lazily — dropping is still safe).
    // Fresh listing (the estate loop above already dropped some), and
    // the commit probe resolves the filesystem from the TABLE'S OWN
    // location — external-dir estates can live on a different fs than
    // the warehouse (file:/ temp estates under an HDFS/S3 warehouse),
    // where the warehouse fs would throw, the Try would swallow it as
    // "not committed", and healthy entries would be dropped on every
    // sweep, breaking idempotence.
    spark.sql("SHOW TABLES").collect().map(_.getString(1))
      .filter(_.startsWith(scope)).foreach { name =>
      name match {
        case VersionedNameRe(t, v) =>
          val committed = scala.util.Try {
            val loc = spark.sessionState.catalog
              .getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(name)).location
            val marker = new Path(new Path(loc), CommitFile)
            fileSystem(spark, marker).exists(marker)
          }.getOrElse(false)
          if (!committed) {
            spark.sql(s"DROP TABLE IF EXISTS `$name`")
            deregistered += 1
          }
        case _ => ()
      }
    }
    VacuumReport(dropped.toSeq.sorted, gced, deregistered)
  }

  private val VersionedNameRe = "(.*)__v([0-9]+)".r
}
