package graft.llm

import graft.{Sessions, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daily-ingest contract: an index built yesterday must classify
  * today's batch FROM DISK — save → load → classify byte-identical to the
  * in-memory index, with the loaded (bucketed) side joining Exchange-free.
  */
class IndexStoreSpec extends SparkSpec {

  private def corpusBatch(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near " +
      "the quiet river bank while morning light settles on the water"
    val corpus = Seq(
      (10L, corpusText),
      (11L, "an entirely different corpus document about compilers and " +
            "register allocation strategies in modern optimizing backends"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, corpusText),
      (2L, corpusText.replace("morning", "evening")),
      (3L, "novel text about oceanic plate tectonics and subduction " +
           "zones forming volcanic island arcs over geologic time"))
      .toDF("doc_id", "text")
    (corpus, batch)
  }

  private def classified(out: DataFrame): Map[Long, (Boolean, Long, Double)] =
    out.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1),
                        if (r.isNullAt(2)) -1L else r.getLong(2),
                        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
    }.toMap

  test("minhash index save→load→classify is byte-identical to in-memory") {
    val (corpus, batch) = corpusBatch(spark)
    val index = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
    val mem = classified(
      Dedup.minhashIncrementalPortable(batch, index, "doc_id", "text"))
    try {
      IndexStore.saveMinhashIndex(index, "idx_rt_mh", numBuckets = 4)
      val loaded = IndexStore.loadMinhashIndex(spark, "idx_rt_mh")
      val disk = classified(
        Dedup.minhashIncrementalPortable(batch, loaded, "doc_id", "text"))
      assert(disk == mem, s"disk=$disk mem=$mem")
      assert(mem(1L) == ((true, 10L, 1.0)))
    } finally IndexStore.drop(spark, "idx_rt_mh")
  }

  test("loaded minhash index joins without index-side Exchanges " +
       "(fewer shuffles than a plain-parquet round-trip)") {
    val plainDir = tmpDir("idx_plain")
    try Sessions.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val (corpus, batch) = corpusBatch(spark)
      val index = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
      IndexStore.saveMinhashIndex(index, "idx_ex_mh", numBuckets = 4)
      index.buckets.write.mode("overwrite").parquet(s"$plainDir/buckets")
      index.shingles.write.mode("overwrite").parquet(s"$plainDir/shingles")
      val plain = Dedup.MinhashIndex(
        spark.read.parquet(s"$plainDir/buckets"),
        spark.read.parquet(s"$plainDir/shingles"))
      def exchanges(idx: Dedup.MinhashIndex): Int = {
        val df = Dedup.minhashIncrementalPortable(batch, idx,
                                                  "doc_id", "text")
        df.collect()
        "Exchange".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      }
      val bucketed = exchanges(IndexStore.loadMinhashIndex(spark, "idx_ex_mh"))
      val unbucketed = exchanges(plain)
      assert(bucketed < unbucketed,
             s"bucketed index must shuffle less: $bucketed vs $unbucketed")
    } finally IndexStore.drop(spark, "idx_ex_mh")
  }

  test("cross-session load: a FRESH catalog re-registers the index from " +
       "its on-disk descriptor, bucketing intact, and re-save over stale " +
       "files is idempotent") {
    val (corpus, batch) = corpusBatch(spark)
    val index = Dedup.minhashIndexPortable(corpus, "doc_id", "text")
    val dir = Some(tmpDir("idx_cs"))
    val mem = classified(
      Dedup.minhashIncrementalPortable(batch, index, "doc_id", "text"))
    try {
      IndexStore.saveMinhashIndex(index, "idx_cs_mh", numBuckets = 4, dir)
      // simulate a fresh session: the per-session catalog forgets the
      // tables (external data stays on disk)
      IndexStore.forgetSession(spark, "idx_cs_mh_buckets")
      IndexStore.forgetSession(spark, "idx_cs_mh_shingles")
      val loaded = IndexStore.loadMinhashIndex(spark, "idx_cs_mh", dir)
      val disk = classified(
        Dedup.minhashIncrementalPortable(batch, loaded, "doc_id", "text"))
      assert(disk == mem, s"cross-session disk=$disk mem=$mem")
      // the re-registered table keeps its bucket spec
      val vt = IndexStore.currentTable(spark, "idx_cs_mh_buckets",
                                       dir.map(d => s"$d/buckets"))
      val ddl = spark.sql(s"SHOW CREATE TABLE $vt").head().getString(0)
      assert(ddl.contains("CLUSTERED BY") && ddl.contains("4 BUCKETS"),
             s"bucket spec must survive re-registration:\n$ddl")
      // daily rotation: re-save under the same name from a catalog that
      // forgot the table but with stale files present — must not throw
      IndexStore.forgetSession(spark, "idx_cs_mh_buckets")
      IndexStore.forgetSession(spark, "idx_cs_mh_shingles")
      IndexStore.saveMinhashIndex(index, "idx_cs_mh", numBuckets = 4, dir)
      val disk2 = classified(Dedup.minhashIncrementalPortable(
        batch, IndexStore.loadMinhashIndex(spark, "idx_cs_mh", dir),
        "doc_id", "text"))
      assert(disk2 == mem)
    } finally IndexStore.drop(spark, "idx_cs_mh")
  }

  test("fingerprint index save→load→classify matches in-memory") {
    import spark.implicits._
    val corpus = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "Alpha   beta GAMMA"), (2L, "novel zeta"))
      .toDF("doc_id", "text")
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
    def run(idx: DataFrame) =
      Dedup.exactIncremental(batch, idx, "doc_id", "text")
        .collect().map(_.toSeq).toSet
    try {
      IndexStore.saveFingerprintIndex(index, "idx_rt_fp", numBuckets = 4)
      assert(run(IndexStore.loadFingerprintIndex(spark, "idx_rt_fp")) ==
               run(index))
    } finally IndexStore.drop(spark, "idx_rt_fp")
  }

  // ------------------------------------------------- versioned publication

  private val KeepKey = "spark.graft.index.keepVersions"

  private def fpCorpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (100L + i, s"corpus document number $i"))
      .toDF("doc_id", "text")
  }

  private def fpBatch: DataFrame = {
    import spark.implicits._
    (0 until 6).map(i => (i.toLong, s"corpus document number $i"))
      .toDF("doc_id", "text")
  }

  private def fpClassify(idx: DataFrame): Set[Seq[Any]] =
    Dedup.exactIncremental(fpBatch, idx, "doc_id", "text")
      .collect().map(_.toSeq).toSet[Seq[Any]]

  test("a crash before commit leaves the OLD index version live and " +
       "byte-identical; the next save scrubs the torn version") {
    val name = "idx_crash_fp"
    val dir = Some(tmpDir("idx_crash"))
    try {
      IndexStore.saveFingerprintIndex(
        Dedup.fingerprintIndex(fpCorpus(2), "doc_id", "text"), name,
        numBuckets = 4, dir)
      val v1 = fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
      // the roll dies at the WORST point: new data + descriptor fully
      // written, commit marker not yet created
      IndexStore.failBeforeCommit.set(true)
      val boom = intercept[IllegalStateException] {
        IndexStore.saveFingerprintIndex(
          Dedup.fingerprintIndex(fpCorpus(5), "doc_id", "text"), name,
          numBuckets = 4, dir)
      }
      IndexStore.failBeforeCommit.set(false)
      assert(boom.getMessage.contains("failpoint"))
      // the old version still loads and classifies byte-identically
      IndexStore.forgetSession(spark, name)
      val after = fpClassify(
        IndexStore.loadFingerprintIndex(spark, name, dir))
      assert(after == v1, s"crashed roll must not touch the live index")
      // a subsequent save self-heals (scrubs the torn dir) and publishes
      IndexStore.saveFingerprintIndex(
        Dedup.fingerprintIndex(fpCorpus(5), "doc_id", "text"), name,
        numBuckets = 4, dir)
      val v2 = fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
      assert(v2 != v1, "the healed roll must actually publish new content")
      assert(v2.count(_(1) == true) == 5 && v1.count(_(1) == true) == 2)
    } finally IndexStore.drop(spark, name)
  }

  test("an in-flight roll is invisible: readers resolve exactly one " +
       "complete version, and old versions GC to current + one back") {
    val name = "idx_gc_fp"
    val d = tmpDir("idx_gc")
    val dir = Some(d)
    try {
      val results = (2 to 5).map { n =>
        IndexStore.saveFingerprintIndex(
          Dedup.fingerprintIndex(fpCorpus(n), "doc_id", "text"), name,
          numBuckets = 4, dir)
        n -> fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
      }.toMap
      // GC keeps the current version and one back, nothing older
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val vdirs = fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).filter(_.startsWith("__v")).sorted
      assert(vdirs.toSeq == Seq("__v3", "__v4"),
             s"expected v3+v4 to survive GC, found ${vdirs.mkString(",")}")
      // current resolves to the last publish
      assert(fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
               == results(5))
      // leave an UNCOMMITTED v5 on disk; a fresh session must still
      // resolve the committed v4
      IndexStore.failBeforeCommit.set(true)
      intercept[IllegalStateException] {
        IndexStore.saveFingerprintIndex(
          Dedup.fingerprintIndex(fpCorpus(6), "doc_id", "text"), name,
          numBuckets = 4, dir)
      }
      IndexStore.failBeforeCommit.set(false)
      IndexStore.forgetSession(spark, name)
      assert(fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
               == results(5),
             "a fresh session must see the last COMMITTED version only")
    } finally IndexStore.drop(spark, name)
  }

  test("concurrent sessions: one rolls while the other classifies — the " +
       "reader never errors and always sees a complete version") {
    val name = "idx_ccr_fp"
    val dir = Some(tmpDir("idx_ccr"))
    try {
      // expected per-version classification outcomes, precomputed from
      // the in-memory indexes
      val expected = (2 to 5).map { n =>
        fpClassify(Dedup.fingerprintIndex(fpCorpus(n), "doc_id", "text"))
      }.toSet
      IndexStore.saveFingerprintIndex(
        Dedup.fingerprintIndex(fpCorpus(2), "doc_id", "text"), name,
        numBuckets = 4, dir)
      @volatile var writerDone = false
      @volatile var writerErr: Option[Throwable] = None
      val writer = new Thread(() => {
        try {
          (3 to 5).foreach { n =>
            IndexStore.saveFingerprintIndex(
              Dedup.fingerprintIndex(fpCorpus(n), "doc_id", "text"), name,
              numBuckets = 4, dir)
            Thread.sleep(100)
          }
        } catch { case t: Throwable => writerErr = Some(t) }
        finally writerDone = true
      })
      val reader = spark.newSession()
      writer.start()
      var reads = 0
      try {
        while (!writerDone || reads == 0) {
          val got = Dedup.exactIncremental(
            fpBatch, IndexStore.loadFingerprintIndex(reader, name, dir),
            "doc_id", "text").collect().map(_.toSeq).toSet[Seq[Any]]
          assert(expected.contains(got),
                 s"reader saw a state matching no complete version: $got")
          reads += 1
        }
      } finally writer.join()
      assert(writerErr.isEmpty, s"writer failed: $writerErr")
      assert(reads > 0)
      // after the dust settles the reader resolves the final version
      val fin = Dedup.exactIncremental(
        fpBatch, IndexStore.loadFingerprintIndex(reader, name, dir),
        "doc_id", "text").collect().map(_.toSeq).toSet[Seq[Any]]
      assert(fin.count(_(1) == true) == 5)
    } finally IndexStore.drop(spark, name)
  }

  test("lsh and ivf ANN indexes round-trip through disk with identical " +
       "top-k results") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 8
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)

    val lsh = Similarity.lshIndex(vecs, dim, nBits = 4)
    val ivf = Similarity.ivfIndex(vecs, nCells = 4)
    def lshRun(idx: DataFrame) =
      Similarity.lshTopKWithIndex(idx, queries, k = 3, dim, nBits = 4)
        .collect().map(_.toSeq).toSeq
    def ivfRun(idx: Similarity.IvfIndex) =
      Similarity.ivfTopKWithIndex(idx, queries, k = 3)
        .collect().map(_.toSeq).toSeq
    try {
      IndexStore.saveLshIndex(lsh, "idx_rt_lsh", numBuckets = 4)
      IndexStore.saveIvfIndex(ivf, "idx_rt_ivf", numBuckets = 4)
      assert(lshRun(IndexStore.loadLshIndex(spark, "idx_rt_lsh")) ==
               lshRun(lsh))
      assert(ivfRun(IndexStore.loadIvfIndex(spark, "idx_rt_ivf")) ==
               ivfRun(ivf))
    } finally {
      IndexStore.drop(spark, "idx_rt_lsh")
      IndexStore.drop(spark, "idx_rt_ivf")
    }
  }

  test("configurable retention: keepVersions=3 keeps current + two back " +
       "for long-running readers, the depth is read per-publish, and " +
       "values below the crash-safety floor of 2 are clamped") {
    val name = "idx_keep_fp"
    val d = tmpDir("idx_keep")
    val dir = Some(d)
    def vdirs: Seq[String] = {
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).filter(_.startsWith("__v")).sorted.toSeq
    }
    // the depth is read from the published frame's session
    def publish(n: Int, depth: String*): Unit =
      Sessions.withConf(fpCorpus(n), depth.map(KeepKey -> _): _*) { c =>
        IndexStore.saveFingerprintIndex(
          Dedup.fingerprintIndex(c, "doc_id", "text"), name,
          numBuckets = 4, dir)
      }
    try {
      (2 to 5).foreach(publish(_, "3")) // publishes v1..v4
      assert(vdirs == Seq("__v2", "__v3", "__v4"),
             s"depth 3 must keep current + two back, found $vdirs")
      // a reader that resolved v3 two rolls ago can still scan it
      assert(fpClassify(IndexStore.loadFingerprintIndex(spark, name, dir))
               .count(_(1) == true) == 5)
      // depth is per-publish: reverting to the default GCs back to 2
      publish(6) // v5
      assert(vdirs == Seq("__v4", "__v5"),
             s"default depth must GC the extra version, found $vdirs")
      // floor: depth 1 would let a crashed flip destroy the only copy
      publish(7, "1") // v6
      assert(vdirs == Seq("__v5", "__v6"),
             s"depth below 2 must clamp to 2, found $vdirs")
      // malformed tuning value must not abort the publish — GC runs
      // AFTER the commit marker, so a throw there would make a
      // successful roll look failed; defensive parse defaults to 2
      publish(8, "two") // v7
      assert(vdirs == Seq("__v6", "__v7"),
             s"malformed depth must default to 2, found $vdirs")
      publish(9, " 3 ") // v8
      assert(vdirs == Seq("__v6", "__v7", "__v8"),
             s"padded numeric depth must still parse, found $vdirs")
    } finally IndexStore.drop(spark, name)
  }

  test("vacuum: drops dead estates, GCs survivors to keepVersions, " +
       "deregisters dangling catalog entries, and is idempotent — " +
       "while a live estate's retained versions stay loadable") {
    // warehouse-managed fixtures (dir=None) under a spec-private scope
    // so the sweep never touches estates other suites memoized
    val dead = "graft_vacspec_dead"
    val live = "graft_vacspec_live"
    def publish(name: String, n: Int, depth: String*): Unit =
      Sessions.withConf(fpCorpus(n), depth.map(KeepKey -> _): _*) { c =>
        IndexStore.saveFingerprintIndex(
          Dedup.fingerprintIndex(c, "doc_id", "text"), name,
          numBuckets = 4)
      }
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    def vdirs(name: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$wh/$name")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("__v")).sorted.toSeq
    }
    try {
      publish(dead, 2)
      // three rolls at depth 3, then default depth: vacuum must GC the
      // survivor from 3 retained versions back down to 2
      (2 to 4).foreach(publish(live, _, "3")) // v1..v3 all retained
      assert(vdirs(live) == Seq("__v1", "__v2", "__v3"))
      // register a version entry, then delete its dir out from under
      // the catalog — the dangling-entry case the sweep deregisters
      IndexStore.loadTableVersion(spark, live, 1)
      assert(spark.catalog.tableExists(s"${live}__v1"))

      val rep = IndexStore.vacuum(spark, live = Seq(live),
                                  scope = "graft_vacspec_")
      assert(rep.droppedEstates == Seq(dead),
             s"dead estate must drop: $rep")
      assert(vdirs(dead).isEmpty && !new java.io.File(s"$wh/$dead").exists,
             "dead estate dir must be deleted")
      assert(!spark.catalog.tableExists(s"${dead}__v1"),
             "dead estate catalog entries must be deregistered")
      assert(vdirs(live) == Seq("__v2", "__v3"),
             s"survivor must GC to keepVersions=2: ${vdirs(live)}")
      assert(!spark.catalog.tableExists(s"${live}__v1"),
             "the GC'd version's catalog entry must go with its dir")
      // q285-style horizon walk still sees exactly the retained depth
      assert(IndexStore.retainedVersionNumbers(spark, live) == Seq(2, 3))
      // and every retained version still loads + classifies
      assert(fpClassify(IndexStore.loadFingerprintIndex(spark, live))
               .count(_(1) == true) == 4)
      assert(IndexStore.loadTableVersion(spark, live, 2).count() == 3)

      val rep2 = IndexStore.vacuum(spark, live = Seq(live),
                                   scope = "graft_vacspec_")
      assert(rep2.droppedEstates.isEmpty && rep2.gcedVersionDirs == 0 &&
               rep2.droppedCatalogEntries == 0,
             s"second sweep must be a no-op: $rep2")
    } finally {
      IndexStore.drop(spark, dead)
      IndexStore.drop(spark, live)
    }
  }

  test("vacuum writer lock: an overlapping sweep REFUSES while a live " +
       "holder exists, breaks a stale lock, and always releases its " +
       "own") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val lock = new org.apache.hadoop.fs.Path(s"$wh/__graft_vacuum_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // live holder: create-exclusive already taken → the sweep throws
      // instead of racing the holder's deletes
      val out = fs.create(lock, false)
      out.writeBytes("pid=test ts=now\n")
      out.close()
      val e = intercept[IllegalStateException] {
        IndexStore.vacuum(spark, scope = "graft_vaclockspec_")
      }
      assert(e.getMessage.contains("single-writer"), e.getMessage)
      assert(fs.exists(lock), "a refused sweep must not touch the lock")
      // stale holder (older than the stale threshold): broken with a
      // warning, the sweep runs, and ITS lock is released afterwards
      fs.setTimes(lock, System.currentTimeMillis() - 3600000L, -1L)
      val rep = IndexStore.vacuum(spark, scope = "graft_vaclockspec_")
      assert(rep.droppedEstates.isEmpty)
      assert(!fs.exists(lock),
             "the sweep must release its lock on the way out")
      // normal path: lock absent before and after
      IndexStore.vacuum(spark, scope = "graft_vaclockspec_")
      assert(!fs.exists(lock))
    } finally fs.delete(lock, false)
  }

  test("retention depth is ONE constant: the conf-backed helper feeds " +
       "the publish GC, the vacuum sweep, and the estate attestations") {
    assert(IndexStore.DefaultKeepVersions == 2)
    assert(IndexStore.keepVersions(spark) == 2)
    def depth(v: String): Int =
      Sessions.withConf(spark, KeepKey -> v)(IndexStore.keepVersions)
    assert(depth("5") == 5)
    assert(depth("1") == 2,
           "floor of 2 preserves the crash-safety invariant")
    assert(depth("junk") == 2)
  }
}
