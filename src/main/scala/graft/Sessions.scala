package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

/** Single place every entrypoint (Verify / Bench / tests / apps) builds its
  * SparkSession, so semantics (UTC timezone, AQE, shuffle width) never depend
  * on the caller.
  *
  * Session conf is written only here: at build, and on the clones that
  * [[withConf]] hands out. A session in use is never written, so nothing
  * is ever restored, and a query planned on it from another thread keeps
  * its conf while a scope runs.
  *
  * Scale notes: `spark.sql.shuffle.partitions` is sized to the local core
  * count here; on a real cluster AQE coalesces/splits post-shuffle partitions
  * at runtime, so the static value is only an initial hint. Adaptive skew-join
  * handling is left enabled (default) for the 100 TB design point.
  *
  * Codegen cache: Spark keeps one JVM-wide LRU cache of compiled
  * generated classes, 100 entries by default. A perfbench JVM compiles
  * 129 distinct classes on glue and 314 on curation, so at 100 every
  * timed pass recompiled most of its working set (107 classes per pass
  * on glue, 251 on curation). [[CodegenCacheEntries]] holds the largest
  * working set about 3 times over, and a steady-state pass compiles
  * nothing (plans/probe/codegen_cache.txt). The size is a static conf:
  * it takes effect only when the session is first built, and Spark reads
  * it once, when it first generates code in the JVM. So build the
  * session before anything generates code.
  *
  * Local filesystem: Spark 4.1's Hadoop, without libhadoop, starts a
  * `chmod` process for every local directory it makes and every file it
  * opens for write (`.crc` sidecars included) and a `readlink` process
  * on every `FileContext` rename: 423 process starts per curation pass,
  * most of them on task threads. `file://` therefore resolves to graft's
  * [[graft.io.GraftLocalFileSystem]] (`fs.file.impl`, the `FileSystem`
  * API: Parquet, CSV, tables, IndexStore, RDD checkpoints) and
  * [[graft.io.GraftLocalFs]] (`fs.AbstractFileSystem.file.impl`, the
  * `FileContext` API: streaming logs and state checkpoints), Hadoop's
  * checksummed local filesystems over a raw layer that does both calls
  * in-process. Bytes, `.crc` files and modes are Hadoop's. Other
  * schemes (HDFS, S3) never load it. Hadoop caches the first `file://`
  * `FileSystem` in a JVM, whatever conf made it, so build the session
  * before anything touches the local filesystem.
  */
object Sessions {

  /** `spark.sql.codegen.cache.maxEntries`: about 3× the largest measured
    * working set (curation, 314 classes per perfbench JVM) and over 4×
    * the most one `Bench` query compiles (q289, 226). A whole `Bench`
    * run compiles about 5,600 distinct classes; Bench warms each query
    * just before timing it, so it needs only the query's own set.
    */
  val CodegenCacheEntries = 1000

  /** The JVM's session: the default session while its SparkContext is
    * live, else a new one built with graft's conf. A live session is
    * returned as it is, never handed to the builder again: the builder
    * would re-apply the runtime confs to a session in use and cannot
    * apply the static ones at all.
    */
  def local(cpus: String, appName: String = "graft"): SparkSession =
    SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
      .getOrElse(build(cpus, appName))

  private def build(cpus: String, appName: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      // The state-store maintenance interval is pinned JVM-wide by the
      // FIRST stateful query; at the 60s default the maintenance thread
      // keeps servicing a stopped bounded query's RocksDB providers and
      // races its checkpoint teardown (CANNOT_COMMIT /
      // FileNotFoundException log noise). Maintenance only reclaims
      // space, so a bounded run never needs it: set it at session
      // creation so every entrypoint gets the quiet interval regardless
      // of which query starts first.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "2h")
      // events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate adds `size(gen_input) > 0 AND
      // isnotnull(gen_input)` above every explode, and predicate pushdown
      // then substitutes the generator-input ALIAS with its full
      // expression tree below the projections — for HOF-built arrays
      // (token/gram/shingle pipelines) that re-evaluates the whole
      // interpreted lambda tree 2 extra times per row, measured 8× on the
      // decontamination gram explode. The empty-array skip it buys is
      // negligible at corpus scale; excluded engine-wide.
      .config("spark.sql.optimizer.excludedRules",
              "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.codegen.cache.maxEntries",
              CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl",
              classOf[graft.io.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
              classOf[graft.io.GraftLocalFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` on a clone of `spark` with `confs` set on the clone; the
    * clone is the thread's active session meanwhile. Everything the body
    * plans or runs on its parameter sees the confs; `spark` itself is
    * never written. Name the parameter `spark` to shadow the outer
    * session, so no frame inside the body reaches the parent by accident:
    * {{{
    * Sessions.withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
    *   spark => ...
    * }
    * }}}
    * The clone shares the SparkContext, cache manager and external
    * catalog, so saved tables, published statistics and checkpoints are
    * visible to the parent; temp views and streams registered on the
    * clone are not. A frame built OUTSIDE the body keeps its own
    * session: rebind it with the Dataset form below.
    */
  def withConf[T](spark: SparkSession, confs: (String, String)*)
                 (body: SparkSession => T): T = {
    val clone = SessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    SessionBridge.withActive(clone)(body(clone))
  }

  /** [[withConf]] for a frame built elsewhere: `body` gets `ds`'s plan
    * rebound onto a configured clone of `ds`'s own session. A stream
    * fixes its conf when it starts (state store provider, state
    * partitions), so `withConf(stream, conf) { _.writeStream...start() }`
    * is the whole scope a stream start needs.
    */
  def withConf[A, T](ds: Dataset[A], confs: (String, String)*)
                    (body: Dataset[A] => T): T =
    withConf(ds.sparkSession, confs: _*) { clone =>
      body(SessionBridge.rebind(ds, clone))
    }
}
