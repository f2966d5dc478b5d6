package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.infer.{BatchInference, HashScorer}
import graft.io.Tsv
import graft.llm.{Dedup, IndexStore, Relevance}
import graft.metrics.BinaryMetrics
import graft.ml.{Cleaning, TextPipelines}
import graft.sources.Tables

/** What one operation produced: `check` must repeat exactly on every pass
  * (the first, untimed pass records it), and `ok` is the operation's own
  * correctness verdict.
  */
final case class Outcome(check: String, ok: Boolean = true,
                         why: String = "")

/** One operation of a workload. `warm` is true on the untimed first pass. */
final case class Op(name: String, run: (Tracer, Boolean) => Outcome)

trait Workload {
  def ops: Seq[Op]
  def inputRows: Long
  def setup(): Unit = ()
  /** Timed passes per run, at least: a run's figures are medians. */
  def minPasses: Int = 2
  /** Layer metrics the workload measures itself, after traced pass `p`. */
  def passMetrics(tr: Tracer, p: Int): Map[String, Double] = Map.empty
  def info: Map[String, Any] = Map.empty
  /** Queries whose first-pass output was written out for the oracle. */
  def oracle: collection.Set[String] = Set.empty
}

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-insensitive digest of every row and column: row count and the
    * exact sum of per-row xxhash64 values. Evaluating it is the sink that
    * consumes the operation's output.
    */
  def of(df: DataFrame): (String, DataFrame) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val d = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
    val r = d.collect().head // runs d's own QueryExecution
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (s"${r.getLong(0)}:$s", d)
  }
}

/** One operation per `SparkEntry.queries` entry: the query is built
  * (driver side), then consumed through [[Digest]]. On the first pass the
  * output is also written for the oracle, unless listed in `noOracle`.
  */
final class QueryOps(spark: SparkSession, dir: String, out: String,
                     names: Seq[String], noOracle: Set[String]) {
  private val hasOracle = SparkEntry.oracleSql.keySet -- noOracle
  val oracle = mutable.Set.empty[String]

  def queryOp(name: String): Op = Op(name, (tr, warm) => {
    val df = tr("operators.build")(SparkEntry.queries(name)(spark, dir))
    val (digest, d) = tr("operators.exec")(Digest.of(df))
    if (tr.enabled) {
      // `df` was analysed eagerly inside operators.build, so its analysis
      // is on its own tracker; the digest `d` analyses only its select and
      // aggregate on top. Optimization and planning run once, for `d`.
      def secs(qe: QueryExecution, phase: String) =
        qe.tracker.phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)
      tr.add("plans.analysis_s", secs(df.queryExecution, "analysis") +
        secs(d.queryExecution, "analysis"))
      tr.add("plans.optimization_s", secs(d.queryExecution, "optimization"))
      tr.add("plans.planning_s", secs(d.queryExecution, "planning"))
    }
    if (warm && hasOracle(name)) {
      df.write.mode("overwrite").parquet(s"$out/$name")
      oracle += name
    }
    Outcome(digest)
  })

  val ops: Seq[Op] = names.map(queryOp)
}

/** The paper's workload: the SST-2, QQP and QNLI pipelines over GLUE-shaped
  * TSVs, then batch inference over the three dev sets.
  */
final class Glue(spark: SparkSession, dir: String, out: String,
                 rows: Map[String, Long]) extends Workload {
  private val tasks = Seq("sst2", "qqp", "qnli")
  private val textCol = Map("sst2" -> "sentence", "qqp" -> "combined_text",
                            "qnli" -> "input_text")
  private val rawLabel = Map("sst2" -> "label", "qqp" -> "is_duplicate",
                             "qnli" -> "label")
  private val labelCol = rawLabel + ("qqp" -> "indexed_label")
  private val frames = mutable.Map.empty[String, (DataFrame, DataFrame)]
  private val models = mutable.Map.empty[String, PipelineModel]
  /** Generated dev rows; none is an edge row, so cleaning keeps all. */
  private val devRows = tasks.map(t => t -> rows(s"$t.dev")).toMap
  val accuracy = mutable.Map.empty[String, Double]
  val iterations = mutable.Map.empty[String, Int]
  val inputRows = rows.values.sum

  private def tsv(path: String) = s"$dir/$path.tsv"

  private def load(t: String, tr: Tracer): (DataFrame, DataFrame) = t match {
    case "sst2" =>
      def clean(df: DataFrame) =
        df.na.drop().withColumn("label", col("label").cast("double"))
      val Seq(train, dev) = Seq("train", "dev").map(s =>
        tr("io.tsv_read")(Tsv.readTsvInfer(spark, tsv(s"SST-2/$s"))))
      (clean(train), clean(dev))
    case "qqp" =>
      def clean(df: DataFrame) = df.select(
          col("id").cast("int").as("id"),
          col("qid1").cast("string"), col("qid2").cast("string"),
          col("question1"), col("question2"),
          col("is_duplicate").cast("float").as("is_duplicate"))
        .na.drop(Seq("question1", "question2", "is_duplicate"))
        .withColumn("combined_text",
          Cleaning.pairConcat(col("question1"), col("question2")))
      val Seq(train, dev) = Seq("train", "dev").map(s =>
        tr("io.tsv_read")(Tsv.readTsvQuoted(spark, tsv(s"QQP/$s"))))
      (clean(train), clean(dev))
    case "qnli" =>
      def clean(df: DataFrame) = df
        .selectExpr("question as text", "sentence as context",
                    "label as raw_label")
        .withColumn("label",
          Cleaning.cleanLabel(col("raw_label")).cast("double"))
        .filter(col("label").isNotNull)
        .withColumn("input_text",
          Cleaning.composeText(col("text"), col("context")))
        .filter(length(col("input_text")) > 0)
      val Seq(train, dev) = Seq("train", "dev").map(s =>
        tr("io.tsv_read")(Tsv.readTsvInfer(spark, tsv(s"QNLI/$s"))))
      (clean(train), clean(dev))
  }

  private def pipeline(t: String) = t match {
    case "sst2" => TextPipelines.sst2()
    case "qqp" => TextPipelines.qqp()
    case "qnli" => TextPipelines.qnli()
  }

  private def loadOp(t: String) = Op(s"$t.load", (tr, _) => {
    frames(t) = load(t, tr)
    Outcome(frames(t)._1.schema.simpleString)
  })

  private def fitOp(t: String) = Op(s"$t.fit", (tr, _) => {
    val m = tr(s"ml.fit.$t")(pipeline(t).fit(frames(t)._1))
    models(t) = m
    val lr = m.stages.last.asInstanceOf[LogisticRegressionModel]
    iterations(t) = lr.summary.totalIterations
    Outcome(s"iter=${iterations(t)} coef=" +
      java.util.Arrays.hashCode(lr.coefficients.toArray) +
      s" b=${lr.intercept}")
  })

  private val preds = mutable.Map.empty[String, DataFrame]

  private def transformOp(t: String) = Op(s"$t.transform", (tr, _) => {
    val p = tr("ml.transform") {
      val p = models(t).transform(frames(t)._2)
        .withColumn("score", Cleaning.positiveProbability(col("probability")))
        .persist()
      p.count()
      p
    }
    preds(t) = p
    Outcome(p.schema.simpleString)
  })

  // BinaryMetrics one metric per operation, over the persisted predictions
  private def accuracyOp(t: String) = Op(s"$t.accuracy", (tr, _) => {
    accuracy(t) = tr("metrics.eval")(
      BinaryMetrics.accuracy(preds(t), labelCol(t)))
    Outcome(s"${accuracy(t)}", accuracy(t) >= 0.6,
            s"accuracy ${accuracy(t)} is below the 0.6 floor")
  })

  private def f1Op(t: String) = Op(s"$t.f1", (tr, _) => {
    val f1 = tr("metrics.eval")(BinaryMetrics.weightedF1(preds(t), labelCol(t)))
    Outcome(s"$f1", f1 > 0 && f1 <= 1, s"weighted F1 $f1")
  })

  private def aucOp(t: String) = Op(s"$t.auc", (tr, _) => {
    val auc = tr("metrics.eval")(BinaryMetrics.aucROC(preds(t), labelCol(t)))
    Outcome(s"$auc", auc > 0.5 && auc <= 1, s"AUC $auc")
  })

  private def confusionOp(t: String) = Op(s"$t.confusion", (tr, _) => {
    val cm = tr("metrics.eval")(
      BinaryMetrics.confusionMatrix(preds(t), labelCol(t)).collect())
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    val total = cm.map(_._3).sum
    val hits = cm.collect { case (l, p, n) if l == p => n }.sum
    // the matrix covers every dev row and agrees with the accuracy op
    val ok = total == devRows(t) &&
      math.abs(hits.toDouble / total - accuracy(t)) < 1e-12
    Outcome(cm.map { case (l, p, n) => s"$l/$p=$n" }.mkString(","), ok,
            s"confusion total $total of ${devRows(t)} dev rows, " +
              s"diagonal share ${hits.toDouble / total} vs accuracy " +
              accuracy(t))
  })

  private def writeOp(t: String) = Op(s"$t.write", (tr, _) => {
    val path = s"$out/predictions/$t"
    tr("io.write")(Tsv.writeCsv(
      preds(t).select(textCol(t), labelCol(t), "prediction"), path))
    preds.remove(t).foreach(_.unpersist())
    val parts = new java.io.File(path).list().count(_.startsWith("part-"))
    Outcome(s"written", parts > 0, s"$parts part files under $path")
  })

  private val scoreOp = Op("infer.score", (tr, _) => {
    val in = tasks.map { t =>
      frames(t)._2.select(col(textCol(t)).as("text"),
                          col(rawLabel(t)).cast("int").as("target"))
    }.reduce(_ unionByName _)
    val (digest, _) = tr("infer.score")(Digest.of(
      BatchInference.scoreAll(in, "text", "target",
        () => new HashScorer(Seq("negative", "positive")))))
    Outcome(digest, digest.startsWith(s"${devRows.values.sum}:"),
            s"digest $digest, expected ${devRows.values.sum} scored rows")
  })

  val ops: Seq[Op] =
    tasks.flatMap(t => Seq(loadOp(t), fitOp(t), transformOp(t),
      accuracyOp(t), f1Op(t), aucOp(t), confusionOp(t), writeOp(t))) :+
      scoreOp

  override def passMetrics(tr: Tracer, p: Int): Map[String, Double] = {
    val score = tr.seconds("infer.score", p)
    tasks.map(t => s"ml.lr_iterations.$t" -> iterations(t).toDouble).toMap ++
      Map("ml.accuracy" -> accuracy.values.sum / tasks.size,
          "infer.rows_per_s" ->
            (if (score > 0) devRows.values.sum / score else 0.0))
  }

  override def info: Map[String, Any] = Map(
    "dev_rows" -> devRows, "accuracy" -> accuracy.toMap,
    "lr_iterations" -> iterations.toMap)
}

/** LLM data curation: read-side dedup/tokenizer queries over `documents`,
  * then the write side of the storage layer: a versioned publication of
  * fingerprint, BM25 and MinHash indexes built from a base slice of the
  * corpus, reloaded and rolled forward with the rest of it. A roll must
  * equal a rebuild over base and delta.
  */
final class Curation(spark: SparkSession, dir: String, out: String,
                     queries: Seq[String], noOracle: Set[String],
                     val inputRows: Long) extends Workload {
  private val q = new QueryOps(spark, dir, out, queries, noOracle)
  override def oracle = q.oracle
  private val docs = Tables.documents(spark, dir).select("doc_id", "text")
  private var delta: DataFrame = _
  private var fp: DataFrame = _
  private var bm: Relevance.Bm25Index = _
  private var mh: Dedup.MinhashIndex = _
  private var expected: Seq[Seq[String]] = Nil
  private var baseBytes = 0L
  private val kinds = Seq("fingerprint", "bm25", "minhash")
  private val names = Seq("graft_pb_fp", "graft_pb_bm25", "graft_pb_mh")
  private val tables = Seq("graft_pb_fp", "graft_pb_bm25_postings",
    "graft_pb_bm25_stats", "graft_pb_mh_buckets", "graft_pb_mh_shingles")

  private def bm25Frames(b: Relevance.Bm25Index) = Seq(
    b.postings.select("token", "doc_id", "dl", "tf"),
    b.stats.select("n_docs", "sum_dl", "avgdl"))
  private def minhashFrames(m: Dedup.MinhashIndex) = Seq(
    m.buckets.select("corpus_id", "band", "bucket"),
    m.shingles.select("corpus_id", "shh"))

  override def setup(): Unit = {
    val cut = inputRows * 4 / 5
    val base = docs.filter(col("doc_id") < cut).persist()
    delta = docs.filter(col("doc_id") >= cut).persist()
    baseBytes = base.agg(sum(length(col("text")))).head().getLong(0)
    fp = Dedup.fingerprintIndex(base, "doc_id", "text").persist()
    val b = Relevance.bm25Index(base, "doc_id", "text")
    bm = Relevance.Bm25Index(b.postings.persist(), b.stats.persist())
    val m = Dedup.minhashIndexPortable(base, "doc_id", "text")
    mh = Dedup.MinhashIndex(m.buckets.persist(), m.shingles.persist())
    (Seq(fp) ++ bm25Frames(bm) ++ minhashFrames(mh)).foreach(_.count())
    // the roll's expected result: each index rebuilt over base ∪ delta
    expected = Seq(
      Seq(Dedup.fingerprintIndex(docs, "doc_id", "text")
        .select("fp", "corpus_id")),
      bm25Frames(Relevance.bm25Index(docs, "doc_id", "text")),
      minhashFrames(Dedup.minhashIndexPortable(docs, "doc_id", "text"))
    ).map(_.map(f => Digest.of(f)._1))
  }

  private def publishOp(i: Int) = Op(s"publish.${kinds(i)}", (tr, _) => {
    tr("indexstore.save")(i match {
      // the default bucket count, as every caller in the library uses
      case 0 => IndexStore.saveFingerprintIndex(fp, names(0))
      case 1 => IndexStore.saveBm25Index(bm, names(1))
      case 2 => IndexStore.saveMinhashIndex(mh, names(2))
    })
    Outcome("published")
  })

  private val loaded = mutable.Map.empty[Int, Any]

  /** Resolve the current committed version of an index from disk. */
  private def loadOp(i: Int) = Op(s"load.${kinds(i)}", (tr, _) => {
    loaded(i) = tr("indexstore.load")(i match {
      case 0 => IndexStore.loadFingerprintIndex(spark, names(0))
      case 1 => IndexStore.loadBm25Index(spark, names(1))
      case 2 => IndexStore.loadMinhashIndex(spark, names(2))
    })
    Outcome("loaded")
  })

  /** Roll the loaded index forward with the delta. */
  private def rollOp(i: Int) = Op(s"roll.${kinds(i)}", (tr, _) => {
    val rolled = loaded.remove(i).get match {
      case f: DataFrame => Seq(
        Dedup.mergeFingerprintIndex(f, delta, "doc_id", "text")
          .select("fp", "corpus_id"))
      case b: Relevance.Bm25Index =>
        bm25Frames(Relevance.mergeBm25Index(b, delta, "doc_id", "text"))
      case m: Dedup.MinhashIndex =>
        minhashFrames(Dedup.mergeMinhashIndex(m, delta, "doc_id", "text"))
    }
    val got = tr("operators.exec")(rolled.map(r => Digest.of(r)._1))
    Outcome(got.mkString(" "), got == expected(i),
            s"rolled ${got.mkString(" ")} vs rebuilt " +
              expected(i).mkString(" "))
  })

  val ops: Seq[Op] =
    q.ops ++ Seq(publishOp _, loadOp _, rollOp _).flatMap(kinds.indices.map)

  // The JIT is still compiling curation's driver code after the untimed
  // pass: the first timed pass runs up to 18% slower than the second (q70
  // alone 0.4 s), so the median of two passes would carry half of that.
  override def minPasses: Int = 3

  /** Committed version dirs of the benchmark's index tables:
    * (live versions, bytes and files of each table's newest version). */
  private def estate(): (Int, Long, Long) = {
    val root = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var live = 0; var bytes = 0L; var files = 0L
    for (t <- tables) {
      val dirs = fs.listStatus(new Path(root, t)).map(_.getPath)
        .filter(d => d.getName.startsWith("__v") &&
                     fs.exists(new Path(d, "_graft_index_commit")))
      live += dirs.length
      dirs.maxByOption(_.getName.stripPrefix("__v").toInt).foreach { d =>
        val it = fs.listFiles(d, true)
        while (it.hasNext) { val s = it.next(); bytes += s.getLen; files += 1 }
      }
    }
    (live, bytes, files)
  }

  override def passMetrics(tr: Tracer, p: Int): Map[String, Double] = {
    val (live, bytes, files) = estate()
    Map("indexstore.live_versions" -> live.toDouble,
        "indexstore.bytes_written" -> bytes.toDouble,
        "indexstore.files_written" -> files.toDouble,
        "indexstore.bytes_per_input_byte" -> bytes.toDouble / baseBytes)
  }

  override def info: Map[String, Any] = Map(
    "base_text_bytes" -> baseBytes, "index_tables" -> tables)
}
