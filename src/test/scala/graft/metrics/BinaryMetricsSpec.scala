package graft.metrics

import graft.SparkSpec
import org.apache.spark.ml.evaluation.{
  BinaryClassificationEvaluator, MulticlassClassificationEvaluator
}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Distributed metrics must agree EXACTLY with the MLlib evaluators the
  * reference calls (E1–E3) — same fixture, same numbers.
  */
class BinaryMetricsSpec extends SparkSpec {

  /** 40 rows with a mix of right/wrong predictions and duplicate scores. */
  private def fixture: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (0 until 40).map { i =>
      val label = (i % 2).toDouble
      val score = math.round(
        (0.2 * label + 0.4 * rnd.nextDouble() + 0.2) * 100) / 100.0
      val pred  = if (score > 0.5) 1.0 else 0.0
      (label, pred, score, Vectors.dense(1 - score, score))
    }.toDF("label", "prediction", "score", "probability")
  }

  test("E2: accuracy equals MulticlassClassificationEvaluator") {
    val df = fixture
    val expected = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy").evaluate(df)
    assert(math.abs(BinaryMetrics.accuracy(df) - expected) < 1e-12)
  }

  test("E3: weightedF1 equals MulticlassClassificationEvaluator f1") {
    val df = fixture
    val expected = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("f1").evaluate(df)
    assert(math.abs(BinaryMetrics.weightedF1(df) - expected) < 1e-12)
  }

  test("E1: aucROC equals BinaryClassificationEvaluator on the score column") {
    val df = fixture
    val expected = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("probability")
      .setMetricName("areaUnderROC").evaluate(df)
    assert(math.abs(BinaryMetrics.aucROC(df) - expected) < 1e-12)
  }

  test("summary: one persisted pass agrees with individual metric calls") {
    val df = fixture
    val s = BinaryMetrics.summary(df)
    assert(s.accuracy == BinaryMetrics.accuracy(df))
    assert(s.f1 == BinaryMetrics.weightedF1(df))
    assert(s.auc == BinaryMetrics.aucROC(df))
    assert(s.confusion.values.sum == 40L)
    assert(s.confusion == BinaryMetrics.confusionMatrix(df).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap)
  }

  test("E4: confusion matrix counts are exact") {
    import spark.implicits._
    val df = Seq(
      (1.0, 1.0), (1.0, 1.0), (1.0, 0.0),
      (0.0, 0.0), (0.0, 1.0)).toDF("label", "prediction")
    val cm = BinaryMetrics.confusionMatrix(df).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSeq
    // label, then prediction, ascending
    assert(cm == Seq((0.0, 0.0) -> 1L, (0.0, 1.0) -> 1L,
                     (1.0, 0.0) -> 1L, (1.0, 1.0) -> 2L))
  }

  test("E4 via stat.crosstab agrees with the confusion matrix") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 0.0))
      .toDF("label", "prediction")
    val ct = df.stat.crosstab("label", "prediction").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cm = BinaryMetrics.confusionMatrix(df).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toMap
    // crosstab columns sort lexicographically: 0.0 then 1.0
    assert(ct("1.0") == ((cm.getOrElse((1.0, 0.0), 0L),
                          cm.getOrElse((1.0, 1.0), 0L))))
    assert(ct("0.0") == ((cm.getOrElse((0.0, 0.0), 0L),
                          cm.getOrElse((0.0, 1.0), 0L))))
  }

  test("E7 via stat.approxQuantile brackets the exact median") {
    import spark.implicits._
    val df = (1 to 101).map(_.toDouble).toDF("v")
    val Array(q) = df.stat.approxQuantile("v", Array(0.5), 0.01)
    assert(q >= 50.0 && q <= 52.0)
  }

  test("E5: rocPoints ends at (1,1) and is monotone") {
    val pts = BinaryMetrics.rocPoints(fixture).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(pts.last == (1.0, 1.0))
    assert(pts.sliding(2).forall {
      case Array((f0, t0), (f1, t1)) => f1 >= f0 && t1 >= t0
      case _ => true
    })
  }

  test("E5/E1 maxBins: binned ROC stays close to MLlib AUC on continuous scores") {
    import spark.implicits._
    // continuous scores: #distinct ≈ #rows — the case where the unbinned
    // single-partition window would sort a data-scale relation
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4000).map { _ =>
      val label = if (rnd.nextBoolean()) 1.0 else 0.0
      val score = math.min(1.0, math.max(0.0,
        0.35 * label + 0.15 + 0.5 * rnd.nextDouble()))
      (label, score, Vectors.dense(1 - score, score))
    }
    val df = rows.toDF("label", "score", "probability")
    assert(df.select("score").distinct.count() > 3900)

    val expected = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("probability")
      .setMetricName("areaUnderROC").evaluate(df)
    val binned = BinaryMetrics.aucROC(df, maxBins = 64)
    assert(math.abs(binned - expected) < 0.01,
           s"binned AUC $binned vs exact $expected")

    val pts = BinaryMetrics.rocPoints(df, maxBins = 64)
    assert(pts.count() <= 65, "window input must be bounded by maxBins")
    val collected = pts.collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(collected.last == (1.0, 1.0))
    assert(collected.sliding(2).forall {
      case Array((f0, t0), (f1, t1)) => f1 >= f0 && t1 >= t0
      case _ => true
    })
  }

  test("E5/E1 AUTO maxBins: default binning kicks in above the distinct-" +
       "score threshold, bounds the window input, and stays within 1e-3 " +
       "of MLlib") {
    import spark.implicits._
    // #distinct ≈ #rows >> AutoExactMaxScores: the naive-caller case the
    // auto default exists for
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50000).map { _ =>
      val label = if (rnd.nextBoolean()) 1.0 else 0.0
      val score = math.min(1.0, math.max(0.0,
        0.35 * label + 0.15 + 0.5 * rnd.nextDouble()))
      (label, score, Vectors.dense(1 - score, score))
    }
    val df = rows.toDF("label", "score", "probability")
    val distinct = df.select("score").distinct.count()
    assert(distinct > BinaryMetrics.AutoExactMaxScores,
           s"fixture must exceed the auto threshold, got $distinct")

    val pts = BinaryMetrics.rocPoints(df) // DEFAULT — no opt-in
    assert(pts.count() <= BinaryMetrics.AutoBins + 1,
           "default must auto-bin: window input bounded by AutoBins")
    val expected = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("probability")
      .setMetricName("areaUnderROC").evaluate(df)
    val auto = BinaryMetrics.aucROC(df) // DEFAULT
    assert(math.abs(auto - expected) < 1e-3,
           s"auto-binned AUC $auto vs MLlib $expected")
    // below the threshold the default stays exact
    val small = fixture
    assert(BinaryMetrics.aucROC(small) ==
             BinaryMetrics.aucROC(small, maxBins = 0))
  }

  test("E5 maxBins=0 keeps the exact per-distinct-score curve") {
    val df = fixture
    val exact  = BinaryMetrics.aucROC(df)
    val binned = BinaryMetrics.aucROC(df, maxBins = 1000)
    // more bins than distinct scores → binning is a no-op for AUC
    assert(math.abs(exact - binned) < 1e-9)
  }

  test("E7: histogram bins cover all rows; top edge closed") {
    import spark.implicits._
    val df = Seq(0.0, 0.04, 0.5, 0.99, 1.0).toDF("score")
    val h = BinaryMetrics.probabilityHistogram(df, "score", bins = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h.values.sum == 5)
    assert(h(19L) == 2L) // 0.99 and 1.0 both land in the last bin
    assert(h(0L) == 2L)
  }

  test("E7b: class distribution counts each label once, ordered by label") {
    val d = BinaryMetrics.classDistribution(fixture, "label")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(d == Seq((0.0, 20L), (1.0, 20L)))
  }

  test("calibration curve: per-bin counts, mean score, and positive rate") {
    import spark.implicits._
    val df = Seq(
      (0.05, 0.0), (0.15, 0.0), (0.15, 1.0),   // bins 0, 1, 1
      (0.85, 1.0), (0.85, 1.0), (0.85, 0.0),   // bin 8
      (1.00, 1.0))                              // clamps to bin 9
      .toDF("score", "label")
    val c = BinaryMetrics.calibrationCurve(df, bins = 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(c(0L) == ((1L, 0.05, 0.0)))
    assert(c(1L) == ((2L, 0.15, 0.5)))
    assert(c(8L) == ((3L, 0.85, round4(2.0 / 3))))
    assert(c(9L) == ((1L, 1.0, 1.0)))
    assert(c.values.map(_._1).sum == 7L)
  }

  /** Tied scores, a -0.0/0.0 pair, NaN and a null score: every ordering
    * corner of the score-grouped curve. The NaN and null groups are
    * one-class, so where they sit in the curve moves the area.
    */
  private def tiedFixture: DataFrame = {
    import spark.implicits._
    Seq[(Double, java.lang.Double)](
      (1.0, 0.9), (0.0, 0.9), (1.0, 0.9), (1.0, 0.5), (0.0, 0.5),
      (1.0, 0.0), (0.0, -0.0), (0.0, 0.0), (1.0, -0.0), (0.0, 0.1),
      (1.0, Double.NaN), (1.0, null), (0.0, 0.2))
      .toDF("label", "score")
  }

  private def singleScoreFixture: DataFrame = {
    import spark.implicits._
    Seq((1.0, 0.5), (0.0, 0.5), (0.0, 0.5)).toDF("label", "score")
  }

  /** The trapezoid over the window plan's exact curve. */
  private def windowAuc(df: DataFrame): Double = {
    val pts = BinaryMetrics.rocPoints(df, maxBins = 0)
      .select("fpr", "tpr").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val curve = ((0.0, 0.0) +: pts.toSeq).toList
    curve.zip(curve.tail).map { case ((x0, y0), (x1, y1)) =>
      (x1 - x0) * (y1 + y0) / 2.0
    }.sum
  }

  test("E1: driver-built aucROC == the trapezoid over rocPoints' exact " +
       "window curve (default and maxBins = 0)") {
    for ((name, df) <- Seq("40-row" -> fixture, "tied" -> tiedFixture,
                           "single-score" -> singleScoreFixture)) {
      val expected = windowAuc(df)
      // the default curve runs the same window over the collected rows
      assert(BinaryMetrics.rocPoints(df).collect().toSeq ==
               BinaryMetrics.rocPoints(df, maxBins = 0).collect().toSeq, name)
      assert(BinaryMetrics.aucROC(df) == expected, name)
      assert(BinaryMetrics.aucROC(df, maxBins = 0) == expected, name)
    }
    assert(BinaryMetrics.aucROC(singleScoreFixture) == 0.5)
  }

  test("E1: a single-class input is an error naming the missing class") {
    import spark.implicits._
    val allPos = Seq((1.0, 0.2), (1.0, 0.7)).toDF("label", "score")
    val allNeg = Seq((0.0, 0.2), (0.0, 0.7)).toDF("label", "score")
    for (bins <- Seq(-1, 0)) {
      val p = intercept[IllegalArgumentException](
        BinaryMetrics.aucROC(allPos, maxBins = bins))
      assert(p.getMessage.contains("no negative"), p.getMessage)
      val n = intercept[IllegalArgumentException](
        BinaryMetrics.aucROC(allNeg, maxBins = bins))
      assert(n.getMessage.contains("no positive"), n.getMessage)
    }
  }

  test("E3: weightedF1 == the per-class sum over confusionMatrix's " +
       "ordered rows") {
    import spark.implicits._
    def orderedTerms(df: DataFrame): Array[Double] = {
      val cm = BinaryMetrics.confusionMatrix(df).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      val classes = (cm.map(_._1) ++ cm.map(_._2)).distinct
      val total   = cm.map(_._3).sum.toDouble
      classes.map { c =>
        val tp = cm.filter(t => t._1 == c && t._2 == c).map(_._3).sum.toDouble
        val fp = cm.filter(t => t._1 != c && t._2 == c).map(_._3).sum.toDouble
        val fn = cm.filter(t => t._1 == c && t._2 != c).map(_._3).sum.toDouble
        val precision = if (tp + fp == 0) 0.0 else tp / (tp + fp)
        val recall    = if (tp + fn == 0) 0.0 else tp / (tp + fn)
        val f1 =
          if (precision + recall == 0) 0.0
          else 2 * precision * recall / (precision + recall)
        f1 * ((tp + fn) / total)
      }
    }
    assert(BinaryMetrics.weightedF1(fixture) == orderedTerms(fixture).sum)
    val fourClass = Seq(
      (2.0, 3.0), (3.0, 1.0), (1.0, 0.0), (2.0, 3.0), (0.0, 0.0), (3.0, 0.0),
      (1.0, 1.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0), (3.0, 2.0), (1.0, 1.0))
      .toDF("label", "prediction")
    val terms = orderedTerms(fourClass)
    // these four terms sum to another double in reverse order, so the
    // fixture pins the per-class summation order
    assert(terms.reverse.sum != terms.sum)
    assert(BinaryMetrics.weightedF1(fourClass) == terms.sum)
  }

  test("confusion aggregate: null label or prediction rows count as " +
       "accuracy misses, bit for bit") {
    import spark.implicits._
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (null, 1.0), (0.0, null),
      (1.0, 1.0), (-0.0, 0.0))
      .toDF("label", "prediction")
    val cm = BinaryMetrics.confusion(df, "label", "prediction")
    assert(cm.nullRows == 2L)
    assert(cm.accuracy == BinaryMetrics.accuracy(df))
    assert(intercept[IllegalArgumentException](cm.weightedF1)
      .getMessage.contains("null label or prediction"))
  }

  /** Jobs one evaluator call launches, counted with a listener drained
    * before and after.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBridge.waitUntilEmpty(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("aucROC, weightedF1 and summary run one collect's jobs per " +
       "aggregate on the 40-row fixture") {
    val df = fixture.persist()
    try {
      df.count()
      assert(jobsOf(BinaryMetrics.aucROC(df)) == 2)
      assert(jobsOf(BinaryMetrics.aucROC(df, maxBins = 0)) == 2)
      assert(jobsOf(BinaryMetrics.weightedF1(df)) == 2)
      // the confusion aggregate's collect plus aucROC's
      assert(jobsOf(BinaryMetrics.summary(df)) == 4)
      // the aggregate and its one-partition sort: no range sampling job
      // (a global orderBy made it 4)
      assert(jobsOf(BinaryMetrics.confusionMatrix(df).collect()) == 2)
      // the default curve: aucROC's bounded grouped collect picks the
      // mode, and the window plan runs over its rows in one partition (an
      // approx_count_distinct pre-check before a re-aggregating window
      // plan made it 5, an eager totals head() 8)
      assert(jobsOf(BinaryMetrics.rocPoints(df).collect()) == 3)
    } finally { df.unpersist(); () }
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
