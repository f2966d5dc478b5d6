package graft.metrics

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed model-quality metrics (SURVEY.md §2.6 E1–E7) — every
  * driver-side sklearn/NumPy computation of the reference re-expressed as a
  * DataFrame aggregate; only O(#classes) or O(#distinct-scores) rows ever
  * reach the driver.
  *
  * Scale notes: confusion/accuracy/F1 are one hash-aggregate shuffle on
  * (label, prediction) — cardinality #classes², trivially safe. ROC/AUC
  * groups by distinct score first (cardinality ≤ #distinct scores, bounded
  * further by `maxBins` quantile binning at cluster scale); the cumulative
  * sums then run over that aggregated (small) relation, never over raw rows.
  *
  * At sf0.1 the evaluators are bound by job latency, not compute, so the
  * collecting evaluators ([[weightedF1]], [[aucROC]], [[summary]]) collect
  * the unordered aggregate once and do the ordering and cumulative
  * arithmetic on the driver, in the same order as the DataFrame plans of
  * [[confusionMatrix]] and [[rocPoints]] — bit-identical results, fewer
  * round trips.
  */
object BinaryMetrics {

  /** (label, prediction) → n, unordered: the aggregate every
    * confusion-derived metric starts from.
    */
  private def confusionCells(preds: Dataset[_], labelCol: String,
                             predictionCol: String): DataFrame =
    preds
      .groupBy(col(labelCol).cast("double").as("label"),
               col(predictionCol).cast("double").as("prediction"))
      .agg(count(lit(1)).as("n"))

  /** E4 — distributed confusion matrix: the `qnli_test.py:183-193` pattern.
    * Cardinality = #classes², safe at any data scale. The cells are
    * sorted in one partition: a global `orderBy` would add a range
    * sampling job to order at most #classes² rows.
    */
  def confusionMatrix(preds: Dataset[_], labelCol: String = "label",
                      predictionCol: String = "prediction"): DataFrame =
    confusionCells(preds, labelCol, predictionCol)
      .coalesce(1).sortWithinPartitions("label", "prediction")

  /** The collected confusion aggregate. `cells` holds the non-null
    * (label, prediction, n) cells in [[confusionMatrix]]'s order (label,
    * then prediction, ascending); `nullRows` counts the rows whose label or
    * prediction is null.
    */
  private[metrics] final case class Confusion(
      cells: Seq[(Double, Double, Long)], nullRows: Long) {

    /** Hits over all rows, null rows counted as misses — bit for bit
      * [[BinaryMetrics.accuracy]]'s `avg(when(label === prediction, 1.0))`:
      * a sum of 1.0s is exact, and `avg` divides it by the row count.
      */
    def accuracy: Double = {
      val hits = cells.collect {
        case (l, p, n) if l == p || (l.isNaN && p.isNaN) => n
      }.sum
      hits.toDouble / (cells.map(_._3).sum + nullRows)
    }

    def weightedF1: Double = {
      requireNoNulls("weightedF1")
      val classes = (cells.map(_._1) ++ cells.map(_._2)).distinct
      val total   = cells.map(_._3).sum.toDouble
      classes.map { c =>
        val tp = cells.filter(t => t._1 == c && t._2 == c).map(_._3).sum.toDouble
        val fp = cells.filter(t => t._1 != c && t._2 == c).map(_._3).sum.toDouble
        val fn = cells.filter(t => t._1 == c && t._2 != c).map(_._3).sum.toDouble
        val support   = tp + fn
        val precision = if (tp + fp == 0) 0.0 else tp / (tp + fp)
        val recall    = if (tp + fn == 0) 0.0 else tp / (tp + fn)
        val f1 =
          if (precision + recall == 0) 0.0
          else 2 * precision * recall / (precision + recall)
        f1 * (support / total)
      }.sum
    }

    def counts: Map[(Double, Double), Long] = {
      requireNoNulls("confusion")
      cells.map { case (l, p, n) => (l, p) -> n }.toMap
    }

    private def requireNoNulls(what: String): Unit =
      require(nullRows == 0,
              s"$what: $nullRows rows have a null label or prediction")
  }

  /** One collect of the unordered [[confusionCells]]; the ≤ #classes² rows
    * are put in `orderBy("label", "prediction")` order on the driver (Spark
    * orders doubles totally, NaN last, as `TotalOrdering` does), so no
    * range-partition sampling job or second exchange runs.
    */
  private[metrics] def confusion(preds: Dataset[_], labelCol: String,
                                 predictionCol: String): Confusion = {
    val (nulls, cells) = confusionCells(preds, labelCol, predictionCol)
      .collect().toSeq.partition(r => r.isNullAt(0) || r.isNullAt(1))
    Confusion(
      cells.map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering,
                          Ordering.Double.TotalOrdering)),
      nulls.map(_.getLong(2)).sum)
  }

  /** E2/E6 — accuracy as a single global aggregate. */
  def accuracy(preds: Dataset[_], labelCol: String = "label",
               predictionCol: String = "prediction"): Double =
    preds
      .agg(avg(when(col(labelCol).cast("double") ===
                      col(predictionCol).cast("double"), 1.0d)
        .otherwise(0.0d)).as("acc"))
      .head().getDouble(0)

  /** E3/E6 — weighted F1 (MulticlassClassificationEvaluator's "f1"):
    * per-class F1 from the confusion matrix, weighted by true-class counts.
    * Everything after the #classes²-row aggregate is driver-side arithmetic
    * over a handful of rows.
    */
  def weightedF1(preds: Dataset[_], labelCol: String = "label",
                 predictionCol: String = "prediction"): Double =
    confusion(preds, labelCol, predictionCol).weightedF1

  /** The default ROC/AUC is exact up to this many distinct scores. */
  val AutoExactMaxScores = 10000L
  /** Quantile bins of the default ROC/AUC above [[AutoExactMaxScores]]. */
  val AutoBins           = 1000

  private def scoredRows(preds: Dataset[_], labelCol: String,
                         scoreCol: String): DataFrame =
    preds.select(
      col(scoreCol).cast("double").as("score"),
      col(labelCol).cast("double").as("label"))

  private val pos = sum(when(col("label") === 1.0d, 1L).otherwise(0L)).as("pos")
  private val neg = sum(when(col("label") === 1.0d, 0L).otherwise(1L)).as("neg")

  /** E5 — ROC curve points, DataFrame-native (replaces sklearn `roc_curve`
    * over collected arrays, `sst2_test2.py:127-128`).
    *
    * Shape follows BinaryClassificationMetrics: group rows by score
    * (one aggregate), sort scores descending, cumulative TP/FP via a window
    * over the score-grouped relation, normalize by total P/N. Returns
    * (score, fpr, tpr) without the (0,0) origin point.
    *
    * `maxBins` is the cluster-scale guard: continuous scores (real LR
    * probabilities) are almost all distinct, so the score-grouped relation
    * is data-sized and the single-partition cumulative window would sort it
    * on one task. With `maxBins > 0`, scores are first quantile-binned —
    * approxQuantile edges (a distributed sketch, O(maxBins) to the driver),
    * each score mapped to its bin, bin threshold = max score in bin — the
    * same downsampling BinaryClassificationMetrics(numBins) applies. The
    * window input is then ≤ maxBins rows no matter the data scale.
    * `maxBins = 0` keeps the exact per-distinct-score curve (right for
    * discrete scores / oracle comparison).
    *
    * `maxBins = -1` (the DEFAULT) resolves automatically: one
    * `approx_count_distinct(score)` pre-check picks exact mode when the
    * cardinality is ≤ [[AutoExactMaxScores]] and [[AutoBins]]-bin
    * quantile binning above it — a naive caller with continuous LR
    * scores gets a bounded window WITHOUT opting in, and the unbounded
    * exact mode is an explicit choice, never a scale accident.
    * [[aucROC]] resolves the same default by exact counting instead: its
    * bounded grouped collect is the exact curve's input as well.
    */
  def rocPoints(preds: Dataset[_], labelCol: String = "label",
                scoreCol: String = "score", maxBins: Int = -1): DataFrame = {
    val scored = scoredRows(preds, labelCol, scoreCol)
    val bins =
      if (maxBins >= 0) maxBins
      else {
        val distinct = scored.agg(
          approx_count_distinct("score")).head().getLong(0)
        if (distinct <= AutoExactMaxScores) 0 else AutoBins
      }
    val byScore =
      if (bins <= 0) scored.groupBy("score").agg(pos, neg)
      else {
        val probs = (1 until bins).map(_.toDouble / bins).toArray
        val edges = scored.stat
          .approxQuantile("score", probs, 1.0 / (4.0 * bins))
          .distinct.sorted.toSeq
        // bin index = #edges strictly below the score (monotone in score),
        // so binning preserves score order; threshold of a bin = its max.
        val bin = size(filter(typedLit(edges), e => e < col("score")))
        scored.withColumn("bin", bin)
          .groupBy("bin")
          .agg(max("score").as("score"), pos, neg)
          .drop("bin")
      }
    // Windows over the score-aggregated relation (≤ #distinct scores or
    // maxBins rows); single-partition windows are intentional here — the
    // input is already reduced, so this is a driver-scale sort, not a
    // data-scale one. The class totals are an unordered whole-relation
    // window beside the cumulative one, so building the frame runs no
    // job; `Long / Long` divides as doubles, as `Long / Double` did.
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum_tp", sum("pos").over(w))
      .withColumn("cum_fp", sum("neg").over(w))
      .select(
        col("score"),
        (col("cum_fp") / sum("neg").over()).as("fpr"),
        (col("cum_tp") / sum("pos").over()).as("tpr"))
      .orderBy(desc("score"))
  }

  /** The exact ROC curve (fpr, tpr) from collected (score, pos, neg) rows,
    * one per distinct score — [[rocPoints]]' window arithmetic on the
    * driver: scores descending with the null score last (`desc`'s order;
    * NaN first, as Spark orders it), `Long` cumulative TP/FP, each divided
    * by the class total. A single-class input has no curve: the window plan
    * fails on its zero divisor, and this names the missing class.
    */
  private def exactCurve(rows: Seq[Row]): Seq[(Double, Double)] = {
    val (nulls, scored) = rows.partition(_.isNullAt(0))
    val ordered = scored.sortBy(_.getDouble(0))(
      Ordering.Double.TotalOrdering.reverse) ++ nulls
    val totP = ordered.map(_.getLong(1)).sum
    val totN = ordered.map(_.getLong(2)).sum
    require(totP > 0, "aucROC needs both classes: no positive (label 1.0) rows")
    require(totN > 0, "aucROC needs both classes: no negative rows")
    ordered
      .scanLeft((0L, 0L)) { case ((tp, fp), r) =>
        (tp + r.getLong(1), fp + r.getLong(2))
      }
      .tail
      .map { case (tp, fp) => (fp.toDouble / totN.toDouble,
                               tp.toDouble / totP.toDouble) }
  }

  /** E1 — area under the ROC curve by trapezoidal integration of the ROC
    * curve (the BinaryClassificationMetrics construction: curve points at
    * each distinct score, origin prepended). Matches
    * `BinaryClassificationEvaluator` when the score column is
    * P(class=1) — tested against it in BinaryMetricsSpec.
    *
    * The default (`maxBins = -1`) runs ONE bounded grouped collect:
    * `groupBy(score)` limited to [[AutoExactMaxScores]] + 1 rows. At or
    * under the bound that is the exact per-score count, and the curve is
    * built on the driver ([[exactCurve]]); over it, the AUC comes from the
    * [[AutoBins]]-bin [[rocPoints]] plan. The bound is exact counting, not
    * an `approx_count_distinct` estimate, and keeps the driver's share at
    * ≤ 10K rows at any data scale. `maxBins = 0` collects every distinct
    * score; `maxBins > 0` integrates the binned [[rocPoints]].
    */
  def aucROC(preds: Dataset[_], labelCol: String = "label",
             scoreCol: String = "score", maxBins: Int = -1): Double = {
    def binnedCurve(bins: Int): Seq[(Double, Double)] =
      rocPoints(preds, labelCol, scoreCol, bins)
        .select("fpr", "tpr").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val pts =
      if (maxBins > 0) binnedCurve(maxBins)
      else {
        val byScore = scoredRows(preds, labelCol, scoreCol)
          .groupBy("score").agg(pos, neg)
        if (maxBins == 0) exactCurve(byScore.collect().toSeq)
        else {
          val rows = byScore.limit(AutoExactMaxScores.toInt + 1).collect()
          if (rows.length > AutoExactMaxScores) binnedCurve(AutoBins)
          else exactCurve(rows.toSeq)
        }
      }
    val curve = ((0.0, 0.0) +: pts).toList
    curve.zip(curve.tail).map { case ((x0, y0), (x1, y1)) =>
      (x1 - x0) * (y1 + y0) / 2.0
    }.sum
  }

  /** All binary-classification metrics from one persisted pass — the fix
    * for the reference's recompute-per-evaluator inefficiency (it re-ran
    * the whole transform chain 3×, `sst2_test2.py:80-86`; SURVEY §3.2).
    * Callers hand in scored predictions once; the input is persisted for
    * two collects — the [[confusion]] aggregate (accuracy, weighted F1 and
    * the confusion map) and [[aucROC]]'s — and unpersisted before return.
    */
  case class MetricsSummary(accuracy: Double, f1: Double, auc: Double,
                            confusion: Map[(Double, Double), Long])

  def summary(preds: Dataset[_], labelCol: String = "label",
              predictionCol: String = "prediction",
              scoreCol: String = "score"): MetricsSummary = {
    val cached = preds.persist()
    try {
      val cm = confusion(cached, labelCol, predictionCol)
      MetricsSummary(cm.accuracy, cm.weightedF1,
                     aucROC(cached, labelCol, scoreCol), cm.counts)
    } finally { cached.unpersist(); () }
  }

  /** E7a — fixed-width probability histogram (replaces driver-side
    * `plt.hist`, `sst2_test2.py:174-189`): floor-binning then one
    * aggregate; `bins` rows to the driver.
    */
  def probabilityHistogram(preds: Dataset[_], scoreCol: String = "score",
                           bins: Int = 30): DataFrame =
    preds
      .select(
        least(floor(col(scoreCol).cast("double") * bins), lit(bins - 1))
          .cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  /** E7b — class distribution (`qqp_test.py:181-189`). */
  def classDistribution(df: Dataset[_], labelCol: String): DataFrame =
    df.groupBy(labelCol).agg(count(lit(1)).as("n")).orderBy(labelCol)

  /** Calibration curve (reliability diagram): scores bucketed into
    * `bins` equal-width bins, each reporting its count, mean predicted
    * score, and empirical positive rate — "when the model says 0.8, is
    * it right 80% of the time?". The standard diagnostic next to
    * ROC/AUC; score 1.0 lands in the top bin (the `least` clamp, same as
    * [[probabilityHistogram]]).
    *
    * Scale: one shuffle down to `bins` groups — partial aggregation does
    * the data-scale work map-side. Means are rounded to 4 decimals so the
    * double summation order never leaks into comparisons.
    */
  def calibrationCurve(preds: Dataset[_], scoreCol: String = "score",
                       labelCol: String = "label",
                       bins: Int = 10): DataFrame =
    preds
      .select(
        least(floor(col(scoreCol).cast("double") * bins), lit(bins - 1))
          .cast("long").as("bin"),
        col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("double").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
           round(avg("s"), 4).as("mean_score"),
           round(avg("y"), 4).as("frac_pos"))
      .orderBy("bin")
}
