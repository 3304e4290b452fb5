package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed binary-classifier evaluation — the metrics any curation
  * pipeline needs before trusting a filter ([[Classifier]], a quality
  * score, a dedup gate) on 100 TB: confusion counts at a threshold,
  * exact ROC-AUC via the Mann-Whitney rank statistic, and calibration
  * buckets. Everything is closed-form integer/double arithmetic over
  * aggregates, exactly mirrorable in SQL.
  *
  * 100 TB shapes: [[confusion]] and [[calibration]] are single map-side
  * combined aggregations (1 and ≤ `bins` output rows). [[rocAuc]] first
  * collapses the corpus to one row per DISTINCT score (scores arrive
  * pre-rounded to 6 places from the scorer, so this aggregate is the
  * bound), then windows over that aggregate — orders of magnitude
  * smaller than the corpus but not constant-bounded; [[rocAucBinned]]
  * is the guaranteed-bounded form (≤ `bins` rows of state, trapezoidal
  * ROC), for when the score space is adversarially dense.
  */
object Eval {

  private def m6(c: Column): Column = round(c, 6)
  private def rate(num: Column, den: Column): Column =
    m6(when(den === 0, lit(null)).otherwise(num.cast("double") / den))

  /** Confusion counts and derived metrics at `scoreCol >= threshold`:
    * one row — `(tp, fp, fn, tn, accuracy, precision, recall, f1)`.
    * Degenerate denominators yield null, not NaN (engine-portable). */
  def confusion(scored: DataFrame, labelCol: Column, scoreCol: Column,
                threshold: Double): DataFrame = {
    val pred = scoreCol >= threshold
    val cnt = (c: Column) => sum(when(c, 1L).otherwise(0L))
    scored.agg(
      cnt(pred && labelCol).as("tp"), cnt(pred && !labelCol).as("fp"),
      cnt(!pred && labelCol).as("fn"), cnt(!pred && !labelCol).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        rate(col("tp") + col("tn"),
          col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy"),
        rate(col("tp"), col("tp") + col("fp")).as("precision"),
        rate(col("tp"), col("tp") + col("fn")).as("recall"),
        rate(lit(2) * col("tp"),
          lit(2) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** Exact ROC-AUC: the Mann-Whitney statistic with midrank tie
    * handling, `AUC = (Σ_pos avgrank − n1(n1+1)/2) / (n1 · n0)` — the
    * probability a random positive outscores a random negative, ties
    * counting half. Average ranks come from per-distinct-score counts
    * (`cum − n + (n+1)/2`), never a per-row global sort: the window runs
    * over the score-DISTINCT aggregate. One row:
    * `(n_pos, n_neg, auc)`. */
  def rocAuc(scored: DataFrame, labelCol: Column, scoreCol: Column): DataFrame = {
    val g = scored.groupBy(scoreCol.as("s"))
      .agg(count(lit(1)).as("n"), sum(when(labelCol, 1L).otherwise(0L)).as("np"))
    val cum = sum(col("n")).over(Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g.select(col("n"), col("np"),
        (cum - col("n") + (col("n") + 1) / lit(2.0)).as("avgrank"))
      .agg(sum(col("np")).as("n1"), sum(col("n") - col("np")).as("n0"),
        sum(col("np") * col("avgrank")).as("rs"))
      .select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        m6((col("rs") - col("n1") * (col("n1") + 1) / lit(2.0)) /
          (col("n1") * col("n0"))).as("auc"))
  }

  /** Bounded-state AUC: quantize `p` (a [0,1] score) into `bins` equal
    * cells and integrate the binned ROC by trapezoid — within-bin score
    * order is discarded, so this is the midrank-exact AUC of the
    * QUANTIZED scores (≤ 1/bins rank error vs [[rocAuc]], state capped
    * at `bins` rows whatever the corpus). One row:
    * `(bins, auc_binned)`. */
  def rocAucBinned(scored: DataFrame, labelCol: Column, pCol: Column,
                   bins: Int = 1000): DataFrame = {
    require(bins >= 2, "need bins >= 2")
    val cell = least(floor(pCol * bins).cast("long"), lit(bins - 1L))
    val g = scored.groupBy(cell.as("cell"))
      .agg(count(lit(1)).as("n"), sum(when(labelCol, 1L).otherwise(0L)).as("np"))
    // identical midrank algebra, ranks now over cells
    val cum = sum(col("n")).over(Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g.select(col("n"), col("np"),
        (cum - col("n") + (col("n") + 1) / lit(2.0)).as("avgrank"))
      .agg(sum(col("np")).as("n1"), sum(col("n") - col("np")).as("n0"),
        sum(col("np") * col("avgrank")).as("rs"))
      .select(lit(bins).as("bins"),
        m6((col("rs") - col("n1") * (col("n1") + 1) / lit(2.0)) /
          (col("n1") * col("n0"))).as("auc_binned"))
  }

  /** Multiclass confusion matrix in sparse form: `(actual, predicted,
    * n)` — one map-side-combined aggregation, ≤ |classes|² rows. */
  def confusionMatrix(df: DataFrame, actual: Column, predicted: Column): DataFrame =
    df.groupBy(actual.cast("string").as("actual"),
        predicted.cast("string").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))

  /** Per-class precision / recall / F1 over the union of actual and
    * predicted classes (a class never predicted still reports, with
    * null precision): `(class, n_actual, n_predicted, tp, precision,
    * recall, f1)`. Everything derives from the bounded confusion
    * matrix — the corpus is scanned once. */
  def classReport(df: DataFrame, actual: Column, predicted: Column): DataFrame = {
    // the matrix feeds THREE aggregations (actual totals, predicted
    // totals, diagonal) — unpersisted, each subtree re-ran the full
    // input scan (for langid_* that is the classifier over every
    // document, 3×); the matrix itself is bounded at |classes|² rows
    val cm = graft.Persisted(
      confusionMatrix(df, actual, predicted))
    val at = cm.groupBy(col("actual").as("cls")).agg(sum("n").as("n_actual"))
    val pt = cm.groupBy(col("predicted").as("cls")).agg(sum("n").as("n_predicted"))
    val dg = cm.where(col("actual") === col("predicted"))
      .select(col("actual").as("cls"), col("n").as("tp"))
    at.join(pt, Seq("cls"), "full_outer").join(dg, Seq("cls"), "left")
      .select(col("cls").as("class"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("class"), col("n_actual"), col("n_predicted"), col("tp"),
        rate(col("tp"), col("n_predicted")).as("precision"),
        rate(col("tp"), col("n_actual")).as("recall"),
        rate(lit(2) * col("tp"),
          col("n_actual") + col("n_predicted")).as("f1"))
      .orderBy(col("class"))
  }

  /** One-row multiclass summary over the [[classReport]] rows:
    * `(n, accuracy, macro_precision, macro_recall, macro_f1)` — macro =
    * unweighted mean over classes WITH actual members (a
    * never-observed, only-predicted class contributes a zero-recall
    * row to nothing); null per-class precision (never predicted)
    * counts as 0 in the macro mean, the standard convention. */
  def classSummary(df: DataFrame, actual: Column, predicted: Column): DataFrame = {
    val rep = classReport(df, actual, predicted)
      .where(col("n_actual") > 0)
    rep.agg(
        sum("n_actual").as("n"), sum("tp").as("tp"),
        avg(coalesce(col("precision"), lit(0d))).as("mp"),
        avg(coalesce(col("recall"), lit(0d))).as("mr"),
        avg(coalesce(col("f1"), lit(0d))).as("mf"))
      .select(col("n"), rate(col("tp"), col("n")).as("accuracy"),
        m6(col("mp")).as("macro_precision"), m6(col("mr")).as("macro_recall"),
        m6(col("mf")).as("macro_f1"))
  }

  /** Calibration (reliability) buckets over a [0,1] score: per bucket
    * `(bin, n, mean_p, pos_rate)` — a well-calibrated classifier has
    * `mean_p ≈ pos_rate` down the table. Single aggregation, ≤ `bins`
    * rows. */
  def calibration(scored: DataFrame, labelCol: Column, pCol: Column,
                  bins: Int = 10): DataFrame = {
    require(bins >= 1, "need bins >= 1")
    val cell = least(floor(pCol * bins).cast("long"), lit(bins - 1L))
    scored.groupBy(cell.as("bin"))
      .agg(count(lit(1)).as("n"), m6(avg(pCol)).as("mean_p"),
        rate(sum(when(labelCol, 1L).otherwise(0L)), count(lit(1))).as("pos_rate"))
  }
}
