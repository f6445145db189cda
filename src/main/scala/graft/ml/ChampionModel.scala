package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's modeling path (M1-M4, README.md:132-144) on spark.ml:
  * predict the season champion per league with binary classification,
  * temporal splits, walk-forward evaluation, and the naive baselines
  * (previous champion / points leader).
  *
  * BigQuery ML `CREATE MODEL` -> spark.ml `Pipeline.fit`;
  * `ML.EVALUATE` -> BinaryClassificationEvaluator + top-k rank accuracy.
  */
object ChampionModel {

  /** Feature frame from a season_results-shaped table: previous-season
    * points/rank/goal_diff (W2 lag) and a rolling mean of points over the
    * last 3 seasons (A8/W3). Requires columns:
    * league, season, team, points, goal_diff, rank, is_champion. */
  def features(seasonResults: DataFrame): DataFrame = {
    val byTeam = Window.partitionBy(col("league"), col("team")).orderBy(col("season"))
    val roll = byTeam.rowsBetween(-3, -1)
    seasonResults
      .withColumn("prev_points", lag(col("points"), 1).over(byTeam))
      .withColumn("prev_rank", lag(col("rank"), 1).over(byTeam))
      .withColumn("prev_goal_diff", lag(col("goal_diff"), 1).over(byTeam))
      .withColumn("roll_points", avg(col("points")).over(roll))
      .withColumn("label", col("is_champion").cast("double"))
      .filter(col("prev_points").isNotNull)
  }

  /** Assembler input order — serving code that scores from raw
    * coefficients must index features in exactly this order. */
  val featureColumns: Array[String] =
    Array("prev_points", "prev_rank", "prev_goal_diff", "roll_points")
  private def featureCols = featureColumns

  /** M1: assembler + logistic regression, deterministic (fixed seed has
    * no effect on LBFGS, which is already deterministic; set anyway). */
  def pipeline(): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
      .setHandleInvalid("keep")
    val lr = new LogisticRegression()
      .setMaxIter(25).setTol(1e-5).setRegParam(0.01).setLabelCol("label")
    new Pipeline().setStages(Array(assembler, lr))
  }

  /** Fit for serving: `fit` leaves a `trainingSummary` on the LR stage
    * that holds the live SparkSession; `transform` closures capture the
    * model (summary included), and the session stops being
    * Java-serializable once any lazy session state (e.g. an
    * `Observation`) has been touched. A save/load roundtrip drops the
    * summary — persistence never writes one — so serving closures stay
    * lean and serializable regardless of session state. */
  def fitServing(train: DataFrame): PipelineModel = {
    val fitted = pipeline().fit(train)
    val dir = java.nio.file.Files.createTempDirectory("graft-model")
    try {
      fitted.write.overwrite().save(dir.toString)
      PipelineModel.load(dir.toString)
    } finally {
      // the loaded model is fully in memory; the on-disk copy would
      // otherwise leak one directory per fit (walk-forward = per fold)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** M3: temporal split — train <= T-2, validate T-1, test T
    * (README.md:141). Seasons are compared as ordered strings (the
    * reference's "2011/12" format sorts correctly). */
  def temporalSplit(featured: DataFrame, testSeason: String,
      valSeason: String): (DataFrame, DataFrame, DataFrame) = (
    featured.filter(col("season") < valSeason),
    featured.filter(col("season") === valSeason),
    featured.filter(col("season") === testSeason),
  )

  /** Walk-forward CV folds (M3): for each season with at least
    * `minTrain` prior seasons, (train = strictly before, test = that
    * season).
    *
    * The collect() here is driver-side CONTROL FLOW, not a data path:
    * its cardinality is the number of distinct seasons (dozens at most —
    * one row per year of history), and each fold's train/test frames
    * stay fully distributed. Do not copy this pattern for any column
    * whose cardinality grows with the data. */
  def walkForwardFolds(featured: DataFrame, minTrain: Int): Seq[(String, DataFrame, DataFrame)] = {
    val seasons = featured.select(col("season")).distinct()
      .orderBy(col("season")).collect().map(_.getString(0)).toSeq
    seasons.drop(minTrain).map { s =>
      (s, featured.filter(col("season") < s), featured.filter(col("season") === s))
    }
  }

  /** M2: evaluation — areaUnderROC plus top-1/top-3 champion-rank
    * accuracy (README.md:136): rank teams per (league, season) by
    * predicted champion probability. */
  def evaluate(predictions: DataFrame): (Double, Double, Double) = {
    // several actions follow (evaluator + rank aggregates); without the
    // cache each one would re-run the model transform and feature plan
    val preds = predictions.cache()
    try {
      val auc = new BinaryClassificationEvaluator()
        .setLabelCol("label").setRawPredictionCol("rawPrediction")
        .setMetricName("areaUnderROC").evaluate(preds)
      val prob1 = element_at(vector_to_array(col("probability")), 2)
      val w = Window.partitionBy(col("league"), col("season")).orderBy(prob1.desc, col("team"))
      // one aggregate pass for n / top-1 / top-3 instead of three counts
      val row = preds.withColumn("pred_rank", row_number().over(w))
        .filter(col("label") === 1.0)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("pred_rank") <= 1, 1L).otherwise(0L)).as("t1"),
          sum(when(col("pred_rank") <= 3, 1L).otherwise(0L)).as("t3"))
        .head()
      val n = row.getAs[Long]("n").toDouble
      if (n == 0) (auc, 0.0, 0.0) // no positive rows in this fold
      else (auc, row.getAs[Long]("t1") / n, row.getAs[Long]("t3") / n)
    } finally preds.unpersist()
  }

  /** M4 baseline: previous champion repeats (README.md:143). Accuracy of
    * "predict last season's champion wins again". */
  def previousChampionBaseline(seasonResults: DataFrame): Double = {
    val byTeam = Window.partitionBy(col("league"), col("team")).orderBy(col("season"))
    val withPrev = seasonResults
      .withColumn("prev_champion", lag(col("is_champion"), 1).over(byTeam))
      .filter(col("prev_champion").isNotNull)
    val seasonsEvaluated = withPrev.select(col("league"), col("season")).distinct().count().toDouble
    val hits = withPrev.filter(col("is_champion") && col("prev_champion")).count()
    if (seasonsEvaluated == 0) 0.0 else hits / seasonsEvaluated
  }
}
