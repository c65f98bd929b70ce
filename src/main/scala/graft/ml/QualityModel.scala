package graft.ml

import graft.{QueryDef, Tables}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the learned stage LLM
  * pipelines layer over rule-based gates (a lightweight classifier
  * scores every document; the rules that seeded its labels stop being
  * the ceiling). Here the label distills the q40 heuristic (quality ≥
  * a fixed threshold) and the features are RAW surface counts, not
  * the heuristic's own ratios — the model has to re-learn the
  * combination, which is exactly the distillation setup used when
  * bootstrapping a quality model from heuristic labels.
  *
  * Scale shape: feature extraction is a narrow scan-side projection
  * (codegen'd string ops, no shuffle); LR training is Spark ML's
  * distributed L-BFGS over the feature table (each iteration one
  * treeAggregate — gradient partials combine map-side); scoring is a
  * broadcast of the coefficient vector back onto the corpus, one more
  * narrow pass. Nothing materializes driver-side but the k-dim
  * coefficient vector.
  */
object QualityModel {

  /** Label threshold on the q40 heuristic score — ~the corpus
    * median (measured 0.31 at sf0.01), so the label split is near
    * balanced rather than degenerate.
    */
  val LabelThreshold = 0.31

  private[graft] def featureTable(s: SparkSession, d: String): DataFrame = {
    val t = split(col("text"), " ")
    val stopCnt = size(filter(t,
      x => x.isin(graft.text.TextAnalysis.stopwords: _*)))
    val nWords = size(t)
    Tables.documents(s, d).select(
      col("doc_id"),
      // label: the q40 heuristic, thresholded
      ((lit(0.5) * (stopCnt.cast("double") / nWords) +
        lit(0.5) * least(nWords.cast("double") / 100.0, lit(1.0)))
        >= LabelThreshold).cast("double").as("label"),
      // features: raw counts only — lengths, character classes,
      // stopword count — so the model reconstructs the ratios itself
      array_to_vector(array(
        nWords.cast("double"),
        stopCnt.cast("double"),
        col("n_chars").cast("double"),
        length(regexp_replace(col("text"), "[^.,;:!?]", ""))
          .cast("double"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double"),
        (col("n_chars").cast("double") / greatest(nWords, lit(1)))
      )).as("features"))
  }

  // Train-once per (session, dir) — the q73/ALS/mergesFor discipline
  // (r17): the L-BFGS fit is q77's only non-Python-derivable stage,
  // and the replay oracle needs the EXACT coefficients the query
  // scored with, so the model is shared by the query, the AUC gate,
  // and Verify's `_lr_model.json` dump. Also the serving shape a
  // deployment runs: train on the maintenance schedule, score many.
  private[graft] def trainedModel(s: SparkSession, d: String)
      : org.apache.spark.ml.classification.LogisticRegressionModel =
    graft.StandingState(s, ("ml.qualityModel", d)) {
      val Array(train, _) =
        featureTable(s, d).randomSplit(Array(0.8, 0.2), seed = 42L)
      new LogisticRegression()
        .setMaxIter(10).setRegParam(0.01).setStandardization(true)
        .fit(train)
    }

  /** q77 — score every document with a logistic model trained on an
    * 80% split of heuristic labels. Scoring is replayed cell-for-cell
    * from the dumped coefficients (r17); MlSpec additionally gates
    * held-out AUC ≥ 0.85 (the semantic check the replay can't give).
    */
  val classifier: QueryDef = QueryDef.rowsOnly("q77_quality_classifier") {
    (s, d) =>
      trainedModel(s, d).transform(featureTable(s, d))
        .select(col("doc_id"), col("label").cast("int").as("label"),
          col("prediction").cast("int").as("predicted"),
          round(element_at(vector_to_array(col("probability")), 2), 4)
            .as("p_good"))
        .orderBy("doc_id")
  }

  /** Held-out AUC of [[classifier]]'s model — the MlSpec gate. */
  def heldOutAuc(s: SparkSession, d: String): Double = {
    val Array(_, test) =
      featureTable(s, d).randomSplit(Array(0.8, 0.2), seed = 42L)
    new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC")
      .evaluate(trainedModel(s, d).transform(test))
  }

  private def vector_to_array(c: org.apache.spark.sql.Column) =
    org.apache.spark.ml.functions.vector_to_array(c)

  val defs: Seq[QueryDef] = Seq(classifier)
}
