package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{
  GBTClassifier, MultilayerPerceptronClassifier, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Four-model cross-sell scoring ensemble (reference: src/ml/pipeline.py
 * OpportunityScorer — model zoo :206-239, predict + weighted vote
 * :269-290; configs config/ml_config.yaml).
 *
 * Model substitutions (documented per SURVEY §7.4.2 — MLlib has no
 * torch/xgboost and the build is zero-egress):
 *   - nn  (torch MLP 64/32/16, dropout .3, sigmoid)  → MultilayerPerceptronClassifier
 *     layers [d,64,32,16,2] (no dropout/batchnorm in MLlib; softmax pair ≙ sigmoid)
 *   - xgb (XGBClassifier 100/d6/lr.1)                → [[NewtonBoost]] (TRUE
 *     second-order XGBoost semantics in-engine — Newton leaves, gain−γ,
 *     L1/L2, sparsity-aware missing)
 *   - rf  (RandomForestClassifier 100/d10)           → RandomForestClassifier(100, d10)
 *   - gbt (GradientBoostingClassifier 100/d5/lr.1)   → GBTClassifier(100, d5, step .1)
 * Ensemble weights stay the reference's 0.3/0.3/0.2/0.2; evaluation gates
 * on seeded metric thresholds, not weight-identical outputs (SURVEY §5).
 *
 * Scale notes (100 TB): training data for this ensemble is the candidate
 * pair table AFTER top-k pruning (reference caps at 100/org — BASELINE),
 * so fit() input is bounded regardless of raw data size. scoreAll() is a
 * pure transform: 4 model broadcasts + per-row math, no shuffle; MLlib
 * tree/MLP transforms are executor-local and pipeline into the downstream
 * rank window. Use `Scoring.weightedVote` columns so the vote fuses into
 * codegen rather than materializing 4 intermediate frames.
 */
final class Ensemble(
    featureCols: Seq[String],
    numTrees: Int = 100,
    rfDepth: Int = 10,
    xgbIter: Int = 100,
    gbtIter: Int = 100,
    mlpIter: Int = 50,
    scale: Boolean = false,
    seed: Long = 42L) extends Serializable {

  // `scale = true` fits a real StandardScaler (zero-mean unit-variance)
  // between assembly and every model — the M9 path the reference
  // DECLARES but never fits (pipeline.py:60-62 constructs the scaler
  // and no training call ever runs it). Default false preserves the
  // reference's effective no-op; EnsembleSpec gates the fitted path's
  // AUC against the unscaled one.
  private def assembler = new VectorAssembler()
    .setInputCols(featureCols.toArray)
    .setOutputCol(if (scale) "raw_features" else "features")

  private def scalerStage = new org.apache.spark.ml.feature.StandardScaler()
    .setInputCol("raw_features").setOutputCol("features")
    .setWithMean(true).setWithStd(true)

  /** Train/validation split, reference: pipeline.py:202-204 (0.2, seed 42). */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(tr, va) = df.randomSplit(Array(0.8, 0.2), seed)
    (tr, va)
  }

  /** Fit all four models on `train` (must contain featureCols + integer
    * `label`). Small bounded input (post-top-k candidates) → single fit
    * per model; MLlib distributes tree building over partitions.
    *
    * The xgb slot is the in-engine [[NewtonBoost]] — reference
    * hyperparameters mapped 1:1 (n_estimators=xgbIter, max_depth=6,
    * learning_rate=0.1, xgboost's own λ=1/γ=0/α=0/min_child_weight=1
    * defaults). Trees are scale-invariant so the NewtonBoost slot always
    * fits on the RAW feature columns (xgboost never scales its inputs
    * either); it is also bit-deterministic at any partition layout —
    * the one slot whose output needs no canonicalization.
    *
    * The four slots are independent seeded fits of the same frame, so
    * they run concurrently on a driver thread pool
    * ([[graft.DriverOps.concurrently]]) and are assembled in slot order
    * (nn, xgb, rf, gbt): the model equals the serial fit's. */
  def fit(train: DataFrame): EnsembleModel = {
    def mllib(est: org.apache.spark.ml.PipelineStage): () => SlotModel = () =>
      MllibSlot(new Pipeline().setStages(
        if (scale) Array(assembler, scalerStage, est) else Array(assembler, est))
        .fit(train))
    val slots: Seq[(String, () => SlotModel)] = Seq(
      "nn" -> mllib(new MultilayerPerceptronClassifier()
        .setLayers(Array(featureCols.size, 64, 32, 16, 2)).setMaxIter(mlpIter)
        .setSeed(seed).setLabelCol("label").setFeaturesCol("features")),
      "xgb" -> (() => NewtonSlot(NewtonBoost.fit(train, featureCols, "label",
        NewtonBoost.Params(rounds = xgbIter, maxDepth = 6, learningRate = 0.1)))),
      "rf" -> mllib(new RandomForestClassifier().setNumTrees(numTrees)
        .setMaxDepth(rfDepth).setSeed(seed).setLabelCol("label")
        .setFeaturesCol("features")),
      "gbt" -> mllib(new GBTClassifier().setMaxIter(gbtIter).setMaxDepth(5)
        .setStepSize(0.1).setSeed(seed).setLabelCol("label")
        .setFeaturesCol("features")))
    new EnsembleModel(
      slots.map(_._1).zip(graft.DriverOps.concurrently(slots.map(_._2))),
      Scoring.referenceWeights.toMap)
  }
}

/** One fitted slot of the ensemble zoo: an MLlib pipeline (vector-in,
  * probability-out transform) or an in-engine [[NewtonBoost]] model
  * (a pure codegen column over the raw feature columns — no assembler,
  * no broadcast, fuses into whole-stage codegen with the vote). */
sealed trait SlotModel extends Serializable
final case class MllibSlot(pipe: PipelineModel) extends SlotModel
final case class NewtonSlot(model: NewtonBoost.Model) extends SlotModel

/**
 * Fitted ensemble: scoring transform + persistence
 * (reference: predict pipeline.py:269-290; persistence M11
 * orchestrator.py:355-373 — joblib pkl → PipelineModel.save dirs).
 */
final class EnsembleModel(
    val models: Seq[(String, SlotModel)],
    val weights: Map[String, Double]) extends Serializable {

  /** Per-model P(class=1) columns appended as score_<name>. */
  def withModelScores(df: DataFrame): DataFrame =
    models.foldLeft(df) {
      case (acc, (name, MllibSlot(m))) =>
        val scored = m.transform(acc)
          .withColumn(s"score_$name", vector_to_array(col("probability"))(1))
        scored.drop("features", "raw_features", "rawPrediction",
          "probability", "prediction")
      case (acc, (name, NewtonSlot(nb))) =>
        acc.withColumn(s"score_$name", nb.score)
    }

  private def scoreCols: Seq[(Column, Double)] =
    models.map { case (name, _) => (col(s"score_$name"), weights(name)) }

  /** Full scoring: per-model scores, weighted ensemble vote, consensus
    * std-dev, confidence bucket (reference: pipeline.py:269-290,375-389). */
  def scoreAll(df: DataFrame): DataFrame = {
    val withScores = withModelScores(df)
    withScores
      .withColumn("score", Scoring.weightedVote(scoreCols))
      .withColumn("score_std", Scoring.consensusStd(scoreCols.map(_._1)))
      .withColumn("confidence",
        Scoring.confidenceLevel(col("score"), col("score_std")))
  }

  /** Score a frame and append ONLY the weighted-vote column `out`
    * (per-model score_* columns dropped — lets scoring passes compose
    * without name collisions). */
  private def scoreInto(df: DataFrame, out: String): DataFrame =
    withModelScores(df)
      .withColumn(out, Scoring.weightedVote(scoreCols))
      .drop(models.map { case (n, _) => s"score_$n" }: _*)

  /** Per-row, per-feature OCCLUSION contributions (reference M10's
    * missing half: api/main.py:882-890 imports shap, never invokes it,
    * and returns hard-coded global importances — featureImportances
    * covers the global story; this is the per-row one):
    * `contrib_<f> = score(x) − score(x with x_f := baseline_f)` — the
    * exact model evaluated on the ablated input, no surrogate and no
    * tree-internals traversal. A contribution is exactly 0 whenever the
    * row already sits at the baseline, and features the model never uses
    * get ~0 everywhere; signs follow the model's local response, the
    * property per-row explanations are consumed for.
    *
    * `baselines` is typically the training mean/median per feature (the
    * caller owns that choice — it is the explanation's reference point).
    *
    * Scale shape: k features → k+1 scoring passes COMPOSED INTO ONE
    * plan (each pass is per-row model math, no shuffle), so the frame is
    * scanned once and explanations stream out row-parallel at any row
    * count. Cost is (k+1)× the scoring compute — per-row explanation is
    * a serving-path operation on filtered rows (the reference explains
    * one opportunity per request), not a corpus sweep. */
  def explainAblation(df: DataFrame, featureCols: Seq[String],
                      baselines: Map[String, Double]): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature to explain")
    featureCols.foreach(f => require(baselines.contains(f),
      s"no baseline for feature $f"))
    val withScore = scoreInto(df, "score")
    featureCols.foldLeft(withScore) { (acc, f) =>
      val ablated = scoreInto(
        acc.withColumn("_orig", col(f)).withColumn(f, lit(baselines(f))),
        s"_ablated_$f")
      ablated
        .withColumn(f, col("_orig")).drop("_orig")
        .withColumn(s"contrib_$f", col("score") - col(s"_ablated_$f"))
        .drop(s"_ablated_$f")
    }
  }

  /** RF/GBT impurity-based feature importances (reference M10: SHAP is
    * imported but never invoked; api/main.py:882-890 returns constants —
    * we return the real thing MLlib computes for free). */
  def featureImportances(name: String): Option[org.apache.spark.ml.linalg.Vector] =
    models.collectFirst { case (`name`, slot) => slot }.flatMap {
      case MllibSlot(m) => m.stages.last match {
        case rf: org.apache.spark.ml.classification.RandomForestClassificationModel =>
          Some(rf.featureImportances)
        case gbt: org.apache.spark.ml.classification.GBTClassificationModel =>
          Some(gbt.featureImportances)
        // a non-tree slot (the MLP) has no importances: None, not a
        // MatchError escaping a "read a model diagnostic" call
        case _ => None
      }
      // NewtonBoost slot (the default xgb since r15): xgboost-style
      // 'weight' importance — normalized split counts from the stored
      // trees, data-free like MLlib's impurity importances. Without this
      // the default-config ensemble silently returned None for the very
      // slot callers most ask about. (Data-DEPENDENT attribution lives on
      // NewtonBoost.Model.importance — the Saabas aggregate over a frame.)
      case NewtonSlot(nb) =>
        val counts = Array.fill(nb.featureCols.size)(0.0)
        def walk(n: NewtonBoost.Node): Unit = n match {
          case s: NewtonBoost.Split =>
            counts(s.feature) += 1.0; walk(s.left); walk(s.right)
          case _ => ()
        }
        nb.trees.foreach(walk)
        val tot = counts.sum
        Some(org.apache.spark.ml.linalg.Vectors.dense(
          if (tot == 0.0) counts else counts.map(_ / tot)))
    }

  def save(dir: String): Unit = {
    models.foreach {
      case (name, MllibSlot(m)) => m.write.overwrite().save(s"$dir/$name")
      // NewtonBoost slots persist as the model's own tree JSON — the
      // same serialization `marginSql`/`fromJson` already roundtrip
      case (name, NewtonSlot(nb)) => nb.save(s"$dir/$name.newton.json")
    }
    // weights as a tiny deterministic JSON (no external json dep)
    val json = weights.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/weights.json"), json)
  }
}

object EnsembleModel {
  def load(dir: String): EnsembleModel = {
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/weights.json"))
    val weights = "\"([a-z]+)\":([0-9.]+)".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val models: Seq[(String, SlotModel)] = weights.keys.toSeq.sorted.map { name =>
      // slot kind is detected from what save() wrote: a NewtonBoost
      // tree-JSON file, else an MLlib PipelineModel directory
      val newtonPath = java.nio.file.Paths.get(s"$dir/$name.newton.json")
      if (java.nio.file.Files.exists(newtonPath))
        name -> (NewtonSlot(NewtonBoost.load(newtonPath.toString)): SlotModel)
      else name -> (MllibSlot(PipelineModel.load(s"$dir/$name")): SlotModel)
    }
    new EnsembleModel(models, weights)
  }
}
