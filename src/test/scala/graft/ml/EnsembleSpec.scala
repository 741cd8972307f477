package graft.ml

import org.apache.spark.sql.functions._
import graft.SparkSpec

/**
 * Seeded-metric gates for the MLlib ensemble + ER matcher (SURVEY §5:
 * model training is checked via seeded thresholds like the reference's
 * scripts/evaluate.py harness, not output hashes). Reduced tree/iter
 * counts keep the suite fast; the learning problem is linearly separable
 * with noise, so any correctly-wired model clears the gates.
 */
class EnsembleSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic synthetic pairs: 6 features, label = signal > 0.5 with
  // hash-noise (mirrors evaluate.py:101-196's seeded generator shape).
  private lazy val pairs = {
    val n = 600
    spark.range(n).select(
      col("id"),
      (col("id") % 17 / 17.0).as("f1"),
      (col("id") % 23 / 23.0).as("f2"),
      (col("id") % 29 / 29.0).as("f3"),
      (col("id") % 31 / 31.0).as("f4"),
      (col("id") % 37 / 37.0).as("f5"),
      (col("id") % 41 / 41.0).as("f6"))
      .withColumn("signal",
        col("f1") * 0.4 + col("f2") * 0.3 + col("f3") * 0.2 + col("f4") * 0.1)
      .withColumn("noise", pmod(hash(col("id"), lit(42)), lit(100)) / 1000.0)
      .withColumn("label", (col("signal") + col("noise") > 0.55).cast("int"))
      .drop("signal", "noise")
  }

  private val featureCols = Seq("f1", "f2", "f3", "f4", "f5", "f6")

  private lazy val fitted = {
    val ens = new Ensemble(featureCols,
      numTrees = 20, rfDepth = 6, xgbIter = 10, gbtIter = 10, mlpIter = 30)
    val (tr, _) = ens.split(pairs)
    (ens, ens.fit(tr))
  }

  // AUC via rank-sum (Mann-Whitney) — threshold-free quality gate
  private def aucOf(scored: org.apache.spark.sql.DataFrame): Double = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    val ranked = scored.withColumn("r", row_number().over(w))
    val pos = ranked.filter(col("label") === 1)
    val nPos = pos.count().toDouble
    val nNeg = ranked.count() - nPos
    val rankSum = pos.agg(sum("r")).head.getLong(0).toDouble
    (rankSum - nPos * (nPos + 1) / 2) / (nPos * nNeg)
  }

  test("ensemble trains and scores within [0,1], ranks signal (AUC gate)") {
    val (ens, model) = fitted
    val (_, va) = ens.split(pairs)
    val scored = model.scoreAll(va).cache()
    val bounds = scored.agg(min("score"), max("score")).head
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
    val auc = aucOf(scored)
    assert(auc > 0.85, s"ensemble AUC $auc below gate")
  }

  test("M9 fitted-StandardScaler path: scaled pipeline AUC within " +
      "tolerance of the unscaled default (which stays the reference " +
      "no-op)") {
    val ensScaled = new Ensemble(featureCols,
      numTrees = 20, rfDepth = 6, xgbIter = 10, gbtIter = 10, mlpIter = 30,
      scale = true)
    val (tr, va) = ensScaled.split(pairs)
    val scaledScored = ensScaled.fit(tr).scoreAll(va)
    // scaler really ran: per-model score columns present, frame intact
    assert(scaledScored.columns.contains("score_nn"))
    assert(scaledScored.count() === va.count())
    val aucScaled = aucOf(scaledScored)
    val (ensU, modelU) = fitted
    val (_, vaU) = ensU.split(pairs)
    val aucUnscaled = aucOf(modelU.scoreAll(vaU))
    // features are already ~[0,1]: scaling must not change ranking
    // quality materially in either direction
    assert(math.abs(aucScaled - aucUnscaled) < 0.05,
      s"scaled AUC $aucScaled vs unscaled $aucUnscaled drifted past tolerance")
  }

  test("two concurrent fits in one session score identically (slots " +
      "fit concurrently inside each, too)") {
    val ens = new Ensemble(featureCols,
      numTrees = 5, rfDepth = 4, xgbIter = 3, gbtIter = 3, mlpIter = 10)
    val (tr, va) = ens.split(pairs)
    val Seq(a, b) = graft.DriverOps.concurrently(Seq(
      () => ens.fit(tr), () => ens.fit(tr)))
    def rows(m: EnsembleModel) = m.scoreAll(va).orderBy("id").collect().toSeq
    val ra = rows(a)
    assert(ra.nonEmpty)
    assert(ra === rows(b))
  }

  test("weighted vote matches hand-computed weights on model scores") {
    val (ens, model) = fitted
    val (_, va) = ens.split(pairs)
    val scored = model.scoreAll(va)
    val row = scored.select("score_nn", "score_xgb", "score_rf", "score_gbt", "score")
      .head
    val expected = row.getDouble(0) * 0.3 + row.getDouble(1) * 0.3 +
      row.getDouble(2) * 0.2 + row.getDouble(3) * 0.2
    assert(math.abs(row.getDouble(4) - expected) < 1e-9)
  }

  test("save/load roundtrip preserves scores") {
    val (ens, model) = fitted
    val dir = java.nio.file.Files.createTempDirectory("graft-ens").toString
    model.save(dir)
    val loaded = EnsembleModel.load(dir)
    val (_, va) = ens.split(pairs)
    val a = model.scoreAll(va).select("id", "score")
      .withColumnRenamed("score", "s1")
    val b = loaded.scoreAll(va).select("id", "score")
      .withColumnRenamed("score", "s2")
    val drift = a.join(b, "id")
      .agg(max(abs(col("s1") - col("s2")))).head.getDouble(0)
    assert(drift < 1e-12)
  }

  test("feature importances available from tree models") {
    val (_, model) = fitted
    val imp = model.featureImportances("rf")
    assert(imp.exists(_.size == featureCols.size))
    // the DEFAULT xgb slot is NewtonBoost since r15: importances must not
    // silently vanish with the slot kind — split-count ('weight') form,
    // normalized like MLlib's
    val xgb = model.featureImportances("xgb")
    assert(xgb.exists(_.size == featureCols.size),
      "xgb slot returned no importances under the default config")
    assert(xgb.exists(v => math.abs(v.toArray.sum - 1.0) < 1e-9),
      s"xgb importances not normalized: $xgb")
    // non-tree slot: None, never a MatchError
    assert(model.featureImportances("nn").isEmpty)
    assert(model.featureImportances("no_such_slot").isEmpty)
  }

  test("explainAblation: per-row contributions — exact zero at the " +
      "baseline, dominant feature dominates a noise feature") {
    val (ens, model) = fitted
    val (_, va) = ens.split(pairs)
    // baselines: f1 at 0.0 (a value real rows take — id % 17 == 0),
    // the rest at their fixture midpoints
    val baselines = featureCols.map(_ -> 0.5).toMap + ("f1" -> 0.0)
    val explained = model.explainAblation(va, featureCols, baselines).cache()
    // rows already AT the baseline get contribution exactly 0 (the
    // ablated input is bit-identical, the model is deterministic)
    val atBase = explained.filter(col("f1") === 0.0)
    assert(atBase.count() > 0, "fixture must contain f1 == baseline rows")
    assert(atBase.filter(col("contrib_f1") =!= 0.0).count() === 0)
    // the label's dominant driver (f1, weight .4) must out-contribute a
    // pure-noise feature (f6) in mean magnitude
    val mags = explained.agg(
      avg(abs(col("contrib_f1"))).as("m1"),
      avg(abs(col("contrib_f6"))).as("m6")).head
    assert(mags.getDouble(0) > mags.getDouble(1),
      s"contrib_f1 ${mags.getDouble(0)} should exceed contrib_f6 ${mags.getDouble(1)}")
    // score column equals the plain scoring path (composition didn't
    // disturb the un-ablated pass)
    val direct = model.scoreAll(va).select(col("id"), col("score").as("s2"))
    val joined = explained.select(col("id"), col("score")).join(direct, "id")
    assert(joined.filter(col("score") =!= col("s2")).count() === 0)
    explained.unpersist()
  }

  test("ER matcher: balanced weights + CV F1 gate") {
    val labeled = pairs.withColumnRenamed("label", "is_match")
    val res = ErMatcher.train(labeled, featureCols,
      numFolds = 3, numTrees = 20, maxDepth = 6)
    assert(res.cvF1Mean > 0.8, s"CV F1 ${res.cvF1Mean} below gate")
    assert(res.trainingSamples == 600)
    assert(res.positiveRate > 0.1 && res.positiveRate < 0.9)
    val scored = ErMatcher.score(res.model, labeled)
    val bounds = scored.agg(min("match_score"), max("match_score")).head
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }
}
