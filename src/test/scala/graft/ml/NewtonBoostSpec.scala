package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.evaluate.MetricsLedger

/**
 * Gates for the second-order booster: hand-computed split/leaf math,
 * each regularizer's documented effect (λ implicit throughout, γ, α,
 * min_child_weight), sparsity-aware missing routing, partition-layout
 * invariance (the DECIMAL-histogram property), JSON roundtrip, and an
 * AUC ordering gate on the shared eval fixture.
 */
class NewtonBoostSpec extends SparkSpec {
  import spark.implicits._

  // x = 1..4, y = (0,0,1,1); at base 0.5: g = ±0.5, h = 0.25 per row.
  private def tiny: DataFrame =
    Seq((1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)).toDF("x", "label")

  private def p1(adjust: NewtonBoost.Params => NewtonBoost.Params) = adjust(
    NewtonBoost.Params(rounds = 1, maxDepth = 1, learningRate = 1.0,
      maxBins = 4, minChildWeight = 0.0))

  test("hand-computed single split: threshold, gain argmax, leaf weights") {
    // Exact quartile cuts of {1,2,3,4} = (1.75, 2.5, 3.25); best split is
    // the middle cut: G_L=1, H_L=0.5 → w_L = −1/(0.5+1) = −2/3; w_R = +2/3.
    val m = NewtonBoost.fit(tiny, Seq("x"), "label", p1(identity))
    m.trees.head match {
      case NewtonBoost.Split(0, _, thr, dl, _, NewtonBoost.Leaf(wl), NewtonBoost.Leaf(wr)) =>
        assert(thr == 2.5)
        assert(dl) // no missing mass: directions tie, tie-break picks left
        assert(math.abs(wl - (-2.0 / 3)) < 1e-12)
        assert(math.abs(wr - 2.0 / 3) < 1e-12)
      case other => fail(s"expected a depth-1 split, got $other")
    }
    val scores = tiny.select(m.score.as("s")).as[Double].collect()
    val lo = 1.0 / (1.0 + math.exp(2.0 / 3))
    assert(scores.take(2).forall(s => math.abs(s - lo) < 1e-12))
    assert(scores.drop(2).forall(s => math.abs(s - (1 - lo)) < 1e-12))
  }

  test("gamma prunes: min split loss above best gain yields a stump") {
    // Best available gain is 2/3; γ = 1 pushes every candidate ≤ 0.
    val m = NewtonBoost.fit(tiny, Seq("x"), "label", p1(_.copy(gamma = 1.0)))
    assert(m.trees.head == NewtonBoost.Leaf(0.0)) // G_total = 0 → w = 0
    val s = tiny.select(m.score.as("s")).as[Double].head()
    assert(math.abs(s - 0.5) < 1e-12)
  }

  test("alpha soft-thresholds leaf weights (and the gain that picks them)") {
    // α = 0.5 on |G| = 1 per side → w = ∓0.5/1.5 = ∓1/3 (still splits).
    val m = NewtonBoost.fit(tiny, Seq("x"), "label", p1(_.copy(alpha = 0.5)))
    m.trees.head match {
      case NewtonBoost.Split(_, _, _, _, _, NewtonBoost.Leaf(wl), NewtonBoost.Leaf(wr)) =>
        assert(math.abs(wl - (-1.0 / 3)) < 1e-12)
        assert(math.abs(wr - 1.0 / 3) < 1e-12)
      case other => fail(s"expected split, got $other")
    }
    // α ≥ every |G| → all regularized scores 0 → no positive gain → stump.
    val m2 = NewtonBoost.fit(tiny, Seq("x"), "label", p1(_.copy(alpha = 1.0)))
    assert(m2.trees.head == NewtonBoost.Leaf(0.0))
  }

  test("min_child_weight blocks splits whose child hessian mass is too small") {
    // Max child hessian here is 0.75 < 1.0 (the xgboost default).
    val m = NewtonBoost.fit(tiny, Seq("x"), "label",
      p1(_.copy(minChildWeight = 1.0)))
    assert(m.trees.head == NewtonBoost.Leaf(0.0))
  }

  test("sparsity-aware missing: default direction is learned, not fixed") {
    // Two NULL-x positives make missing-right the higher-gain direction
    // at the 2.5 cut (gain 1.133 vs 0.133 missing-left); the NULL rows
    // then land in the right leaf: w_R = −(−2)/(1+1) = +1.
    val rows = Seq((Option(1.0), 0), (Option(2.0), 0), (Option(3.0), 1),
      (Option(4.0), 1), (Option.empty[Double], 1), (Option.empty[Double], 1))
    val df = rows.toDF("x", "label")
    val m = NewtonBoost.fit(df, Seq("x"), "label", p1(identity))
    m.trees.head match {
      case NewtonBoost.Split(_, _, thr, dl, _, _, NewtonBoost.Leaf(wr)) =>
        assert(thr == 2.5)
        assert(!dl)
        assert(math.abs(wr - 1.0) < 1e-12)
      case other => fail(s"expected split, got $other")
    }
    val nullScore = df.filter(col("x").isNull)
      .select(m.score.as("s")).as[Double].head()
    assert(math.abs(nullScore - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
  }

  private lazy val fixture = {
    val accts = graft.sources.Synthetic.accounts(spark, 300).cache()
    val cands = graft.sources.Synthetic.labeledCandidates(accts,
      window = 30, probScale = 3.0).cache()
    val (train, test) =
      MetricsLedger.split(MetricsLedger.withPairFeatures(cands))
    (train.cache(), test.cache())
  }

  test("model is bit-identical under any input partition layout") {
    val (train, _) = fixture
    val params = NewtonBoost.Params(rounds = 5, maxDepth = 3,
      learningRate = 0.3, maxBins = 16)
    val a = NewtonBoost.fit(train.repartition(3),
      MetricsLedger.featureCols, "label", params)
    val b = NewtonBoost.fit(train.repartition(13),
      MetricsLedger.featureCols, "label", params)
    assert(a.toJson == b.toJson)
    // the distributed histograms too (both fits above replay on the driver)
    assert(distributed(train.repartition(13), params).toJson == a.toJson)
  }

  // ---- driver replay (≤ 65 536 rows) vs the distributed histograms

  private def distributed(df: DataFrame, params: NewtonBoost.Params,
      idCol: Option[String] = None) =
    NewtonBoost.fitWith(df, MetricsLedger.featureCols, "label", params,
      idCol, localMaxRows = -1L)

  private def leafBits(m: NewtonBoost.Model): Seq[Long] = {
    def walk(n: NewtonBoost.Node): Seq[Long] = n match {
      case NewtonBoost.Leaf(w) => Seq(java.lang.Double.doubleToRawLongBits(w))
      case s: NewtonBoost.Split =>
        java.lang.Double.doubleToRawLongBits(s.nodeValue) +:
          (walk(s.left) ++ walk(s.right))
    }
    m.trees.flatMap(walk)
  }

  private def assertSameModel(local: NewtonBoost.Model, dist: NewtonBoost.Model) = {
    assert(local.toJson == dist.toJson)
    assert(leafBits(local) == leafBits(dist))
  }

  /** Most splits on one level of any tree — ≥ 8 means ≥ 16 children, the
    * distributed path's level-checkpoint branch. */
  private def widestLevel(m: NewtonBoost.Model): Int = {
    def level(ns: Seq[NewtonBoost.Node]): Int =
      if (ns.isEmpty) 0
      else {
        val splits = ns.collect { case s: NewtonBoost.Split => s }
        math.max(splits.size, level(splits.flatMap(s => Seq(s.left, s.right))))
      }
    m.trees.map(t => level(Seq(t))).max
  }

  test("driver replay == distributed fit bit for bit: depth 6 (level " +
      "checkpoints), NULL features") {
    val (train, _) = fixture
    val params = NewtonBoost.Params(rounds = 3, maxDepth = 6,
      learningRate = 0.3, maxBins = 16)
    val local = NewtonBoost.fit(train, MetricsLedger.featureCols, "label", params)
    assertSameModel(local, distributed(train, params))
    assert(widestLevel(local) >= 8, "fixture never reached 16 active children")
    // NULL-bearing features: the missing bin and learned default directions
    val holes = train
      .withColumn("size_ratio",
        when(pmod(hash(col("account1_id")), lit(5)) === 0, lit(null))
          .otherwise(col("size_ratio")))
      .withColumn("rev_sum",
        when(pmod(hash(col("account2_id")), lit(7)) === 0, lit(null))
          .otherwise(col("rev_sum")))
    val p2 = params.copy(maxDepth = 4)
    val withNulls = NewtonBoost.fit(holes, MetricsLedger.featureCols, "label", p2)
    assert(withNulls.toJson.contains("\"dl\":false"))
    assertSameModel(withNulls, distributed(holes, p2))
  }

  test("driver replay == distributed fit bit for bit: λ/γ/α/" +
      "min_child_weight and subsample = 0.7") {
    val (train, _) = fixture
    val base = NewtonBoost.Params(rounds = 3, maxDepth = 3,
      learningRate = 0.3, maxBins = 16)
    for (p <- Seq(base.copy(lambda = 5.0), base.copy(gamma = 0.5),
        base.copy(alpha = 2.0), base.copy(minChildWeight = 20.0)))
      assertSameModel(
        NewtonBoost.fit(train, MetricsLedger.featureCols, "label", p),
        distributed(train, p))
    val keyed = train.withColumn("pair_id",
      concat_ws("|", col("account1_id"), col("account2_id")))
    val sub = base.copy(subsample = 0.7)
    assertSameModel(
      NewtonBoost.fit(keyed, MetricsLedger.featureCols, "label", sub,
        idCol = Some("pair_id")),
      distributed(keyed, sub, Some("pair_id")))
  }

  test("a ≤ 65 536-row fit runs at most 3 Spark jobs: the cut-and-count " +
      "aggregate and one bounded collect, none per tree level") {
    val (train, _) = fixture
    val input = train.coalesce(1).cache()
    input.count()
    val jobs = jobsOf {
      NewtonBoost.fit(input, MetricsLedger.featureCols, "label",
        NewtonBoost.Params(rounds = 2, maxDepth = 6, learningRate = 0.1))
    }
    input.unpersist()
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("subsampled fit is deterministic given the id column") {
    val (train, _) = fixture
    val keyed = train.withColumn("pair_id",
      concat_ws("|", col("account1_id"), col("account2_id")))
    val params = NewtonBoost.Params(rounds = 4, maxDepth = 3,
      learningRate = 0.3, maxBins = 16, subsample = 0.7)
    def go() = NewtonBoost.fit(keyed, MetricsLedger.featureCols, "label",
      params, idCol = Some("pair_id"))
    assert(go().toJson == go().toJson)
  }

  test("path attribution: bias + contributions telescope to the margin exactly") {
    val (train, test) = fixture
    val m = NewtonBoost.fit(train, MetricsLedger.featureCols, "label",
      NewtonBoost.Params(rounds = 5, maxDepth = 3, maxBins = 16))
    val reconstructed = m.contributions.map(_._2).foldLeft(m.bias)(_ + _)
    val maxDiff = test.select(abs(m.margin - reconstructed).as("d"))
      .agg(max(col("d"))).head.getDouble(0)
    assert(maxDiff < 1e-12, s"telescoping identity broken by $maxDiff")
  }

  test("a feature the model never splits on contributes exactly zero") {
    // x2 is constant → zero cuts → unsplittable; its attribution must be
    // identically 0 while x1 carries the whole margin.
    val df = Seq((1.0, 7.0, 0), (2.0, 7.0, 0), (3.0, 7.0, 1), (4.0, 7.0, 1))
      .toDF("x1", "x2", "label")
    val m = NewtonBoost.fit(df, Seq("x1", "x2"), "label", p1(identity))
    val row = df.agg(max(abs(m.contribution(1))).as("c2"),
      max(abs(m.contribution(0))).as("c1")).head
    assert(row.getDouble(0) == 0.0)
    assert(row.getDouble(1) > 0.0)
    // the global aggregate mirrors it: x1 carries all importance
    val imp = m.importance(df).toMap
    assert(imp("x2") == 0.0 && imp("x1") > 0.0)
  }

  test("SQL compilation matches the Column twin bit-for-bit in-engine") {
    // key-paired rows (not sorted multisets), margin AND attribution:
    // a contributionSql bug that preserves margins must fail here
    val m = graft.queries.BoostQueries.model
    val li = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "lineitem")
    li.createOrReplaceTempView("li_boost_sql_twin")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_orderkey", "l_linenumber").collect()
        .map(r => (r.getDouble(2), r.getDouble(3)))
    val viaSql = rows(spark.sql(
      s"SELECT l_orderkey, l_linenumber, ${m.marginSql} AS sm, " +
        s"${m.contributionSql(0)} AS sc FROM li_boost_sql_twin"))
    val viaCol = rows(li.select(col("l_orderkey"), col("l_linenumber"),
      m.margin.as("cm"), m.contribution(0).as("cc")))
    assert(viaCol.sameElements(viaSql),
      "SQL/Column margin or contribution divergence")
  }

  test("JSON roundtrip reproduces the model exactly") {
    val (train, test) = fixture
    val m = NewtonBoost.fit(train, MetricsLedger.featureCols, "label",
      NewtonBoost.Params(rounds = 3, maxDepth = 3, maxBins = 16))
    val back = NewtonBoost.fromJson(m.toJson)
    assert(back == m)
    val diff = test.select(
      (m.score - back.score).as("d")).agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff == 0.0)
  }

  test("AUC gate: matches-or-beats same-config MLlib GBT on the eval fixture") {
    // The fixture's labels are probabilistic (probScale 3.0 generator),
    // capping achievable holdout AUC near 0.63 — so the gate is
    // RELATIVE: the second-order booster must not trail the first-order
    // substitute it replaces (measured: NB 0.6313 vs GBT 0.6191).
    val (train, test) = fixture
    val m = NewtonBoost.fit(train, MetricsLedger.featureCols, "label",
      NewtonBoost.Params(rounds = 30, maxDepth = 4, learningRate = 0.2,
        maxBins = 32))
    val nbAuc = graft.evaluate.RankingMetrics.auc(
      test.select(col("label"), m.score.as("score")),
      col("score"), col("label"))

    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.classification.GBTClassifier
    import org.apache.spark.ml.functions.vector_to_array
    val va = new VectorAssembler()
      .setInputCols(MetricsLedger.featureCols.toArray).setOutputCol("features")
    val gbt = new GBTClassifier().setMaxIter(30).setMaxDepth(4)
      .setStepSize(0.2).setSeed(42).setLabelCol("label")
    val pm = new org.apache.spark.ml.Pipeline()
      .setStages(Array(va, gbt)).fit(train)
    val gbtAuc = graft.evaluate.RankingMetrics.auc(
      pm.transform(test)
        .withColumn("score", vector_to_array(col("probability"))(1))
        .select(col("label"), col("score")),
      col("score"), col("label"))

    info(f"NewtonBoost AUC = $nbAuc%.4f, GBTClassifier AUC = $gbtAuc%.4f")
    assert(nbAuc > 0.6, s"AUC $nbAuc below absolute floor")
    assert(nbAuc + 0.02 >= gbtAuc,
      f"NewtonBoost ($nbAuc%.4f) trails GBT ($gbtAuc%.4f)")
  }
}
