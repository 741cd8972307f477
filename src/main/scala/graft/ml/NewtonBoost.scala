package graft.ml

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

import graft.sources.Synthetic

/**
 * Second-order (Newton) gradient boosting with XGBoost-semantics trees —
 * the in-engine closure of COVERAGE M4's documented substitution
 * (reference: src/ml/pipeline.py:214-218 `XGBClassifier(n_estimators=100,
 * max_depth=6, learning_rate=0.1)`; this build is zero-egress, so no
 * xgboost4j). MLlib's `GBTClassifier` is a FIRST-order booster (constant
 * leaf step along the gradient); what makes XGBoost XGBoost — the
 * regularized second-order objective of Chen & Guestrin, KDD 2016 §2.2 —
 * is reproduced here exactly:
 *
 *   - logistic loss on raw margins: g = p − y, h = p(1 − p)
 *   - histogram (tree_method=hist) split finding over quantile bins
 *   - gain = ½·[G_L²/(H_L+λ) + G_R²/(H_R+λ) − G²/(H+λ)] − γ, split only
 *     when gain > 0, both children over `min_child_weight` hessian mass
 *   - leaf weight w* = −sign(G)·max(|G|−α, 0)/(H+λ)  (L2 λ, L1 α)
 *   - sparsity-aware missing handling: NULL features ride a dedicated
 *     bin and each split learns its default direction (ibid. §3.4)
 *   - η (learning rate) shrinkage on every tree, base_score init margin
 *
 * Execution shape (the 100 TB story): this is the histogram/allreduce
 * layout every distributed XGBoost deployment uses. Rows never leave the
 * executors — per boosting round and tree level, ONE shuffle aggregates
 * per-(node, feature, bin) gradient/hessian sums (map-side partial
 * combine makes the shuffle `nodes × features × bins` rows regardless of
 * data size), and the driver consumes that bounded histogram (≤
 * 2^depth · k · (maxBins+1) cells — the "allreduce" result, NOT row
 * data) to pick splits. Node routing and margin updates are pure codegen
 * column expressions over the binned frame; the binned frame is
 * localCheckpointed once and the margin chain re-checkpointed every
 * `checkpointEvery` rounds with the Dedup free() discipline so lineage
 * and block storage stay O(1) across rounds.
 *
 * Small-data replay: per level that layout costs a Spark job plus fresh
 * codegen (the routing literals differ), which decides the fit time
 * when the training set is small. The quantile-cut job also counts the
 * rows, and the count alone picks the path: at ≤ 65 536 rows ONE
 * bounded collect (`limit(65536)`) brings the binned frame to the
 * driver, which replays every round — margins, g/h, the DECIMAL(38,18)
 * histogram sums, routing — from the collected rows (and, with
 * subsample < 1, each round's keep mask, computed in the same collect
 * by the same column expression). A larger set runs no extra job. Split
 * search and leaf weights are the shared code below, so the only
 * difference between the paths is where the histogram comes from. The
 * replay's model is bit-identical to the distributed fit's — g/h use
 * `StrictMath.exp`, as Spark's `Exp` does in generated and interpreted
 * code alike (`Math.exp` differs in the last bit for ~10% of inputs on
 * x86-64 HotSpot) — and `NewtonBoostSpec` pins `toJson` equality and
 * leaf bits between the two paths.
 *
 * Gradient/hessian histogram sums aggregate in DECIMAL(38,18), so the
 * histograms — and therefore every split decision and the entire model —
 * are bit-identical under any partition layout (same discipline as the
 * LM-perplexity ln-sums). Ties on gain break deterministically
 * (feature index, then bin, then missing-left). `NewtonBoostSpec` proves
 * hand-computed splits/leaves, λ/γ/α/min_child_weight behavior, missing
 * routing, partition invariance, and an AUC gate on the shared eval
 * fixture.
 */
object NewtonBoost {

  /** Hyper-parameters; defaults mirror the reference's XGBClassifier
    * config plus xgboost's own regularizer defaults (λ=1, γ=0, α=0,
    * min_child_weight=1, base_score=0.5). */
  final case class Params(
      rounds: Int = 100,
      maxDepth: Int = 6,
      learningRate: Double = 0.1,
      lambda: Double = 1.0,
      gamma: Double = 0.0,
      alpha: Double = 0.0,
      minChildWeight: Double = 1.0,
      maxBins: Int = 64,
      subsample: Double = 1.0,
      baseScore: Double = 0.5,
      checkpointEvery: Int = 8,
      seed: Int = 42) {
    require(rounds >= 1 && maxDepth >= 1 && maxBins >= 2, "degenerate config")
    require(learningRate > 0 && lambda >= 0 && gamma >= 0 && alpha >= 0,
      "negative regularizer")
    require(subsample > 0 && subsample <= 1.0, "subsample must be in (0,1]")
    require(baseScore > 0 && baseScore < 1, "base_score must be in (0,1)")
  }

  sealed trait Node extends Serializable {
    /** The Newton leaf weight this node WOULD take if it were a leaf —
      * for a Split, computed from its own (G, H); the per-row
      * path-attribution (`Model.contributions`) telescopes these. */
    def value: Double
  }
  final case class Leaf(weight: Double) extends Node {
    def value: Double = weight
  }
  /** `threshold` is the raw-value cut (left ⟺ value < threshold);
    * `bin` the equivalent binned cut (left ⟺ binIdx <= bin). */
  final case class Split(feature: Int, bin: Int, threshold: Double,
      defaultLeft: Boolean, nodeValue: Double, left: Node, right: Node)
      extends Node {
    def value: Double = nodeValue
  }

  final case class Model(
      featureCols: Seq[String],
      trees: Seq[Node],
      learningRate: Double,
      baseScore: Double) {

    /** Raw additive margin as a pure codegen column expression over the
      * ORIGINAL feature columns — the model is embedded in the plan, no
      * broadcast, no UDF; scoring fuses into whatever reads it. */
    private def goLeftCol(f: Int, thr: Double, dl: Boolean): Column = {
      val c = col(featureCols(f))
      if (dl) c.isNull || (c < lit(thr)) else c.isNotNull && (c < lit(thr))
    }

    def margin: Column = {
      def eval(n: Node): Column = n match {
        case Leaf(w) => lit(w)
        case Split(f, _, thr, dl, _, l, r) =>
          when(goLeftCol(f, thr, dl), eval(l)).otherwise(eval(r))
      }
      trees.map(eval).foldLeft(lit(logit(baseScore)))(_ + _ * lit(learningRate))
    }

    /** P(y=1) = sigmoid(margin). */
    def score: Column = lit(1.0) / (lit(1.0) + exp(-margin))

    /** Margin share attributable to the model structure's root values —
      * `bias + Σ_f contribution(f) == margin` EXACTLY, per row (the
      * Saabas telescoping identity; NewtonBoostSpec pins it to 0 diff). */
    def bias: Column = lit(
      logit(baseScore) + learningRate * trees.map(_.value).sum)

    /** Per-row, per-feature PATH-ATTRIBUTION contribution (Saabas,
      * "Interpreting random forests", 2014; the per-row explanation the
      * reference's M10 SHAP stub never delivers — api/main.py:882-890
      * hard-codes importances): walking each tree, every split on
      * feature f contributes value(child reached) − value(node). Pure
      * codegen CASE expressions — explanation streams row-parallel with
      * zero shuffles, and unused features are identically 0. */
    def contribution(f: Int): Column = {
      def walk(n: Node): Column = n match {
        case _: Leaf => lit(0.0)
        case s @ Split(sf, _, thr, dl, _, l, r) =>
          val dL = (if (sf == f) l.value - s.value else 0.0)
          val dR = (if (sf == f) r.value - s.value else 0.0)
          when(goLeftCol(sf, thr, dl), lit(dL) + walk(l))
            .otherwise(lit(dR) + walk(r))
      }
      trees.map(walk).reduce(_ + _) * lit(learningRate)
    }

    /** All features' contributions as (name, column) pairs. */
    def contributions: Seq[(String, Column)] =
      featureCols.indices.map(i => featureCols(i) -> contribution(i))

    /** Global feature importance as mean |path contribution| over a
      * frame — the dataset-level aggregate of the Saabas per-row
      * attribution (features the model never splits on score exactly
      * 0). ONE pass, one single-row aggregate; the per-row walks are
      * the same codegen CASE columns scoring uses, so this runs at
      * scan speed on any corpus size. */
    def importance(df: DataFrame): Seq[(String, Double)] = {
      val aggs = featureCols.indices.map(i =>
        avg(abs(contribution(i))).as(s"_i$i"))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      featureCols.indices.map(i => featureCols(i) -> row.getDouble(i))
    }

    // ---- ANSI-SQL compilation (the DuckDB-oracle replay of model
    // application). Each generator mirrors its Column twin's expression
    // tree NODE FOR NODE — same literals, same association order — so
    // margins and contributions are bit-identical engine-to-engine, no
    // tolerance needed. Literals are emitted in scientific notation:
    // a bare `0.3` parses as DECIMAL in both Spark SQL and DuckDB
    // (decimal arithmetic ≠ the Column twin's IEEE doubles), while
    // `0.3E0` parses as DOUBLE in both; Double.toString round-trips
    // exactly, so both engines hold the identical bit pattern.

    private def dbl(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "E0"
    }

    private def goLeftSql(f: Int, thr: Double, dl: Boolean): String = {
      val c = featureCols(f)
      if (dl) s"($c IS NULL OR $c < ${dbl(thr)})"
      else s"($c IS NOT NULL AND $c < ${dbl(thr)})"
    }

    /** `margin` as SQL. */
    def marginSql: String = {
      def eval(n: Node): String = n match {
        case Leaf(w) => dbl(w)
        case Split(f, _, thr, dl, _, l, r) =>
          s"(CASE WHEN ${goLeftSql(f, thr, dl)} THEN ${eval(l)} " +
            s"ELSE ${eval(r)} END)"
      }
      trees.map(eval).foldLeft(dbl(logit(baseScore))) {
        (acc, t) => s"($acc + ($t * ${dbl(learningRate)}))"
      }
    }

    /** `score` as SQL (sigmoid of the margin). */
    def scoreSql: String = s"(1.0E0 / (1.0E0 + exp(-$marginSql)))"

    /** `bias` as SQL (a constant — the identical Scala-computed double
      * the Column twin embeds via lit). */
    def biasSql: String =
      dbl(logit(baseScore) + learningRate * trees.map(_.value).sum)

    /** `contribution(f)` as SQL. */
    def contributionSql(f: Int): String = {
      def walk(n: Node): String = n match {
        case _: Leaf => "0.0E0"
        case s @ Split(sf, _, thr, dl, _, l, r) =>
          val dL = dbl(if (sf == f) l.value - s.value else 0.0)
          val dR = dbl(if (sf == f) r.value - s.value else 0.0)
          s"(CASE WHEN ${goLeftSql(sf, thr, dl)} THEN ($dL + ${walk(l)}) " +
            s"ELSE ($dR + ${walk(r)}) END)"
      }
      val summed = trees.map(walk).reduce((a, b) => s"($a + $b)")
      s"($summed * ${dbl(learningRate)})"
    }

    def toJson: String = {
      def nodeJson(n: Node): String = n match {
        case Leaf(w) => s"""{"w":${w.toString}}"""
        case Split(f, b, t, dl, v, l, r) =>
          s"""{"f":$f,"b":$b,"t":${t.toString},"dl":$dl,"v":${v.toString},""" +
            s""""l":${nodeJson(l)},"r":${nodeJson(r)}}"""
      }
      val feats = featureCols.map(f => "\"" + f + "\"").mkString(",")
      s"""{"features":[$feats],"lr":$learningRate,"base":$baseScore,""" +
        s""""trees":[${trees.map(nodeJson).mkString(",")}]}"""
    }

    def save(path: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJson)
  }

  private def logit(p: Double): Double = math.log(p / (1.0 - p))

  private val Dec = "decimal(38,18)"

  /** Exact interior quantile cuts per feature, deduplicated ascending,
    * and the row count. One aggregate job computes all features' cut
    * arrays (`percentile` ignores NULLs). Exact percentile keeps the
    * binning — and so the model — fully deterministic; at 100 TB swap
    * `percentile` for `approxQuantile` (cut jitter moves bin EDGES, not
    * the objective). */
  private def quantileCuts(df: DataFrame, featureCols: Seq[String],
      maxBins: Int): (Array[Array[Double]], Long) = {
    val probs = (1 until maxBins).map(i => i.toDouble / maxBins)
    val aggs = featureCols.map { f =>
      expr(s"percentile(`$f`, array(${probs.mkString(",")}))").as(s"_c_$f")
    }
    val row = df.agg(aggs.head, aggs.tail :+ count(lit(1)): _*).head()
    (featureCols.indices.map { i =>
      val raw = Option(row.getSeq[Double](i)).getOrElse(Seq.empty)
      raw.distinct.sorted.toArray
    }.toArray, row.getLong(featureCols.size))
  }

  /** Bin index column for one feature: -1 for NULL (the missing bin),
    * else the index of the half-open cut interval — a codegen `when`
    * chain, no UDF. */
  private def binCol(f: String, cuts: Array[Double]): Column =
    if (cuts.isEmpty) when(col(f).isNull, lit(-1)).otherwise(lit(0))
    else {
      var chain = when(col(f) < lit(cuts(0)), lit(0))
      var i = 1
      while (i < cuts.length) { chain = chain.when(col(f) < lit(cuts(i)), lit(i)); i += 1 }
      when(col(f).isNull, lit(-1)).otherwise(chain.otherwise(lit(cuts.length)))
    }

  private final case class Cell(g: Double, h: Double, cnt: Long)
  private final case class Cand(gain: Double, feature: Int, bin: Int,
      missingLeft: Boolean, lStat: Cell, rStat: Cell)
  /** A chosen split of node `node`: rows go to child `l` when their bin
    * of feature `f` is ≤ `b` (NULL, bin -1, goes left iff `dl`). */
  private final case class Route(node: Int, f: Int, b: Int, dl: Boolean,
      l: Int, r: Int) {
    def goLeft(bin: Int): Boolean = goesLeft(bin, b, dl)
  }
  private def goesLeft(bin: Int, b: Int, dl: Boolean): Boolean =
    if (dl) bin == -1 || bin <= b else bin != -1 && bin <= b
  /** node → feature → bin → Cell (bin -1 = missing). */
  private type Hist = Map[Int, Map[Int, Map[Int, Cell]]]

  /** Where one tree's level-wise histograms come from, and where its
    * rows are routed: the distributed binned frame ([[FrameRows]]) or
    * the driver's copy of it ([[DriverRows]]). Both yield the identical
    * [[Hist]], so the split search never knows which one ran. */
  private trait TreeRows {
    /** Histogram of the rows that sit in `active` nodes. */
    def histogram(active: Seq[Int]): Hist
    def route(routes: Seq[Route]): Unit
    def close(): Unit = ()
  }

  /** Row bound for the driver replay (the `GraftLocalKMeans`
    * precedent, `SimilaritySearch.LocalKMeansMaxRows`): a training set
    * this small is collected once and its histograms are summed on the
    * driver; a larger one keeps the per-level histogram jobs. */
  private val LocalMaxRows = 65536L

  /** Fit `params.rounds` trees on `df` (featureCols + 0/1 `labelCol`).
    * `idCol` keys the deterministic per-round row subsample (md5-hash
    * uniform — required when subsample < 1, ignored otherwise). */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: String,
      params: Params, idCol: Option[String] = None): Model =
    fitWith(df, featureCols, labelCol, params, idCol, LocalMaxRows)

  /** [[fit]] with the driver-replay row bound as a parameter, so specs
    * can force the distributed path on small data (`localMaxRows = -1`). */
  private[ml] def fitWith(df: DataFrame, featureCols: Seq[String],
      labelCol: String, params: Params, idCol: Option[String],
      localMaxRows: Long): Model = {
    require(params.subsample >= 1.0 || idCol.isDefined,
      "subsample < 1 needs idCol for a deterministic row draw")
    val p = params
    val (cuts, rows) = quantileCuts(df, featureCols, p.maxBins)
    val binCols = featureCols.indices.map(i => s"_b$i")
    val binned = df.select(featureCols.indices.map(i =>
      binCol(featureCols(i), cuts(i)).as(s"_b$i")) ++
      Seq(col(labelCol).cast("double").as("_y")) ++
      idCol.map(c => col(c).cast("string").as("_id")).toSeq: _*)

    // the row count alone picks the path; a small set arrives in ONE
    // bounded collect, with the subsample draws of every round computed
    // by the same `keepCol` the distributed path uses
    val trees =
      if (rows <= localMaxRows)
        fitOnDriver(binned.select(binCols.map(col) ++ Seq(col("_y")) ++
            (if (p.subsample >= 1.0) Nil
             else Seq(array((0 until p.rounds).map(keepCol(p, _)): _*)
               .as("_keep"))): _*)
          .coalesce(1).limit(localMaxRows.toInt).collect(),
          featureCols.size, cuts, p)
      else fitDistributed(binned, binCols, cuts, p)
    Model(featureCols, trees, p.learningRate, p.baseScore)
  }

  /** Round `round`'s subsample mask over the binned frame's `_id`:
    * 1.0 keeps the row, 0.0 masks it (g = h = 0, not counted). */
  private def keepCol(p: Params, round: Int): Column =
    if (p.subsample >= 1.0) lit(1.0)
    else (Synthetic.u(col("_id"), salt = round, seed = p.seed) <
      lit(p.subsample)).cast("double")

  private def fitDistributed(binned: DataFrame, binCols: Seq[String],
      cuts: Array[Array[Double]], p: Params): Seq[Node] = {
    // Binned frame materialized ONCE; margin evolves on top of it.
    var work = binned.withColumn("_m", lit(logit(p.baseScore)))
      .localCheckpoint(true)
    var lastCkpt = work
    val trees = mutable.ArrayBuffer.empty[Node]

    for (round <- 0 until p.rounds) {
      val tree = growTree(new FrameRows(work, binCols, keepCol(p, round)),
        cuts, p)
      trees += tree

      // Margin update: binned-column form of the tree, pure codegen.
      def eval(n: Node): Column = n match {
        case Leaf(w) => lit(w)
        case Split(f, b, _, dl, _, l, r) =>
          val c = col(s"_b$f")
          val goLeft =
            if (dl) (c === -1) || (c <= b) else (c =!= -1) && (c <= b)
          when(goLeft, eval(l)).otherwise(eval(r))
      }
      work = work.withColumn("_m", col("_m") + lit(p.learningRate) * eval(tree))
      // depth-aware checkpoint interval: each unmaterialized round rides
      // ~2^(maxDepth+1) CASE nodes in the margin chain, and the chain
      // inlines into the NEXT round's histogram-aggregate codegen —
      // 8 pending depth-6 trees overflow Janino's method limit (the
      // whole hot loop then silently falls back to interpreted mode,
      // observed as "Failed to compile" ERRORs in the r15 ensemble
      // fits). Cap pending CASE nodes at ~256: depth ≤ 4 keeps the
      // configured interval; depth 6 checkpoints every 2 rounds. Pure
      // lineage truncation — the fitted model is bit-identical at any
      // interval, so frozen fixtures are unaffected.
      val ckptEvery = math.max(1,
        math.min(p.checkpointEvery, 256 >> math.min(p.maxDepth + 1, 30)))
      if ((round + 1) % ckptEvery == 0 && round + 1 < p.rounds) {
        val ckpt = work.localCheckpoint(true)
        GraftShim.freeLocalCheckpoint(lastCkpt)
        lastCkpt = ckpt
        work = ckpt
      }
    }
    GraftShim.freeLocalCheckpoint(lastCkpt)
    trees.toSeq
  }

  /** Per level: one bounded histogram aggregate (the shuffle) and one
    * codegen node-routing update. */
  private final class FrameRows(work: DataFrame, binCols: Seq[String],
      keep: Column) extends TreeRows {
    private val prob = lit(1.0) / (lit(1.0) + exp(-col("_m")))
    private val gCol = ((prob - col("_y")) * keep).as("_g")
    private val hCol = (prob * (lit(1.0) - prob) * keep).as("_h")
    private val levelCkpts = mutable.ArrayBuffer.empty[DataFrame]
    private var frame = work.withColumn("_n", lit(0))

    def histogram(active: Seq[Int]): Hist = {
      val hist = frame
        .filter(col("_n").isInCollection(active))
        .select(Seq(col("_n"),
          posexplode(array(binCols.map(col): _*)).as(Seq("_f", "_bin")),
          gCol, hCol, keep.cast("long").as("_k")): _*)
        .groupBy("_n", "_f", "_bin")
        .agg(sum(col("_g").cast(Dec)).as("g"),
          sum(col("_h").cast(Dec)).as("h"),
          // cell count = rows SAMPLED this round (sum of the keep mask,
          // not a raw row count): with subsample < 1, split-eligibility
          // guards and min-count checks must see only the round's row
          // subset — xgboost's per-round semantics — else masked rows
          // (g=h=0) still satisfy cnt>0 and shift split choices.
          sum(col("_k")).as("c"))
        .collect()
      hist.groupBy(_.getInt(0)).map { case (n, rows) =>
        n -> rows.groupBy(_.getInt(1)).map { case (f, rs) =>
          f -> rs.map(r => r.getInt(2) -> Cell(
            r.getDecimal(3).doubleValue, r.getDecimal(4).doubleValue,
            r.getLong(5))).toMap
        }
      }
    }

    def route(routes: Seq[Route]): Unit = {
      // Route rows of split nodes to their children (codegen CASE).
      var e: Column = col("_n")
      for (s <- routes) {
        val c = col(s"_b${s.f}")
        val goLeft =
          if (s.dl) (c === -1) || (c <= s.b) else (c =!= -1) && (c <= s.b)
        e = when(col("_n") === s.node,
          when(goLeft, lit(s.l)).otherwise(lit(s.r))).otherwise(e)
      }
      frame = frame.withColumn("_n", e)
      // Deep levels must MATERIALIZE the routing: the lazy `_n` CASE
      // chains across levels and inlines into the next level's
      // histogram-aggregate codegen — at ≥16 active children the
      // accumulated chain blows Janino's 64 KB method limit and the
      // whole hot loop silently drops to interpreted mode ("Failed
      // to compile" ERRORs, one per depth-≥5 round, r15). Shallow
      // trees (the frozen-fixture configs, depth ≤ 3 → ≤ 8 children)
      // never hit this branch, so their plans are byte-identical.
      // Values are unaffected at any depth — pure lineage truncation.
      if (2 * routes.size >= 16) {
        val ckpt = frame.localCheckpoint(true)
        levelCkpts += ckpt
        frame = ckpt
      }
    }

    override def close(): Unit = levelCkpts.foreach(GraftShim.freeLocalCheckpoint)
  }

  /** The replay of [[fitDistributed]] over the collected binned rows
    * (`_b0.._b{k-1}`, `_y`, and with subsample < 1 the per-round
    * `_keep` array). Margins, g/h, routing and the histogram sums are
    * computed here exactly as the distributed Column expressions
    * compute them, so both paths grow the identical trees. */
  private def fitOnDriver(rows: Array[org.apache.spark.sql.Row], k: Int,
      cuts: Array[Array[Double]], p: Params): Seq[Node] = {
    val n = rows.length
    val bins = Array.tabulate(k, n)((f, i) => rows(i).getInt(f))
    val y = rows.map(r => if (r.isNullAt(k)) Double.NaN else r.getDouble(k))
    val keeps: Option[Array[scala.collection.Seq[Any]]] =
      if (p.subsample >= 1.0) None else Some(rows.map(_.getSeq[Any](k + 1)))
    val m = Array.fill(n)(logit(p.baseScore))
    (0 until p.rounds).map { round =>
      val keep = (i: Int) => keeps.fold[java.lang.Double](1.0)(ks =>
        ks(i)(round).asInstanceOf[java.lang.Double])
      val tree = growTree(new DriverRows(bins, y, m, keep, cuts), cuts, p)
      def eval(t: Node, i: Int): Double = t match {
        case Leaf(w) => w
        case Split(f, b, _, dl, _, l, r) =>
          eval(if (goesLeft(bins(f)(i), b, dl)) l else r, i)
      }
      var i = 0
      while (i < n) { m(i) = m(i) + p.learningRate * eval(tree, i); i += 1 }
      tree
    }
  }

  /** One tree's rows on the driver. Per row, g and h are the distributed
    * path's doubles (`1/(1+StrictMath.exp(-m))`, Spark's `Exp`), each
    * cast to DECIMAL(38,18) the way Spark's `Cast` does (the shortest
    * decimal string of the double, rounded HALF_UP to 18 places) and
    * summed exactly. Exact sums are order-free, so each cell's decimal,
    * and the double read from it, equals the distributed aggregate's. */
  private final class DriverRows(bins: Array[Array[Int]], y: Array[Double],
      m: Array[Double], keep: Int => java.lang.Double,
      cuts: Array[Array[Double]]) extends TreeRows {
    private val n = m.length
    private val node = new Array[Int](n)
    // unscaled DECIMAL(38,18) g/h per row; a NULL (label or keep NULL,
    // which SUM skips) is marked by gOk / kept. |g| ≤ 1 and h ≤ ¼, so each
    // unscaled value fits a Long; sums split at bit 30 to stay exact.
    private val g = new Array[Long](n)
    private val h = new Array[Long](n)
    private val gOk = new Array[Boolean](n)
    private val kept = new Array[Byte](n) // keep: 1, 0, or -1 for NULL
    locally {
      var i = 0
      while (i < n) {
        val kp = keep(i)
        if (kp != null) {
          val prob = 1.0 / (1.0 + StrictMath.exp(-m(i)))
          val gv = (prob - y(i)) * kp
          gOk(i) = java.lang.Double.isFinite(gv)
          if (gOk(i)) g(i) = dec18(gv)
          h(i) = dec18(prob * (1.0 - prob) * kp)
          kept(i) = kp.longValue.toByte
        } else kept(i) = -1
        i += 1
      }
    }

    def histogram(active: Seq[Int]): Hist = {
      val slotOf = Array.fill(active.max + 1)(-1)
      active.zipWithIndex.foreach { case (a, j) => slotOf(a) = j }
      // [slot][feature][bin + 1] accumulators
      def acc() = Array.tabulate(active.size, bins.length)(
        (_, f) => new Array[Long](cuts(f).length + 2))
      val (gHi, gLo, hHi, hLo, cnt) = (acc(), acc(), acc(), acc(), acc())
      val seen = Array.tabulate(active.size, bins.length)(
        (_, f) => new Array[Boolean](cuts(f).length + 2))
      var i = 0
      while (i < n) {
        val j = if (node(i) < slotOf.length) slotOf(node(i)) else -1
        if (j >= 0) {
          var f = 0
          while (f < bins.length) {
            val b = bins(f)(i) + 1
            seen(j)(f)(b) = true
            if (kept(i) >= 0) {
              if (gOk(i)) {
                gHi(j)(f)(b) += g(i) >> 30; gLo(j)(f)(b) += g(i) & 0x3FFFFFFFL
              }
              hHi(j)(f)(b) += h(i) >> 30; hLo(j)(f)(b) += h(i) & 0x3FFFFFFFL
              cnt(j)(f)(b) += kept(i)
            }
            f += 1
          }
        }
        i += 1
      }
      def dbl(hi: Long, lo: Long): Double = new java.math.BigDecimal(
        java.math.BigInteger.valueOf(hi).shiftLeft(30)
          .add(java.math.BigInteger.valueOf(lo)), 18).doubleValue
      active.indices.filter(j => seen(j)(0).exists(identity)).map { j =>
        active(j) -> bins.indices.map { f =>
          f -> seen(j)(f).indices.filter(seen(j)(f)(_)).map { b =>
            (b - 1) -> Cell(dbl(gHi(j)(f)(b), gLo(j)(f)(b)),
              dbl(hHi(j)(f)(b), hLo(j)(f)(b)), cnt(j)(f)(b))
          }.toMap
        }.toMap
      }.toMap
    }

    def route(routes: Seq[Route]): Unit = {
      val byNode = routes.map(r => r.node -> r).toMap
      var i = 0
      while (i < n) {
        byNode.get(node(i)).foreach { s =>
          node(i) = if (s.goLeft(bins(s.f)(i))) s.l else s.r
        }
        i += 1
      }
    }
  }

  /** `x` cast to DECIMAL(38,18) as Spark's `Cast` codegen does
    * (`Decimal(BigDecimal.valueOf(x))`, then `changePrecision` HALF_UP),
    * as its unscaled value. */
  private def dec18(x: Double): Long = java.math.BigDecimal.valueOf(x)
    .setScale(18, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact

  /** One tree, level-wise: per level the histogram of the active nodes,
    * the driver split search (the allreduce consumer), and the routing
    * of split nodes' rows to their children. */
  private def growTree(rows: TreeRows, cuts: Array[Array[Double]],
      p: Params): Node = {
    val splits =
      mutable.Map.empty[Int, (Int, Int, Double, Boolean, Double, Int, Int)]
    val leaves = mutable.Map.empty[Int, Double]
    // Stats a child inherits from its parent's chosen split — exact
    // (decimal-summed) so depth-capped leaves need no extra job.
    val childStats = mutable.Map.empty[Int, Cell]
    var nextId = 1
    var active: Seq[Int] = Seq(0)

    for (_ <- 0 until p.maxDepth if active.nonEmpty) {
      val byNode = rows.histogram(active)
      val grown = mutable.ArrayBuffer.empty[Int]
      for (nodeId <- active) byNode.get(nodeId) match {
        case None => // no sampled rows reached this node this round
          leaves(nodeId) = leafWeight(childStats.getOrElse(nodeId,
            Cell(0, 0, 0)), p)
        case Some(byFeat) =>
          // sum the node total in SORTED bin order: Map.values iterates
          // small maps in insertion order (= collect()'s partition-
          // dependent row order), and a double sum is order-sensitive —
          // the one fold here that isn't decimal-exact must be
          // canonically ordered or the model drifts 1 ulp across
          // parallelism levels
          val t0 = byFeat(0).toSeq.sortBy(_._1).map(_._2)
          val total = Cell(t0.map(_.g).sum, t0.map(_.h).sum,
            t0.map(_.cnt).sum)
          bestSplit(byFeat, cuts, total, p) match {
            case Some(c) =>
              val (l, r) = (nextId, nextId + 1); nextId += 2
              splits(nodeId) = (c.feature, c.bin, cuts(c.feature)(c.bin),
                c.missingLeft, leafWeight(total, p), l, r)
              childStats(l) = c.lStat; childStats(r) = c.rStat
              grown += l; grown += r
            case None =>
              leaves(nodeId) = leafWeight(total, p)
          }
      }
      if (grown.nonEmpty)
        rows.route(for (nodeId <- active; s <- splits.get(nodeId))
          yield Route(nodeId, s._1, s._2, s._4, s._6, s._7))
      active = grown.toSeq
    }
    rows.close()
    // Depth-capped nodes become leaves on their inherited stats.
    for (nodeId <- active)
      leaves(nodeId) = leafWeight(childStats(nodeId), p)

    def build(id: Int): Node = splits.get(id) match {
      case Some((f, b, thr, dl, v, l, r)) =>
        Split(f, b, thr, dl, v, build(l), build(r))
      case None => Leaf(leaves(id))
    }
    build(0)
  }

  /** w* = −sign(G)·max(|G|−α, 0)/(H+λ) — Chen & Guestrin eq. (5) with
    * the L1 soft-threshold xgboost applies (ThresholdL1). */
  private def leafWeight(s: Cell, p: Params): Double = {
    val gl1 = math.signum(s.g) * math.max(math.abs(s.g) - p.alpha, 0.0)
    if (s.h + p.lambda <= 0) 0.0 else -gl1 / (s.h + p.lambda)
  }

  private def scoreOf(g: Double, h: Double, p: Params): Double = {
    val gl1 = math.signum(g) * math.max(math.abs(g) - p.alpha, 0.0)
    gl1 * gl1 / (h + p.lambda)
  }

  /** Exact-greedy search over the histogram: every (feature, bin,
    * missing-direction) candidate, gain per eq. (7) minus γ, split only
    * when gain > 0 and both children carry `min_child_weight` hessian
    * and ≥1 row. Deterministic tie-break: gain strictly-greater wins,
    * else lower feature, lower bin, missing-left. */
  private def bestSplit(byFeat: Map[Int, Map[Int, Cell]],
      cuts: Array[Array[Double]], total: Cell, p: Params): Option[Cand] = {
    val parentScore = scoreOf(total.g, total.h, p)
    var best: Option[Cand] = None
    for (f <- byFeat.keys.toSeq.sorted if cuts(f).nonEmpty) {
      val bins = byFeat(f)
      val miss = bins.getOrElse(-1, Cell(0, 0, 0))
      var accG = 0.0; var accH = 0.0; var accC = 0L
      for (b <- 0 until cuts(f).length) {
        val cell = bins.getOrElse(b, Cell(0, 0, 0))
        accG += cell.g; accH += cell.h; accC += cell.cnt
        for (missingLeft <- Seq(true, false)) {
          val lS =
            if (missingLeft) Cell(accG + miss.g, accH + miss.h, accC + miss.cnt)
            else Cell(accG, accH, accC)
          val rS = Cell(total.g - lS.g, total.h - lS.h, total.cnt - lS.cnt)
          if (lS.cnt > 0 && rS.cnt > 0 &&
              lS.h >= p.minChildWeight && rS.h >= p.minChildWeight) {
            val gain =
              0.5 * (scoreOf(lS.g, lS.h, p) + scoreOf(rS.g, rS.h, p) -
                parentScore) - p.gamma
            if (gain > 0 && best.forall(gain > _.gain))
              best = Some(Cand(gain, f, b, missingLeft, lS, rS))
          }
        }
      }
    }
    best
  }

  /** Parse a `Model.toJson` string back (no external JSON dep — same
    * discipline as `EnsembleModel.load`). */
  def fromJson(json: String): Model = {
    val P = new JsonP(json)
    P.obj()
    var feats = Seq.empty[String]; var lr = 0.1; var base = 0.5
    var trees = Seq.empty[Node]
    def node(): Node = {
      val m = P.objStart()
      if (m == "w") { val w = P.num(); P.objEnd(); Leaf(w) }
      else {
        // keys arrive in toJson order: f,b,t,dl,v,l,r. "v" (the node
        // value for path attribution, added r14) is OPTIONAL on read:
        // pre-r14 JSON (f,b,t,dl,l,r) loads with v = 0 — margins and
        // scores are exact (they never read v) and the telescoping
        // identity still holds (bias + Σ contributions ≡ margin);
        // only the per-feature attribution SPLIT degrades. Re-save to
        // upgrade.
        val f = P.num().toInt; P.key("b"); val b = P.num().toInt
        P.key("t"); val t = P.num(); P.key("dl"); val dl = P.bool()
        val nk = P.nextKey()
        val (v, lk) = if (nk == "v") (P.num(), P.nextKey()) else (0.0, nk)
        require(lk == "l", s"expected key l, got $lk")
        val l = node(); P.key("r"); val r = node()
        P.objEnd(); Split(f, b, t, dl, v, l, r)
      }
    }
    while (P.hasKey) P.nextKey() match {
      case "features" => feats = P.strArray()
      case "lr" => lr = P.num()
      case "base" => base = P.num()
      case "trees" =>
        P.arrStart(); val buf = mutable.ArrayBuffer.empty[Node]
        while (!P.arrEnd()) buf += node()
        trees = buf.toSeq
      case k => throw new IllegalArgumentException(s"unknown key $k")
    }
    Model(feats, trees, lr, base)
  }

  def load(path: String): Model =
    fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** Minimal recursive-descent reader for exactly the JSON `toJson`
    * emits (flat keys, nested node objects, number/bool/string-array
    * values). Not a general JSON parser. */
  private final class JsonP(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def eat(c: Char): Unit = {
      ws(); require(i < s.length && s(i) == c, s"expected $c at $i"); i += 1
    }
    def obj(): Unit = eat('{')
    def objEnd(): Unit = { eat('}'); ws(); if (i < s.length && s(i) == ',') i += 1 }
    def hasKey: Boolean = { ws(); i < s.length && s(i) == '"' }
    def nextKey(): String = { val k = str(); eat(':'); k }
    def key(expected: String): Unit = {
      val k = nextKey()
      require(k == expected, s"expected key $expected, got $k")
    }
    /** Opens an object and returns its FIRST key (consumed, with its ':'). */
    def objStart(): String = { obj(); nextKey() }
    def arrStart(): Unit = eat('[')
    def arrEnd(): Boolean = {
      ws()
      if (s(i) == ']') { i += 1; ws(); if (i < s.length && s(i) == ',') i += 1; true }
      else { if (s(i) == ',') i += 1; false }
    }
    def str(): String = {
      eat('"'); val start = i
      while (s(i) != '"') i += 1
      val out = s.substring(start, i); i += 1; out
    }
    def strArray(): Seq[String] = {
      arrStart(); val buf = mutable.ArrayBuffer.empty[String]
      while ({ ws(); s(i) != ']' }) { buf += str(); ws(); if (s(i) == ',') i += 1 }
      i += 1; ws(); if (i < s.length && s(i) == ',') i += 1
      buf.toSeq
    }
    def num(): Double = {
      ws(); val start = i
      while (i < s.length && "+-.eE0123456789".indexOf(s(i)) >= 0) i += 1
      val v = s.substring(start, i).toDouble
      ws(); if (i < s.length && s(i) == ',') i += 1
      v
    }
    def bool(): Boolean = {
      ws()
      val v = s.startsWith("true", i)
      i += (if (v) 4 else 5)
      ws(); if (i < s.length && s(i) == ',') i += 1
      v
    }
  }
}
