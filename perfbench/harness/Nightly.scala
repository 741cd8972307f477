package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.app.PipelineRunner
import graft.evaluate.{MetricsLedger, RankingMetrics}
import graft.ml.Ensemble
import graft.operators.EntityResolution
import graft.quality.Contracts

/** The cross-sell part of nightly_batch: contracts → cross-org ER → the cross-sell pipeline
  * (top-k candidates, pair features, score, prune, rank, parquet write) →
  * ensemble fit and scoring → ranking evaluation against the baselines. */
final class Nightly(ctx: Ctx) {
  import Nightly._
  private val spark = ctx.spark
  private val t = ctx.tracer
  val inputRows: Long = PerOrg.toLong * Orgs + HistoryAccounts.toLong * (HistoryWindow - 1)

  def setup(): Unit = {
    val (accts, truth) = Gen.accounts(spark, PerOrg, Orgs, MatchRate, ctx.seed)
    accts.write.mode("overwrite").parquet(ctx.dir("in/accounts"))
    truth.write.mode("overwrite").parquet(ctx.dir("in/er_truth"))
    Gen.history(spark, HistoryAccounts, HistoryWindow, 3.0, ctx.seed)
      .write.mode("overwrite").parquet(ctx.dir("in/history"))
  }

  private var report: PipelineRunner.PipelineReport = _
  private var ndcg: Map[String, Double] = Map.empty

  def round(): Unit = {
    val accounts = t.span("sources.load") {
      spark.read.parquet(ctx.dir("in/accounts"))
    }
    val v = t.span("quality.validate") {
      val r = Contracts.validate(accounts, Contracts.accountContract)
      t.count("rows", r.rowCount)
      r
    }
    ctx.check(v.isValid, s"account contract: ${v.errors.mkString("; ")}")

    // cross-org ER: the primary CRM's accounts against every other org's
    val primary = accounts.filter(col("org") === "org0")
    val others = accounts.filter(col("org") =!= "org0")
    val cols = EntityResolution.AccountCols()
    t.span("er.block_stats") {
      val pairs = EntityResolution.blockPairStats(
          EntityResolution.prepSide(primary, cols, "a"),
          EntityResolution.prepSide(others, cols, "b"))
        .agg(sum("pairs")).head().getLong(0)
      t.count("block_pairs", pairs.toDouble)
    }
    t.span("er.resolve") {
      EntityResolution.resolve(primary, others)
        .write.mode("overwrite").parquet(ctx.dir("out/er_matches"))
    }

    report = t.span("pipeline.run") {
      PipelineRunner.run(spark, accounts.select(col("Id").as("id"),
          col("org"), col("Industry").as("industry"),
          col("BillingCountry").as("country"),
          col("NumberOfEmployees").as("employees"),
          col("CreatedDate").as("created"),
          col("LastActivityDate").as("last_activity"),
          col("AnnualRevenue").as("revenue")),
        java.sql.Date.valueOf("2024-01-01"), ctx.dir("out/pipeline"), TopK)
    }

    // the ensemble on the ledger's canonicalized split (partition-
    // independent metrics), at hyperparameters below even
    // MetricsLedger.orderingFixture's: see perfbench/README.md
    val feats = MetricsLedger.withPairFeatures(
      spark.read.parquet(ctx.dir("in/history")))
    val (train, test) = MetricsLedger.split(feats)
    val model = t.span("ml.fit") {
      new Ensemble(MetricsLedger.featureCols, numTrees = 5, rfDepth = 3,
        xgbIter = 2, gbtIter = 2, mlpIter = 3).fit(train)
    }
    t.span("ml.score") {
      model.scoreAll(test).select((Seq("account1_id", "account2_id", "label",
          "score") ++ MetricsLedger.featureCols).map(col): _*)
        .write.mode("overwrite").parquet(ctx.dir("out/scored"))
    }
    ndcg = t.span("evaluate") {
      val scored = spark.read.parquet(ctx.dir("out/scored"))
      def at10(df: DataFrame, score: String): Double =
        RankingMetrics.evaluate(df, col(score), col("label"),
            tieBreak = Seq(col("account1_id"), col("account2_id")),
            ks = Seq(10))
          .head().getAs[Double]("ndcg_at_10")
      Map(
        "ensemble" -> at10(scored, "score"),
        "random" -> at10(scored.withColumn("r", RankingMetrics.hashRandomScore(
          concat_ws("|", col("account1_id"), col("account2_id")))), "r"),
        "popularity" -> at10(scored.withColumn("p",
          RankingMetrics.popularityScore(col("rev_sum"))), "p"),
        "similarity" -> at10(RankingMetrics.withSimilarityScore(scored,
          MetricsLedger.featureCols.map(col), "s"), "s"))
    }
  }

  def verify(): Unit = {
    ctx.check(report.status == "success",
      s"pipeline: ${report.results.filter(_.status != "success")}")
    val matches = spark.read.parquet(ctx.dir("out/er_matches"))
      .select("account1_id", "account2_id")
    val truth = spark.read.parquet(ctx.dir("in/er_truth"))
    val tp = matches.join(truth, Seq("account1_id", "account2_id")).count()
    val (p, r) = (tp.toDouble / math.max(1L, matches.count()),
      tp.toDouble / math.max(1L, truth.count()))
    erF1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
    ctx.check(p >= MinPrecision && r >= MinRecall,
      f"ER precision $p%.3f / recall $r%.3f below $MinPrecision/$MinRecall")
    ctx.check(ndcg.values.forall(v => v >= 0.0 && v <= 1.0),
      s"ndcg@10 outside [0, 1]: $ndcg")
    val recs = spark.read.parquet(ctx.dir("out/pipeline/recommendations"))
    val h = recs.select(sum(xxhash64(recs.columns.map(col): _*).cast("decimal(38,0)")),
      count(lit(1))).head()
    val fp = s"${h.get(0)}/${h.getLong(1)}/" +
      f"${ndcg("ensemble")}%.9f/$tp"
    ctx.check(lastFingerprint.forall(_ == fp),
      s"recommendations differ between rounds: ${lastFingerprint.get} vs $fp")
    if (lastFingerprint.isEmpty) ctx.sameAsEarlierRuns("nightly_batch", "output", fp)
    lastFingerprint = Some(fp)
  }
  private var lastFingerprint: Option[String] = None
  private var erF1 = 0.0

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    import Layers._
    def stageMs(s: String) = report.results.find(_.stage == s)
      .map(r => (r.completedAtMs - r.startedAtMs).toDouble).getOrElse(0.0)
    val written = report.results.find(_.stage == "write").map(_.records).getOrElse(0L)
    // Candidates.candidatePairs joins each org's top-k with every later org's
    val pairs = {
      val k = math.min(TopK, PerOrg).toDouble
      k * k * Orgs * (Orgs - 1) / 2
    }
    val matches = spark.read.parquet(ctx.dir("out/er_matches")).count()
    val blockPairs = count(spans, "er.block_stats", "block_pairs", rounds)
    Map(
      "quality.validate_ms" -> ms(spans, "quality.validate", rounds),
      "quality.rows" -> count(spans, "quality.validate", "rows", rounds),
      "er.resolve_ms" -> (ms(spans, "er.resolve", rounds) + ms(spans, "er.block_stats", rounds)),
      "er.block_pairs" -> blockPairs,
      "er.matches" -> matches.toDouble,
      "er.match_frac" -> matches / math.max(1.0, blockPairs),
      "pipeline.validate_ms" -> stageMs("validate"),
      "pipeline.score_ms" -> stageMs("score"),
      "pipeline.write_ms" -> stageMs("write"),
      "pipeline.rows_written" -> written.toDouble,
      "candidates.pairs" -> pairs,
      "candidates.kept_frac" -> written / pairs,
      "ml.fit_ms" -> ms(spans, "ml.fit", rounds),
      "ml.fit_stages" -> spans.filter(_.name == "ml.fit").map(_.spark.stages).sum.toDouble / math.max(1, rounds),
      "ml.score_ms" -> ms(spans, "ml.score", rounds),
      "evaluate.ms" -> ms(spans, "evaluate", rounds),
      "check.er_f1" -> erF1,
      "check.ndcg_at_10" -> ndcg("ensemble"))
  }
}

object Nightly {
  val Orgs = 8
  val PerOrg = 1000
  val MatchRate = 0.3
  val TopK = 100
  val HistoryAccounts = 300
  val HistoryWindow = 30
  val MinPrecision = 0.5
  val MinRecall = 0.8
}
