package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Candidates, Features}
import graft.quality.Contracts
import graft.ml.Scoring

/**
 * End-to-end pipeline driver (reference: src/orchestrator.py
 * `run_pipeline` :136-181 — six fixed stages; sync-log bookkeeping
 * :208-252 S12; recommendation save :431-457 S11).
 *
 * Each stage is a DataFrame → DataFrame function; the chain materializes
 * once at the final write. Stage boundaries that were thread/process
 * hops in the reference (asyncio per org, DB round-trips) are shuffle
 * boundaries here, and only where the plan demands one (top-k window,
 * pair join). Sync-log rows are tiny driver-side metadata appends —
 * the one place a `collect`-free pipeline legitimately touches the
 * driver (record counts come from parquet footer metadata, not a second
 * data scan).
 */
object PipelineRunner {

  final case class StageResult(stage: String, status: String, records: Long,
                               startedAtMs: Long, completedAtMs: Long,
                               error: String = "")

  /** Delivery wiring for the post-run alert (reference:
    * orchestrator.py fires notifications.send_opportunity_alert after a
    * successful run and send_error_notification on failure). The sender
    * and outbox come from [[graft.serve.Notify]]; nothing here touches a
    * socket. */
  final case class NotifyConfig(
      sender: graft.serve.Notify.Sender, outboxDir: String,
      emailRecipients: Seq[String] = Nil, slack: Boolean = false,
      teams: Boolean = false, dashboardUrl: String = "http://localhost:8501")

  final case class PipelineReport(results: Seq[StageResult]) {
    def status: String =
      if (results.exists(_.status == "failed")) "failed" else "success"
  }

  /** Extract → validate → features → candidates → score → rank → write.
    *
    * `accounts` must carry: id, org, industry, country, employees,
    * created, last_activity, revenue (the Salesforce-shaped frame of
    * ErQueries.accounts / Synthetic.accounts, remapped).
    */
  def run(spark: SparkSession, accounts: DataFrame, asOf: java.sql.Date,
          outDir: String, topK: Int = 100, scoreThreshold: Double = 0.5,
          notify: Option[NotifyConfig] = None)
      : PipelineReport = {
    val results = scala.collection.mutable.ListBuffer[StageResult]()
    def stage[A](name: String)(body: => (A, Long)): Option[A] = {
      val t0 = System.currentTimeMillis()
      try {
        val (a, n) = body
        results += StageResult(name, "success", n, t0, System.currentTimeMillis())
        Some(a)
      } catch {
        case e: Exception =>
          results += StageResult(name, "failed", 0, t0,
            System.currentTimeMillis(), String.valueOf(e.getMessage))
          None
      }
    }

    val validated = stage("validate") {
      val contract = Contracts.DataContract(
        name = "accounts",
        requiredColumns = Seq("id", "org", "revenue"),
        columns = Seq(
          Contracts.ColumnContract("id", "string", nullable = false, unique = true),
          Contracts.ColumnContract("revenue", "numeric", minValue = Some(0))),
        minRows = 1)
      val v = Contracts.validate(accounts, contract)
      require(v.isValid, s"contract violations: ${v.errors.mkString("; ")}")
      (accounts, v.rowCount)
    }

    val scored = validated.flatMap { acc =>
      stage("score") {
        val pairs = Candidates.candidatePairs(acc, "org",
          Seq(col("revenue").desc, col("id").asc), topK)
        val feats = Features.withFeatures(pairs,
          Features.pairFeatures(lit(asOf).cast("timestamp")))
        // deterministic rule score (the model-free path; swap in a fitted
        // EnsembleModel.scoreAll for the ML path)
        val score = col("industry_match") * 0.35 +
          col("size_compatibility") * 0.30 + col("geo_proximity") * 0.20 +
          col("maturity_alignment") * 0.15
        val s = feats.withColumn("score", score)
          .withColumn("confidence", Scoring.confidenceLevelScoreOnly(col("score")))
          // the digest columns — q35's SHARED formulas (Scoring holds
          // the single definition the oracle-gated frame also reads)
          .withColumn("estimated_value",
            Scoring.estimatedPairValue(col("a_revenue"), col("b_revenue")))
          .withColumn("next_best_action", Scoring.nextBestAction(col("score")))
        (Candidates.prune(s, col("score"), scoreThreshold), -1L)
      }
    }

    scored.foreach { s =>
      stage("write") {
        val ranked = s.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("a_id").asc, col("b_id").asc)))
        ranked.write.mode("overwrite").parquet(s"$outDir/recommendations")
        // record count from the parquet footers — metadata-only, no
        // second scan of the data pages
        ((), graft.DriverOps.footerRows(spark.sessionState.newHadoopConf(),
          s"$outDir/recommendations"))
      }
    }

    // post-run alert (reference orchestrator.py): success → opportunity
    // digest to every channel, failure → error alert to admins. Goes
    // through the Notify outbox, so a re-run of the same pipeline output
    // dedups instead of re-spamming, and channel failures dead-letter
    // instead of vanishing. The notify stage itself is reported —
    // `records` = messages actually sent.
    notify.foreach { cfg =>
      import graft.serve.Notify
      stage("notify") {
        val interim = PipelineReport(results.toList)
        val msgs =
          if (interim.status == "success") {
            val recs = spark.read.parquet(s"$outDir/recommendations")
            val digest = Notify.digestOf(graft.serve.Serve.notifyDigest(
              recs, n = 5, tiebreak = Seq(col("a_id").asc, col("b_id").asc)))
            // an alert exists to announce opportunities; a successful run
            // that pruned to ZERO sends nothing (the reference's alert
            // layer fires only when there is something to say) — an
            // empty fan-out is channel noise, not information
            if (digest.nTotal == 0L) Nil
            else Notify.opportunityMessages(digest, cfg.emailRecipients,
              cfg.slack, cfg.teams, cfg.dashboardUrl)
          } else {
            val f = interim.results.find(_.status == "failed").get
            Notify.errorMessages(s"stage ${f.stage}: ${f.error}",
              java.time.Instant.ofEpochMilli(f.completedAtMs).toString,
              cfg.emailRecipients, cfg.slack)
          }
        val report = Notify.deliver(msgs, cfg.sender, cfg.outboxDir)
        ((), report.sent.toLong)
      }
    }

    PipelineReport(results.toList)
  }

  /**
   * Live-extract composition (reference run_pipeline's extract stage
   * against the REST connector): the [[graft.sources.ResilientClient]]
   * control plane pages the API into a staging directory of batch CSV
   * files, and the DSv2 [[graft.sources.BulkCsvSource]] data plane scans
   * them distributed, with predicate/projection pushdown. `call` is an
   * already-composed resilient call (bucket + auth + retry bound in).
   */
  def extractAccounts(spark: SparkSession,
                      call: graft.sources.ResilientClient.Request =>
                        graft.sources.ResilientClient.Response,
                      firstUrl: String,
                      parse: graft.sources.ResilientClient.Response =>
                        graft.sources.ResilientClient.Page,
                      stagingDir: String, schema: String): DataFrame = {
    graft.sources.ResilientClient.extractToStaging(
      call, firstUrl, parse, stagingDir)
    // the sentinel gate: a crashed extract's prefix must never be
    // consumed as a complete dataset (extractToStaging just succeeded
    // here, but the gate also protects re-reads of older staging)
    graft.sources.ResilientClient.assertComplete(stagingDir)
    spark.read.format(graft.sources.BulkCsvSource.format)
      .schema(schema).load(stagingDir)
  }

  /** Sync-log frame from a report (reference: orchestrator.py:208-252 —
    * running/completed/failed rows with record counts). */
  def syncLog(spark: SparkSession, report: PipelineReport): DataFrame = {
    import spark.implicits._
    report.results.toDF()
      .select(col("stage"), col("status"), col("records"), col("error"),
        timestamp_millis(col("startedAtMs")).as("started_at"),
        timestamp_millis(col("completedAtMs")).as("completed_at"))
  }
}
