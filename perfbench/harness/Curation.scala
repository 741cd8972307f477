package perfbench

import graft.app.CurationRunner

/** The curation part of nightly_batch: CurationRunner over a seeded documents corpus with
  * near-duplicate clusters, shared footers and benchmark contamination. */
final class Curation(ctx: Ctx) {
  import Curation._
  private val spark = ctx.spark
  val inputRows: Long = Docs.toLong

  def setup(): Unit =
    Gen.documents(spark, Docs, ctx.seed)
      .write.mode("overwrite").parquet(ctx.dir("in/documents"))

  private var report: CurationRunner.CurationReport = _

  def round(): Unit = {
    val docs = ctx.tracer.span("sources.load") {
      spark.read.parquet(ctx.dir("in/documents"))
    }
    report = ctx.tracer.span("curation.run") {
      // per-source token budgets that keep about half of the filtered
      // corpus, so the split and packing stages see real input
      CurationRunner.run(spark, docs, ctx.dir("out/curation"),
        defaultBudget = TokenBudget)
    }
  }

  private var lastCounts: Option[Seq[Long]] = None

  def verify(): Unit = {
    ctx.check(report.status == "success",
      s"curation: ${report.results.filter(_.status != "success")}")
    val counts = Layers.curationStages.map(report.count)
    // the funnel narrows through the document stages; packing then groups
    // the train split's documents into sequences
    val funnel = counts.dropRight(1)
    ctx.check(funnel.head > 0 && funnel.zip(funnel.tail).forall { case (a, b) => a >= b } &&
      counts.last <= funnel.last,
      s"curation funnel does not narrow: ${Layers.curationStages.zip(counts)}")
    ctx.check(counts.forall(_ > 0), s"a curation stage emptied the corpus: $counts")
    ctx.check(counts(3) < counts(2), s"near-duplicate clusters were not deduplicated: $counts")
    ctx.check(counts(2) < counts(1), s"contaminated documents were not removed: $counts")
    ctx.check(lastCounts.forall(_ == counts),
      s"stage counts differ between rounds: ${lastCounts.get} vs $counts")
    if (lastCounts.isEmpty)
      ctx.sameAsEarlierRuns("nightly_batch", "stage_counts", counts.mkString(","))
    lastCounts = Some(counts)
  }

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    val stages = Layers.curationStages.flatMap { s =>
      val r = report.results.find(_.stage == s)
      Seq(s"curation.${s}_ms" -> r.map(x => (x.completedAtMs - x.startedAtMs).toDouble).getOrElse(0.0),
        s"curation.${s}_rows" -> r.map(_.records.toDouble).getOrElse(0.0))
    }.toMap
    stages ++ Map(
      "dedup.drop_frac" -> (1.0 - report.count("corpus").toDouble /
        math.max(1L, report.count("clean"))))
  }
}

object Curation {
  val Docs = 1000
  val TokenBudget = 5000L
}
