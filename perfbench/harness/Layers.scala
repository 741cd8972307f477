package perfbench

/** Helpers for the per-layer metrics; their names are those of
  * BENCHMARK.json. */
object Layers {
  val curationStages: Seq[String] = Seq("quality", "boilerplate", "clean",
    "corpus", "perplexity", "tokenizer", "mix", "split", "packed")
  val routes: Seq[String] = Seq("list", "detail", "insights", "score",
    "patch", "export")

  /** Mean wall ms per round of the spans called `name`. */
  def ms(spans: Seq[Span], name: String, rounds: Int): Double =
    spans.filter(_.name == name).map(_.ms).sum / math.max(1, rounds)

  /** Mean per round of counter `key` over the spans called `name`. */
  def count(spans: Seq[Span], name: String, key: String, rounds: Int): Double =
    spans.filter(_.name == name).flatMap(_.counts.get(key)).sum / math.max(1, rounds)
}
