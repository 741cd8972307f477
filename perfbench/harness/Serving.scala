package perfbench

/** online_serving: one round builds and stores the ANN index, then C
  * client threads, each waiting for its reply, run J API journeys each
  * against the served recommendations lake, every journey followed by one
  * semantic query against the fresh index. */
final class OnlineServing(ctx: Ctx) extends Workload {
  import OnlineServing._
  private val api = new ApiMixed(ctx, clients)
  private val ann = new Semantic(ctx)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
  private var journeys = 0L
  val inputRows: Long = Semantic.Vectors.toLong

  def setup(): Unit = { api.setup(); ann.setup() }

  def round(): RoundOut = roundOf(JourneysPerClient)

  /** The index build and one journey per client. Over five seeds, a full
    * warm-up round left the timed round's figures as spread, and cost each
    * run 10 s more. */
  override def warmUp(): RoundOut = roundOf(1)

  private def roundOf(perClient: Int): RoundOut = {
    ctx.tracer.span("ann.build") { ann.build() }
    val first = journeys
    journeys += clients * perClient
    val q0 = System.nanoTime()
    val futures = (0 until clients).map { c =>
      pool.submit(() => (1 to perClient).map { j =>
        val n = first + c * perClient + j
        // the journey's choices depend on its number only, so every seed
        // offers the same request mix
        (api.journey(c, n, new java.util.Random(n)), ann.clientQuery(n))
      })
    }
    val done = futures.flatMap(_.get())
    val web = done.flatMap(_._1)
    api.log(web)
    val ops = web.map(o => (o.ms, o.ok)) ++ done.map(_._2)
    RoundOut(ops.map(_._1), (System.nanoTime() - q0) / 1e9,
      inputRows + web.map(_.rows).sum, ops.size, ops.count(!_._2))
  }

  def verify(): Unit = ann.verify()

  override def verifyRun(): Unit = ann.verifyRun()

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] =
    api.layers(spans, rounds) ++ ann.layers(spans, rounds) +
      ("sources.load_ms" -> Main.median(spans.filter(_.name == "sources.load").map(_.ms)))

  def notCalled: Seq[String] = Seq("quality.", "er.", "pipeline.", "candidates.",
    "ml.", "evaluate.", "curation.", "dedup.", "check.er_f1", "check.ndcg_at_10")

  override def serialPass(): Map[String, Double] = api.serialPass() ++ ann.serialPass()

  override def close(): Unit = { pool.shutdownNow(); api.close() }
}

object OnlineServing {
  /** Client threads, an assumption: no source gives the concurrency of
    * the API's users. Four clients on a 4-core host interleaved their one
    * journey of a round differently from run to run. */
  val clients = 2
  /** Journeys each client runs in a timed round, after the index build. */
  val JourneysPerClient = 2
}

/** nightly_batch: the cross-sell nightly, then corpus curation, in a fresh
  * JVM as a scheduled batch runs. */
final class NightlyBatch(ctx: Ctx) extends Workload {
  private val crosssell = new Nightly(ctx)
  private val curation = new Curation(ctx)
  val inputRows: Long = crosssell.inputRows + curation.inputRows
  override def cold: Boolean = true

  def setup(): Unit = { crosssell.setup(); curation.setup() }

  def round(): RoundOut = {
    crosssell.round(); curation.round()
    RoundOut(Nil, 0.0, inputRows, 0, 0)
  }

  def verify(): Unit = { crosssell.verify(); curation.verify() }

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] =
    crosssell.layers(spans, rounds) ++ curation.layers(spans, rounds) +
      ("sources.load_ms" -> Layers.ms(spans, "sources.load", rounds))

  def notCalled: Seq[String] = Seq("serve.", "ann.", "sources.patch_",
    "sources.lake_files", "check.recall_at_10")
}
