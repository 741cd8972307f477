package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.app.PipelineRunner
import graft.evaluate.MetricsLedger
import graft.ml.{NewtonBoost, Registry}
import graft.serve.{ApiShell, HttpAdapter, OpsMetrics}
import graft.serve.ApiShell._
import graft.sources.{Layout, ResilientClient}

/** The API part of online_serving: each client, on its own keep-alive
  * connection with its own token, runs the reference user journey with no
  * think time: list (filter, sort, page), detail of a listed row, PATCH
  * with read-back, CSV export, insights, then score. The HTTP routes go
  * through HttpAdapter; insights and score have no HTTP route, so clients
  * call the same Shell in process. */
final class ApiMixed(ctx: Ctx, clients: Int) {
  import ApiMixed._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val lake = ctx.dir("lake/recommendations")
  private val asOf = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")

  private object WallClock extends ResilientClient.Clock {
    def nowMs: Long = System.currentTimeMillis()
    def sleepMs(ms: Long): Unit = Thread.sleep(ms)
  }

  private val recorder = new OpsMetrics.Recorder()
  private val users = new UserStore
  (0 until clients).foreach(i => users.put(User(s"rep$i", s"pw$i", "sales")))
  // Layout.patchRow deletes the files it rewrites, so a read whose plan
  // listed them fails (FILE_NOT_EXIST), and its marker transaction assumes
  // one writer: a PATCH runs alone, reads run beside each other. Clients
  // take the lock per request, inside the time they wait for the reply.
  private val lakeLock = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
  private def locked[A](write: Boolean)(f: => A): A = {
    val l = if (write) lakeLock.writeLock else lakeLock.readLock
    l.lock()
    try f finally l.unlock()
  }
  private val patchStats = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Int)]()
  private var columns: Set[String] = Set.empty

  private lazy val shell = new Shell(
    t.span("sources.load") { spark.read.parquet(lake) }, users,
    new TokenService("perfbench-secret", WallClock), WallClock,
    // explicitly far above the offered load: the default 100/min per
    // token would turn the loop into a measurement of fast 429s
    callsPerMinute = 10000000,
    scoreExprs0 = ApiShell.registryScoreExprs(spark, ctx.dir("registry")),
    onUpdate = (id, m) => {
      val t0 = System.nanoTime()
      val st = t.span("sources.patch") {
        Layout.patchRow(spark, lake, "id", id,
          m.filter { case (k, _) => columns.contains(k) }
            .map { case (k, v) => k -> lit(v) })
      }
      patchStats.add(((System.nanoTime() - t0) / 1e6, st.filesRewritten))
      true
    },
    recorder = Some(recorder))
  private var server: HttpAdapter.Handle = _
  private var base = ""
  private var tokens: IndexedSeq[String] = IndexedSeq.empty
  private val http = IndexedSeq.fill(clients)(
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

  // the nightly's products the API serves, made once per run before the
  // timed set-ups: its recommendations and a scoring model
  private val nightly = ctx.dir("nightly")
  private val modelPath = ctx.dir("model.json")
  locally {
    val (accts, _) = Gen.accounts(spark, PerOrg, Orgs, 0.3, ctx.seed)
    val report = PipelineRunner.run(spark, accts.select(col("Id").as("id"),
        col("org"), col("Industry").as("industry"),
        col("BillingCountry").as("country"),
        col("NumberOfEmployees").as("employees"),
        col("CreatedDate").as("created"),
        col("LastActivityDate").as("last_activity"),
        col("AnnualRevenue").as("revenue")),
      java.sql.Date.valueOf("2024-01-01"), nightly, TopK)
    require(report.status == "success", s"nightly pipeline failed: ${report.results}")
    NewtonBoost.fit(MetricsLedger.withPairFeatures(Gen.history(spark, 200, 20, 3.0, ctx.seed)),
        MetricsLedger.featureCols, "label",
        NewtonBoost.Params(rounds = 1, maxDepth = 2, learningRate = 0.3))
      .save(modelPath)
  }

  /** Lands the nightly output as the serving lake, registers the model in
    * production, and on the first call starts the server and logs the
    * clients in. */
  def setup(): Unit = {
    spark.read.parquet(s"$nightly/recommendations")
      .select(col("rank").cast("long").as("id"), col("score"), col("confidence"),
        when(col("score") > 0.7, "Industry Expansion")
          .otherwise("Market Development").as("recommendation_type"),
        col("a_org").as("org1_id"), col("b_org").as("org2_id"),
        col("a_id").as("account1_id"), col("b_id").as("account2_id"),
        (lit(asOf.getTime / 1000) - (col("rank") % 28) * 86400)
          .cast("timestamp").as("created_at"),
        col("estimated_value"), col("next_best_action"),
        lit("new").as("status"), lit("").as("notes"), lit("").as("updated_at"))
      .repartition(LakeFiles, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(lake)
    val landed = spark.read.parquet(lake)
    columns = landed.columns.toSet
    Registry.register(spark, ctx.dir("registry"), s"v${System.nanoTime()}",
      modelPath, "production")

    if (server == null) {
      server = HttpAdapter.start(shell, 0, ctx.dir("export"))
      base = s"http://127.0.0.1:${server.port}"
      tokens = (0 until clients).map { i =>
        val r = send(i, "POST", "/api/auth/token", s"username=rep$i&password=pw$i", None)
        require(r.statusCode() == 200, s"login failed: ${r.body()}")
        "\"result\":\"([^\"]+)\"".r.findFirstMatchIn(r.body()).get.group(1)
      }
    }
  }

  private def send(client: Int, method: String, path: String, body: String,
                   token: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .method(method, if (body == null) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
    token.foreach(x => b.header("Authorization", s"Bearer $x"))
    http(client).send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  final case class Op(route: String, ms: Double, rows: Long, ok: Boolean,
                      rejected: Boolean)

  /** One journey of client `c`; `n` numbers the journeys of a run. */
  def journey(c: Int, n: Long, r: java.util.Random): Seq[Op] = {
    val tok = Some(tokens(c))
    val ops = Seq.newBuilder[Op]
    def rowsIn(s: String) = "\"id\":".r.findAllMatchIn(s).size.toLong
    def http(route: String, method: String, path: String, body: String = null)
        : HttpResponse[String] = {
      val t0 = System.nanoTime()
      val resp = t.span(s"serve.$route", n) {
        locked(method == "PATCH") { send(c, method, path, body, tok) }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = resp.statusCode() == 200
      if (!ok) System.err.println(s"perfbench: $method $path -> ${resp.statusCode()} ${resp.body().take(300)}")
      ops += Op(route, ms, rowsIn(resp.body()), ok, resp.statusCode() == 429)
      resp
    }
    def local(route: String)(f: => Result): Unit = {
      val t0 = System.nanoTime()
      val (ok, rows) = t.span(s"serve.$route", n) {
        locked(write = false) {
          f match {
            case Ok(df) => (true, df.toJSON.collect().length.toLong)
            case OkSections(s) => (true, s.values.map(_.toJSON.collect().length.toLong).sum)
            case other =>
              System.err.println(s"perfbench: $route -> $other"); (false, 0L)
          }
        }
      }
      ops += Op(route, (System.nanoTime() - t0) / 1e6, rows, ok, false)
    }
    // the reference user journey (ApiJourneySpec): list, open a listed
    // recommendation, convert it, export, insights; score has no place in
    // it and is asked once a journey, an assumption
    val listed = http("list", "GET", "/api/recommendations?min_score=0.5&sort_by=score" +
      s"&sort_order=desc&limit=10&offset=${r.nextInt(PageOffsets) * 10}")
    val ids = "\"id\":(\\d+)".r.findAllMatchIn(listed.body()).map(_.group(1).toLong).toVector
    ctx.check(ids.nonEmpty, s"list returned no rows: ${listed.body().take(300)}")
    val id = if (ids.isEmpty) 1L else ids(r.nextInt(ids.size))
    http("detail", "GET", s"/api/recommendations/$id")
    val status = Statuses(r.nextInt(Statuses.size))
    val note = s"journey $n client $c"
    http("patch", "PATCH", s"/api/recommendations/$id",
      s"""{"status":"$status","notes":"$note"}""")
    val back = http("detail", "GET", s"/api/recommendations/$id")
    ctx.check(back.body().contains(s""""status":"$status"""") &&
      back.body().contains(note), s"PATCHed row $id did not read back: ${back.body().take(300)}")
    http("export", "GET", "/api/export/csv?min_score=0.5")
    local("insights") {
      shell.insights(30, asOf, tok, industry = col("recommendation_type"))
    }
    local("score") {
      import spark.implicits._
      shell.score(Seq((r.nextInt(2).toDouble, r.nextDouble(), r.nextInt(2).toDouble,
          r.nextInt(2).toDouble, 20 + 10 * r.nextDouble()))
        .toDF(MetricsLedger.featureCols: _*), bearer = tok)
    }
    ops.result()
  }

  private val opsLog = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  def log(ops: Seq[Op]): Unit = ops.foreach(opsLog.add)

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    // every request the server's recorder saw, so both sides of the
    // transport difference cover the same requests
    val ops = opsLog.asScala.toSeq
    val server = recorder.snapshot
    def serverP50(route: String, method: String) =
      Main.median(server.filter(m => m.route == route && m.method == method).map(_.latency_ms))
    val byRoute = Map(
      "list" -> serverP50("/api/recommendations", "GET"),
      "detail" -> serverP50("/api/recommendations/{id}", "GET"),
      "patch" -> serverP50("/api/recommendations/{id}", "PATCH"),
      "export" -> serverP50("/api/export/{format}", "GET"),
      "insights" -> Main.median(spans.filter(_.name == "serve.insights").map(_.ms)),
      "score" -> Main.median(spans.filter(_.name == "serve.score").map(_.ms)))
    val patches = patchStats.asScala.toSeq
    val lakeFiles = new java.io.File(lake).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    byRoute.map { case (k, v) => s"serve.${k}_ms" -> v } ++ Map(
      "serve.transport_ms" -> (Main.median(ops.filter(_.route == "list").map(_.ms)) -
        byRoute("list")),
      "serve.rejected" -> ops.count(_.rejected).toDouble,
      "sources.patch_ms" -> Main.median(patches.map(_._1)),
      "sources.patch_files_rewritten" -> Main.median(patches.map(_._2.toDouble)),
      "sources.lake_files" -> lakeFiles.toDouble)
  }

  /** One journey alone, so each route's Spark jobs are its own. */
  def serialPass(): Map[String, Double] = {
    val before = t.all.size
    journey(0, 1000000L, new java.util.Random(ctx.seed))
    val spans = t.all.drop(before)
    Layers.routes.map { r =>
      val s = spans.filter(_.name == s"serve.$r")
      s"serve.${r}_jobs" -> (if (s.isEmpty) 0.0 else s.map(_.spark.jobs).sum.toDouble / s.size)
    }.toMap
  }

  def close(): Unit = if (server != null) server.stop()
}

object ApiMixed {
  val Orgs = 8
  val PerOrg = 300
  val TopK = 40
  val LakeFiles = 8
  /** A journey lists one of the first pages of ten. */
  val PageOffsets = 20
  val Statuses = Vector("contacted", "qualified", "converted", "dismissed")
}
