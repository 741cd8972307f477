package graft.serve

import org.apache.spark.sql.DataFrame

import graft.sources.ResilientClient.{Clock, TokenBucket}

/**
 * Driver-side serving shell over the engine's filter/sort/page/export
 * surface — the reference's API layer re-expressed without an HTTP
 * framework (reference `src/api/main.py`): bearer-token auth with
 * signed expiring tokens (`create_access_token` :227-233, `login`
 * :330-341, `verify_token` :242-268 incl. the user-still-exists
 * check), per-identifier rejecting rate limiting (`get_identifier` +
 * Limiter :61-77 — keyed by bearer token, else client host, else
 * "anonymous"; over-limit requests get 429, they do not queue), the
 * filtered recommendation listing (:432-478) and export (:794-857 —
 * csv/excel/json, 400 otherwise).
 *
 * The HTTP transport is [[HttpAdapter]] — a JDK-only
 * (`com.sun.net.httpserver`) binding proven end-to-end over a real
 * localhost socket by `ApiShellHttpSpec` (login → list → patch →
 * export → 429). Everything a transport delegates to — admission,
 * authn, the query compile, pagination, serialization — lives HERE and
 * is spec-driven (`ApiShellSpec`); the engine side stays [[Serve]].
 *
 * Scale: policy state (users, buckets) is driver-side and O(clients);
 * every data operation is a Spark plan over the recommendations frame.
 * One route collects: `insights` runs its aggregates as one pass and
 * returns the sections as local frames, collecting at most
 * [[MaxInsightRows]] aggregate rows plus the 5-row top list; more groups
 * than that fail the request with a message naming the bound.
 */
object ApiShell {

  /** The most rows `insights`' aggregate pass may collect: the summary, one
    * per industry and per action, and one per trend day (≤ 366). */
  val MaxInsightRows = 10000

  final case class User(username: String, password: String, role: String)

  /** In-memory user registry (the reference's `users` table; the DB is
    * storage detail — the POLICY the shell reproduces is that token
    * verification re-checks existence, so deleting a user revokes
    * outstanding tokens, main.py:256-263). */
  final class UserStore {
    private val users = scala.collection.mutable.Map[String, User]()
    def put(u: User): Unit = synchronized { users(u.username) = u }
    def delete(username: String): Unit = synchronized { users -= username }
    def get(username: String): Option[User] = synchronized {
      users.get(username)
    }
  }

  /** HMAC-SHA256 compact tokens (the reference's HS256 JWT,
    * main.py:101-102,227-233): base64url(header).base64url(payload).sig
    * with `sub`/`role`/`exp` claims; verification recomputes the
    * signature (constant-time compare) and enforces expiry. */
  final class TokenService(secret: String, clock: Clock,
                           expirationHours: Int = 24) {
    private def b64(b: Array[Byte]): String =
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
    private def hmac(data: String): Array[Byte] = {
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(
        secret.getBytes("UTF-8"), "HmacSHA256"))
      mac.doFinal(data.getBytes("UTF-8"))
    }

    // Claim strings are JSON-escaped on issue and the verifier parses
    // the payload positionally (anchored full-match, escape-aware), so
    // a username containing '"' or JSON fragments cannot inject claim
    // text into a signed token. Escape table shared with every other
    // hand-built JSON in the layer ([[Json]]).
    private def jsonEscape(s: String): String = Json.escape(s)
    private def jsonUnescape(s: String): String = Json.unescape(s)

    def issue(sub: String, role: String): String = {
      val header = b64("""{"alg":"HS256","typ":"JWT"}""".getBytes("UTF-8"))
      val exp = clock.nowMs / 1000 + expirationHours.toLong * 3600
      val payload = b64(
        s"""{"sub":"${jsonEscape(sub)}","role":"${jsonEscape(role)}","exp":$exp}"""
          .getBytes("UTF-8"))
      val body = s"$header.$payload"
      s"$body.${b64(hmac(body))}"
    }

    private val PayloadShape =
      """\{"sub":"((?:[^"\\]|\\.)*)","role":"((?:[^"\\]|\\.)*)","exp":([0-9]+)\}""".r

    /** Right((sub, role)) or Left(reason) — reasons mirror the
      * reference's 401 details. */
    def verify(token: String): Either[String, (String, String)] = {
      token.split('.') match {
        case Array(h, p, sig) =>
          val expected = hmac(s"$h.$p")
          val given =
            try java.util.Base64.getUrlDecoder.decode(sig)
            catch { case _: IllegalArgumentException => Array.empty[Byte] }
          if (!java.security.MessageDigest.isEqual(expected, given))
            Left("Invalid token")
          else {
            val payload =
              try new String(java.util.Base64.getUrlDecoder.decode(p), "UTF-8")
              catch { case _: IllegalArgumentException => "" }
            payload match {
              case PayloadShape(sub, role, exp) =>
                if (exp.toLong < clock.nowMs / 1000) Left("Token expired")
                else Right((jsonUnescape(sub), jsonUnescape(role)))
              case _ => Left("Invalid authentication credentials")
            }
          }
        case _ => Left("Invalid token")
      }
    }
  }

  /**
   * Registry-driven model resolution for [[Shell]] scoring: read the
   * manifest at `registryDir`, load the PRODUCTION version's NewtonBoost
   * artifact, and compile it to the point-scoring expressions — so an
   * A/B promote (the q152 protocol → `Registry.promote`) flips what the
   * live `/api/score` serves, with no shell restart. No production
   * version → empty exprs → the Shell's untrained 0.5 fallback
   * (main.py:604-607).
   *
   * The compiled exprs are cached per (version, artifact path): a
   * promote changes the production version, which misses the cache and
   * loads the new artifact; repeat requests under one version never
   * re-read the manifest's model file. The manifest itself is re-read
   * per request — it is one tiny JSON file, and its freshness IS the
   * feature.
   */
  def registryScoreExprs(spark: org.apache.spark.sql.SparkSession,
                         registryDir: String)
      : Seq[(String, org.apache.spark.sql.Column)] =
    graft.ml.Registry.read(spark, registryDir).production match {
      case None => Nil
      case Some(e) =>
        val key = s"${e.version}@${e.path}"
        modelCache.getOrElseUpdate(key,
          Seq("score" -> graft.ml.NewtonBoost.load(e.path).score))
    }

  private val modelCache =
    scala.collection.concurrent.TrieMap[
      String, Seq[(String, org.apache.spark.sql.Column)]]()

  sealed trait Result
  /** 200 with a frame — the transport would serialize it. */
  final case class Ok(df: DataFrame) extends Result
  /** 200 with a small text body (token grants, export paths, health). */
  final case class OkText(body: String) extends Result
  /** 200 with a multi-section response (the insights endpoint bundles
    * summary + top list + breakdowns + trend in one payload). */
  final case class OkSections(sections: Map[String, DataFrame]) extends Result
  /** Non-2xx with the reference's status + detail. */
  final case class ApiError(status: Int, detail: String) extends Result

  /**
   * The request surface. `recs` is the recommendations frame the
   * listing/export endpoints serve (reference: the
   * cross_sell_recommendations table). Column conventions are
   * [[Serve.compile]]'s defaults.
   */
  /**
   * @param scoreExprs the point-scoring expressions ([[Serve.scoreOne]]
   *   shape) — must yield a `score` column; any other produced columns
   *   are treated as per-model scores and surfaced only under
   *   `include_explanation` (main.py:629-634). Empty = untrained
   *   fallback (score 0.5, main.py:604-607).
   * @param accounts optional (account_id, summary) frame backing
   *   GET /api/accounts/{id}/summary.
   * @param onUpdate mutation callback for PATCH — production wiring is a
   *   `Layout.patchRow` point update on the recommendations table
   *   (the q151 path); the shell enforces auth, existence, and the
   *   status→timestamp policy, and hands the stamped column map over.
   *   Returns false on store failure (→ 500).
   */
  final class Shell(recs0: => DataFrame, users: UserStore,
                    tokens: TokenService, clock: Clock,
                    callsPerMinute: Int = 100,
                    scoreExprs0: => Seq[(String, org.apache.spark.sql.Column)] = Nil,
                    accounts: Option[DataFrame] = None,
                    onUpdate: (Long, Map[String, String]) => Boolean =
                      (_, _) => false,
                    recorder: Option[OpsMetrics.Recorder] = None) {
    import org.apache.spark.sql.functions._

    /** BY-NAME like `recs`: the scoring expressions are RESOLVED PER
      * REQUEST, so a registry-backed caller ([[registryScoreExprs]])
      * makes promote/rollback change what serves immediately — the
      * reference's ABTestManager.promote_model intent
      * (feedback_logging.py:572-595), but against the durable manifest
      * instead of an in-memory traffic dict. Literal callers are
      * unaffected (a constant Seq re-evaluates to itself). */
    private def scoreExprs: Seq[(String, org.apache.spark.sql.Column)] =
      scoreExprs0

    /** BY-NAME on purpose: the recommendations table is MUTABLE (the
      * PATCH endpoint rewrites lake files through the Layout
      * transaction), and a DataFrame captures its file listing at
      * construction — a shell holding one frame for its lifetime would
      * resolve deleted files after the first update
      * (`ApiJourneySpec` proves the round trip). Each request re-plans;
      * at catalog scale this is the metastore-backed relation whose
      * listing refresh the maintenance job triggers. */
    private def recs: DataFrame = recs0

    private val buckets =
      scala.collection.mutable.Map[String, TokenBucket]()

    /** Reference get_identifier (main.py:63-70): bearer token if
      * present, else client host, else "anonymous". */
    private def identifier(bearer: Option[String],
                           clientHost: Option[String]): String =
      bearer.orElse(clientHost).getOrElse("anonymous")

    private def admit(bearer: Option[String],
                      clientHost: Option[String]): Boolean = {
      val key = identifier(bearer, clientHost)
      val bucket = synchronized {
        buckets.getOrElseUpdate(key, new TokenBucket(callsPerMinute, clock))
      }
      bucket.tryAcquire()
    }

    /** POST /api/auth/token (main.py:330-341). The reference's default
      * limiter applies to every non-exempt route — only /api/health is
      * `@limiter.exempt` — so login admits through the same bucket,
      * keyed by client host (no bearer exists yet); unlimited login
      * would otherwise allow brute-forcing the password compare. */
    def login(username: String, password: String,
              clientHost: Option[String] = None): Result =
      if (!admit(None, clientHost)) ApiError(429, "Rate limit exceeded")
      else users.get(username) match {
        case Some(u) if u.password == password =>
          OkText(tokens.issue(u.username, u.role))
        case _ => ApiError(401, "Incorrect username or password")
      }

    /** Limiter-then-auth, the reference's middleware order: over-limit
      * requests 429 before the token is even inspected; then signature/
      * expiry, then the user-still-exists revocation check. */
    private def guarded(bearer: Option[String], clientHost: Option[String])
                       (f: (String, String) => Result): Result = {
      if (!admit(bearer, clientHost))
        ApiError(429, "Rate limit exceeded")
      else bearer match {
        case None => ApiError(401, "Not authenticated")
        case Some(t) => tokens.verify(t) match {
          case Left(reason) => ApiError(401, reason)
          case Right((sub, _)) => users.get(sub) match {
            case None => ApiError(401, "Invalid authentication credentials")
            // The role comes from the STORE, not the token claim — the
            // reference's verify_token returns user_obj.role re-read per
            // request (main.py:268), so a demotion takes effect
            // immediately instead of riding the token for 24h.
            case Some(u) => f(sub, u.role)
          }
        }
      }
    }

    /** Parse the reference's OpportunityFilter query params
      * (main.py:156-168). Bad values are a 400, not a crash. */
    private def parseFilter(params: Map[String, String])
        : Either[Result, Serve.RecFilter] =
      try Right(Serve.RecFilter(
        minScore = params.get("min_score").map(_.toDouble),
        maxScore = params.get("max_score").map(_.toDouble),
        confidenceLevels = params.get("confidence_levels")
          .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        recommendationTypes = params.get("recommendation_types")
          .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        orgIds = params.get("org_ids")
          .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
        createdFrom = params.get("date_from")
          .map(java.sql.Timestamp.valueOf),
        createdTo = params.get("date_to")
          .map(java.sql.Timestamp.valueOf)))
      catch {
        case e: IllegalArgumentException =>
          Left(ApiError(400, s"Invalid filter parameter: ${e.getMessage}"))
      }

    private def compiled(params: Map[String, String])
        : Either[Result, DataFrame] =
      parseFilter(params).flatMap { f =>
        try {
          val filtered = recs.filter(Serve.compile(f))
          Right(Serve.page(filtered,
            sortBy = params.getOrElse("sort_by", "score"),
            ascending = params.get("sort_order").contains("asc"),
            limit = params.get("limit").map(_.toInt).getOrElse(100),
            offset = params.get("offset").map(_.toInt).getOrElse(0)))
        } catch {
          case e: NumberFormatException =>
            Left(ApiError(400, s"Invalid paging parameter: ${e.getMessage}"))
        }
      }

    /** GET /api/recommendations (main.py:432-478). */
    def recommendations(params: Map[String, String],
                        bearer: Option[String],
                        clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        compiled(params).fold(identity, Ok(_))
      }

    /** GET /api/export/{format} (main.py:794-857): csv/excel/json over
      * the SAME filter+page compile; anything else is a 400. Writes to
      * `path`, returns it. */
    def export(format: String, path: String, params: Map[String, String],
               bearer: Option[String],
               clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        if (!Set("csv", "excel", "json").contains(format))
          ApiError(400, "Format must be csv, excel, or json")
        else compiled(params).fold(identity, { df =>
          format match {
            case "csv" => Serve.exportCsv(df, path)
            case "json" => Serve.exportJson(df, path)
            case "excel" => Serve.exportExcel(df, path)
          }
          OkText(path)
        })
      }

    /** GET /api/health (main.py:302) — unauthenticated, unlimited. */
    def health: Result = OkText("""{"status":"healthy"}""")

    /** The ops ledger this shell serves metrics over — the transport
      * adapter reads it from HERE (one wiring point; a second recorder
      * instance passed to the adapter could silently diverge from the
      * one /api/metrics rolls up). */
    private[serve] def opsRecorder: Option[OpsMetrics.Recorder] = recorder

    /** GET /api/metrics — the Grafana panel rollup (success rate, error
      * rate, exact p95 latency, request/row counts per route template)
      * over the transport's request ledger; guarded like every
      * non-health route. 404 when the deployment wired no recorder —
      * an absent observability surface must be loud, not an empty
      * frame that reads as "zero traffic". Every row carries the
      * recorder's truncation signal (`window_dropped` rows evicted by
      * the capacity bound, `window_oldest_ts_ms` left edge of the
      * surviving history) so a consumer can tell a bounded window from
      * full history. */
    def metrics(bearer: Option[String],
                clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        recorder match {
          case None => ApiError(404, "Metrics not enabled")
          case Some(r) =>
            Ok(OpsMetrics.rollup(r.toDF(recs.sparkSession))
              .withColumn("window_dropped", lit(r.dropped))
              .withColumn("window_oldest_ts_ms",
                lit(r.oldestRetainedTsMs.map(Long.box).orNull)
                  .cast("long"))
              .orderBy("route"))
        }
      }

    /** GET /api/auth/me — the authenticated identity as the HANDLERS see
      * it: sub from the verified token, role re-read from the store
      * (main.py:268 returns user_obj.role, not the claim). Exists so the
      * role-freshness policy is observable/testable at the surface. */
    def whoami(bearer: Option[String],
               clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (sub, role) =>
        // same escape as token issuance: a username that round-trips
        // through a token must not inject duplicate keys here either
        OkText(
          s"""{"username":"${Json.escape(sub)}","role":"${Json.escape(role)}"}""")
      }

    /** GET /api/recommendations/{id} (main.py:515-552). The existence
      * probe is a point lookup; at table scale this is the
      * Layout-bucketed point read, not a full scan. */
    def recommendation(id: Long, bearer: Option[String],
                       clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        val one = recs.filter(col("id") === id)
        if (one.isEmpty) ApiError(404, "Recommendation not found")
        else Ok(one)
      }

    /** PATCH /api/recommendations/{id} (main.py:554-587): status /
      * assigned_to / notes updates; `status = "converted"` additionally
      * stamps `actioned_at`, and every update stamps `updated_at`
      * (main.py:575-582) — both from the shell clock, ISO-8601. The
      * write itself goes through `onUpdate`. */
    def updateRecommendation(id: Long, update: Map[String, String],
                             bearer: Option[String],
                             clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        if (recs.filter(col("id") === id).isEmpty)
          ApiError(404, "Recommendation not found")
        else {
          val allowed = update.view
            .filterKeys(Set("status", "assigned_to", "notes")).toMap
          val now = java.time.Instant.ofEpochMilli(clock.nowMs).toString
          val stamped = allowed ++
            (if (allowed.get("status").contains("converted"))
              Map("actioned_at" -> now) else Map.empty) +
            ("updated_at" -> now)
          if (onUpdate(id, stamped))
            OkText("Recommendation updated successfully")
          else ApiError(500, "Failed to update recommendation")
        }
      }

    /** POST /api/score (main.py:589-641): the engine's point-scoring
      * path ([[Serve.scoreOne]] — the same expression graph as the
      * batch scorer on a 1-row frame) wrapped in the reference's
      * response policy: confidence bands >0.8/>0.7/>0.6
      * (main.py:609-617 — the API's own bands, distinct from the
      * pipeline's bucketing), estimated_value = 100000·score (:623),
      * next action gated at 0.7 (:624-626), per-model scores only
      * under include_explanation (:629-634), untrained fallback 0.5
      * (:604-607). */
    def score(pair: DataFrame, includeExplanation: Boolean = false,
              bearer: Option[String] = None,
              clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        // bind the by-name thunk ONCE per request: a registry-backed
        // provider must not be re-read between the emptiness check, the
        // scoring fold, and the explanation column list (a promote /
        // demote landing mid-request would mix two registry states —
        // worst case scoreOne folds zero exprs and the confidence
        // expression throws on the missing score column)
        val exprs = scoreExprs
        val scored =
          if (exprs.nonEmpty) Serve.scoreOne(pair, exprs)
          else pair.withColumn("score", lit(0.5))
        val modelCols = exprs.map(_._1).filter(_ != "score")
        val out = scored
          .withColumn("confidence_level",
            when(col("score") > 0.8, "Very High")
              .when(col("score") > 0.7, "High")
              .when(col("score") > 0.6, "Medium")
              .otherwise("Low"))
          .withColumn("recommendation_type", lit("Industry Expansion"))
          .withColumn("estimated_value", col("score") * 100000)
          .withColumn("next_best_action",
            when(col("score") > 0.7, "Schedule introduction call")
              .otherwise("Add to nurture campaign"))
        Ok(if (includeExplanation) out else out.drop(modelCols: _*))
      }

    /** GET /api/insights (main.py:644-778): one bundled response —
      * summary stats, top-5 opportunities, industry breakdown, action
      * distribution, daily trend — all over the days_back window
      * anchored at `asOf` (frozen, never wall-clock: the A6
      * discipline). days_back validated 1..365 (:646, FastAPI 422).
      *
      * The summary, both breakdowns and the trend are ONE `groupingSets`
      * aggregate over [[Serve]]'s own aggregate columns, split on the
      * driver by `grouping_id()`; it runs concurrently with the top-5
      * page. Each section is a local frame with its per-section plan's
      * schema (a NULL breakdown key stays its own group). The aggregate
      * collects at most [[MaxInsightRows]] rows. */
    def insights(daysBack: Int, asOf: java.sql.Timestamp,
                 bearer: Option[String],
                 clientHost: Option[String] = None,
                 industry: org.apache.spark.sql.Column = col("org1_industry"),
                 action: org.apache.spark.sql.Column = col("next_best_action"))
        : Result =
      guarded(bearer, clientHost) { (_, _) =>
        if (daysBack < 1 || daysBack > 365)
          ApiError(422, "days_back must be between 1 and 365")
        else {
          val cutoff = new java.sql.Timestamp(
            asOf.getTime - daysBack.toLong * 86400 * 1000)
          OkSections(insightSections(
            recs.filter(col("created_at") >= cutoff), daysBack, asOf,
            industry, action))
        }
      }

    private def insightSections(windowed: DataFrame, daysBack: Int,
                                asOf: java.sql.Timestamp,
                                industry: org.apache.spark.sql.Column,
                                action: org.apache.spark.sql.Column)
        : Map[String, DataFrame] = {
      import org.apache.spark.sql.Row
      import scala.jdk.CollectionConverters._
      val createdAt = col("created_at")
      // the per-section plans give each section its schema; only the
      // summary of an empty window is ever executed from them
      val summary = Serve.insightsSummary(windowed)
      val byIndustry = Serve.breakdown(windowed, industry)
      val byAction = Serve.breakdown(windowed, action)
      val trend = Serve.dailyTrend(windowed, createdAt, lit(asOf), daysBack)
      val top = Serve.page(windowed, "score", ascending = false, limit = 5,
        offset = 0)
      val sAggs = Serve.summaryAggs()
      val bAggs = Serve.breakdownAggs()
      val tAggs = Serve.trendAggs()
      // a row outside the trend's window has a NULL day, a group the
      // trend drops (created_at is never NULL inside the window)
      val keys = Seq(industry.as("_ind"), action.as("_act"),
        when(Serve.inTrend(createdAt, lit(asOf), daysBack),
          Serve.trendDay(createdAt)).as("_day"))
      val Seq(ind, act, day) = Seq("_ind", "_act", "_day").map(col)
      val fused = windowed.select(keys :+ col("*"): _*)
        .groupingSets(Seq(Nil, Seq(ind), Seq(act), Seq(day)), ind, act, day)
        .agg(grouping_id().as("_gid"), sAggs ++ bAggs ++ tAggs: _*)
      val Seq(aggRows, topRows) = graft.DriverOps.concurrently(Seq(
        () => fused.coalesce(1).limit(MaxInsightRows + 1).collect(),
        () => top.collect()))
      require(aggRows.length <= MaxInsightRows,
        s"insights: more than MaxInsightRows = $MaxInsightRows summary, " +
          "breakdown and trend rows")
      // row layout: _ind, _act, _day, _gid, summary, breakdown, trend aggs
      val sAt = 4
      val bAt = sAt + sAggs.size
      val tAt = bAt + bAggs.size
      def cells(r: Row, from: Int, n: Int): Seq[Any] =
        (from until from + n).map(r.get)
      // grouping_id: bit 2 = _ind aggregated, bit 1 = _act, bit 0 = _day
      def rowsOf(gid: Int) = aggRows.filter(_.getLong(3) == gid).toSeq
      def local(df: DataFrame, rows: Seq[Row]): DataFrame =
        windowed.sparkSession.createDataFrame(rows.asJava, df.schema)
      val summaryRows =
        rowsOf(7).map(r => Row.fromSeq(cells(r, sAt, sAggs.size)))
      val trendRows = rowsOf(6).filter(!_.isNullAt(2))
        .map(r => Row.fromSeq(r.get(2) +: cells(r, tAt, tAggs.size)))
        .sortBy(_.get(0) match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
        })
      Map(
        // grouping sets emit no grand total over an empty window
        "summary" -> local(summary,
          if (summaryRows.nonEmpty) summaryRows else summary.collect().toSeq),
        "top_opportunities" -> local(top, topRows.toSeq),
        "industry_breakdown" -> local(byIndustry, rowsOf(3).map(r =>
          Row.fromSeq(r.get(0) +: cells(r, bAt, bAggs.size)))),
        "action_distribution" -> local(byAction, rowsOf(5).map(r =>
          Row.fromSeq(r.get(1) +: cells(r, bAt, bAggs.size)))),
        "trend_data" -> local(trend, trendRows))
    }

    /** GET /api/accounts/{id}/summary (main.py:780-791): the stored
      * NLP summary ([[Summarize]]-produced engine-side). */
    def accountSummary(accountId: String, bearer: Option[String],
                       clientHost: Option[String] = None): Result =
      guarded(bearer, clientHost) { (_, _) =>
        accounts.map(_.filter(col("account_id") === accountId)
            .select("account_id", "summary")) match {
          case Some(row) if !row.isEmpty => Ok(row)
          case _ => ApiError(404, "Account not found")
        }
      }
  }
}
