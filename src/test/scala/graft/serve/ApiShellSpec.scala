package graft.serve

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.serve.ApiShell._
import graft.sources.ResilientClient.Clock

/**
 * End-to-end drive of the serving shell (reference api/main.py
 * :61-77,227-268,330-341,432-478,794-857): login → bearer →
 * filter/sort/paginate/export through the facade, with the 401/429/400
 * policy edges — expired token, revoked user, over-limit rejection and
 * refill, bad export format, bad parameter.
 */
class ApiShellSpec extends SparkSpec {
  import spark.implicits._

  /** Virtual clock: rate-limit refill and token expiry are asserted
    * exactly, never slept for. */
  private class VClock extends Clock {
    var now: Long = 1700000000000L
    def nowMs: Long = now
    def sleepMs(ms: Long): Unit = { now += ms }
  }

  private lazy val recs = Seq(
    (1, 0.9, "High", "Industry Expansion", "o1", "o2", "2024-03-01 00:00:00", 900.0),
    (2, 0.7, "Medium", "Partner Referral", "o3", "o1", "2024-03-05 00:00:00", 700.0),
    (3, 0.4, "Low", "Market Development", "o2", "o3", "2024-03-10 00:00:00", 400.0),
    (4, 0.95, "Very High", "Industry Expansion", "o4", "o5", "2024-03-15 00:00:00", 950.0)
  ).toDF("id", "score", "confidence", "recommendation_type",
      "org1_id", "org2_id", "created_at_s", "estimated_value")
    .withColumn("created_at", col("created_at_s").cast("timestamp"))
    .drop("created_at_s")

  private def mkShell(callsPerMinute: Int = 100,
                      frame: => org.apache.spark.sql.DataFrame = recs)
      : (Shell, VClock, UserStore, TokenService) = {
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock, expirationHours = 1)
    (new Shell(frame, users, tokens, clock, callsPerMinute),
      clock, users, tokens)
  }

  private def bearerOf(r: Result): String = r match {
    case OkText(t) => t
    case other => fail(s"expected a token grant, got $other")
  }

  test("login: wrong password 401, right password grants a verifiable token") {
    val (shell, _, _, tokens) = mkShell()
    assert(shell.login("alice", "wrong") == ApiError(401,
      "Incorrect username or password"))
    assert(shell.login("mallory", "s3cret") == ApiError(401,
      "Incorrect username or password"))
    val t = bearerOf(shell.login("alice", "s3cret"))
    assert(tokens.verify(t) == Right(("alice", "admin")))
  }

  test("login is rate-limited per client host (reference default limiter " +
      "covers all non-exempt routes)") {
    val (shell, clock, _, _) = mkShell(callsPerMinute = 3)
    (1 to 3).foreach { _ =>
      assert(shell.login("alice", "wrong", Some("10.0.0.7")) ==
        ApiError(401, "Incorrect username or password"))
    }
    // brute-force attempt #4 is refused BEFORE the password compare
    assert(shell.login("alice", "s3cret", Some("10.0.0.7")) ==
      ApiError(429, "Rate limit exceeded"))
    // a different host has its own bucket
    assert(shell.login("alice", "s3cret", Some("10.0.0.8"))
      .isInstanceOf[OkText])
    // refill re-admits the throttled host
    clock.now += 20000
    assert(shell.login("alice", "s3cret", Some("10.0.0.7"))
      .isInstanceOf[OkText])
  }

  test("role is re-read from the store per request: a demotion takes " +
      "effect on outstanding tokens immediately") {
    val (shell, _, users, tokens) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    assert(tokens.verify(t) == Right(("alice", "admin"))) // claim says admin
    assert(shell.whoami(Some(t)) ==
      OkText("""{"username":"alice","role":"admin"}"""))
    // demote alice while her admin-claim token is still outstanding:
    // the handlers must see the STORE's current role, not the claim's
    users.put(User("alice", "s3cret", "viewer"))
    assert(shell.whoami(Some(t)) ==
      OkText("""{"username":"alice","role":"viewer"}"""))
  }

  test("token claims are injection-proof: quotes in the username cannot " +
      "forge claim text") {
    val (shell, _, users, tokens) = mkShell()
    val evil = """mallory","role":"admin"""  // tries to smuggle a role claim
    users.put(User(evil, "pw", "viewer"))
    val t = bearerOf(shell.login(evil, "pw"))
    // the signed token round-trips the LITERAL username and the true role
    assert(tokens.verify(t) == Right((evil, "viewer")))
    // and a tampered payload fails signature verification
    val parts = t.split('.')
    val forged = java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      """{"sub":"mallory","role":"admin","exp":9999999999}""".getBytes("UTF-8"))
    assert(tokens.verify(s"${parts(0)}.$forged.${parts(2)}")
      == Left("Invalid token"))
  }

  test("whoami escapes claim strings: an injection username cannot forge " +
      "a role key in the response body") {
    val (shell, _, users, _) = mkShell()
    val evil = """mallory","role":"admin"""
    users.put(User(evil, "pw", "viewer"))
    val t = bearerOf(shell.login(evil, "pw"))
    val OkText(body) = (shell.whoami(Some(t)): @unchecked)
    assert(body ==
      s"""{"username":"${Json.escape(evil)}","role":"viewer"}""")
    // exactly one (unescaped) role key — the store's, not the smuggled one
    assert("\"role\":".r.findAllIn(body).size == 1, body)
  }

  test("score binds its by-name expression provider ONCE per request: a " +
      "registry flip mid-request cannot mix states") {
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("bind-secret", clock)
    var calls = 0
    def flapping: Seq[(String, org.apache.spark.sql.Column)] = {
      calls += 1
      // second evaluation simulates a demote landing mid-request: if the
      // handler re-reads, scoreOne folds zero exprs and the confidence
      // expression throws on the missing score column
      if (calls == 1) Seq("score" -> lit(0.9)) else Nil
    }
    val shell = new Shell(recs, users, tokens, clock, scoreExprs0 = flapping)
    val t = bearerOf(shell.login("alice", "s3cret"))
    shell.score(Seq(0.0).toDF("x"), bearer = Some(t)) match {
      case Ok(df) => assert(df.select("score").head.getDouble(0) == 0.9)
      case other => fail(s"mid-request provider flip broke scoring: $other")
    }
    assert(calls == 1, s"provider evaluated $calls times in one request")
  }

  test("recommendations: filter + sort + paginate through the facade") {
    val (shell, _, _, _) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    // no token → 401; garbage token → 401
    assert(shell.recommendations(Map.empty, None) ==
      ApiError(401, "Not authenticated"))
    assert(shell.recommendations(Map.empty, Some("not.a.token")) ==
      ApiError(401, "Invalid token"))
    // min_score + org OR-list, default sort score desc
    val Ok(df1) = (shell.recommendations(
      Map("min_score" -> "0.5", "org_ids" -> "o1"), Some(t))
      : @unchecked)
    assert(df1.select("id").as[Int].collect().toSeq == Seq(1, 2))
    // date window + explicit asc sort + offset/limit paging
    val Ok(df2) = (shell.recommendations(
      Map("date_from" -> "2024-03-02 00:00:00", "sort_by" -> "score",
        "sort_order" -> "asc", "limit" -> "1", "offset" -> "1"), Some(t))
      : @unchecked)
    assert(df2.select("id").as[Int].collect().toSeq == Seq(2))
    // unknown sort key falls back to score (whitelist), not an error
    val Ok(df3) = (shell.recommendations(
      Map("sort_by" -> "id; DROP TABLE"), Some(t)) : @unchecked)
    assert(df3.select("id").as[Int].collect().toSeq == Seq(4, 1, 2, 3))
    // unparseable parameter is a 400, not an exception
    shell.recommendations(Map("min_score" -> "high"), Some(t)) match {
      case ApiError(400, _) => ()
      case other => fail(s"expected 400, got $other")
    }
  }

  test("token expiry and user revocation both 401") {
    val (shell, clock, users, _) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    clock.now += 3601L * 1000 // past the 1h expiry
    assert(shell.recommendations(Map.empty, Some(t)) ==
      ApiError(401, "Token expired"))
    // fresh token, then delete the user: outstanding token is revoked
    clock.now += 1000
    val t2 = bearerOf(shell.login("alice", "s3cret"))
    users.delete("alice")
    assert(shell.recommendations(Map.empty, Some(t2)) ==
      ApiError(401, "Invalid authentication credentials"))
  }

  test("rate limit: over-limit 429 keyed per identifier, refills with time") {
    val (shell, clock, _, _) = mkShell(callsPerMinute = 3)
    val t = bearerOf(shell.login("alice", "s3cret"))
    (1 to 3).foreach { _ =>
      assert(shell.recommendations(Map.empty, Some(t)).isInstanceOf[Ok])
    }
    assert(shell.recommendations(Map.empty, Some(t)) ==
      ApiError(429, "Rate limit exceeded"))
    // the limiter admits BEFORE auth: an anonymous caller has its own
    // bucket (keyed client host), unaffected by alice's exhaustion
    assert(shell.recommendations(Map.empty, None,
      clientHost = Some("10.0.0.9")) == ApiError(401, "Not authenticated"))
    // 20s at 3/min refills one token
    clock.now += 20000
    assert(shell.recommendations(Map.empty, Some(t)).isInstanceOf[Ok])
    assert(shell.recommendations(Map.empty, Some(t)) ==
      ApiError(429, "Rate limit exceeded"))
  }

  test("export: csv and json roundtrip the filtered page; bad format 400") {
    val (shell, _, _, _) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    assert(shell.export("parquet", "/tmp/x", Map.empty, Some(t)) ==
      ApiError(400, "Format must be csv, excel, or json"))
    val base = java.nio.file.Files.createTempDirectory("graft-api").toString
    val params = Map("min_score" -> "0.5", "sort_order" -> "desc")
    shell.export("csv", s"$base/csv", params, Some(t)) match {
      case OkText(p) =>
        val back = spark.read.option("header", "true").csv(p)
        assert(back.count() == 3)
        assert(back.select("id").as[String].collect().toSeq ==
          Seq("4", "1", "2")) // written in served order
      case other => fail(s"csv export failed: $other")
    }
    shell.export("json", s"$base/json", params, Some(t)) match {
      case OkText(p) =>
        assert(spark.read.json(p).count() == 3)
      case other => fail(s"json export failed: $other")
    }
    shell.export("excel", s"$base/x.xlsx", params, Some(t)) match {
      case OkText(p) =>
        assert(java.nio.file.Files.size(java.nio.file.Paths.get(p)) > 0)
      case other => fail(s"excel export failed: $other")
    }
  }

  test("recommendation detail: 200 with the row, 404 when absent") {
    val (shell, _, _, _) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    shell.recommendation(2L, Some(t)) match {
      case Ok(df) =>
        assert(df.select("score").as[Double].collect().toSeq == Seq(0.7))
      case other => fail(s"expected the row, got $other")
    }
    assert(shell.recommendation(99L, Some(t)) ==
      ApiError(404, "Recommendation not found"))
  }

  test("patch: converted stamps actioned_at, every update stamps " +
      "updated_at; unknown fields dropped; store failure is a 500") {
    var captured: (Long, Map[String, String]) = (0L, Map.empty)
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock)
    val shell = new Shell(recs, users, tokens, clock,
      onUpdate = (id, m) => { captured = (id, m); id != 3L })
    val t = bearerOf(shell.login("alice", "s3cret"))
    assert(shell.updateRecommendation(99L, Map("status" -> "contacted"),
      Some(t)) == ApiError(404, "Recommendation not found"))
    assert(shell.updateRecommendation(1L,
      Map("status" -> "converted", "notes" -> "won", "hack" -> "x"),
      Some(t)) == OkText("Recommendation updated successfully"))
    val (id, m) = captured
    assert(id == 1L)
    assert(m.get("status").contains("converted") &&
      m.get("notes").contains("won") && !m.contains("hack"))
    assert(m.contains("actioned_at") && m.contains("updated_at"))
    // non-converted status: no actioned_at
    assert(shell.updateRecommendation(2L, Map("status" -> "contacted"),
      Some(t)) == OkText("Recommendation updated successfully"))
    assert(!captured._2.contains("actioned_at"))
    // store rejects → 500
    assert(shell.updateRecommendation(3L, Map("notes" -> "x"), Some(t)) ==
      ApiError(500, "Failed to update recommendation"))
  }

  test("patch wired to the Layout point-upsert persists the change") {
    import graft.sources.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-api-recs").toString
    recs.write.mode("overwrite").parquet(dir)
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock)
    val stored = spark.read.parquet(dir)
      .withColumn("status", lit("new")).withColumn("updated_at", lit(""))
    // production wiring: read the row, apply the stamped fields, point-
    // upsert by key — the q151 path
    val shell = new Shell(stored, users, tokens, clock,
      onUpdate = (id, m) => {
        val cur = spark.read.parquet(dir)
          .withColumn("status", lit("new")).withColumn("updated_at", lit(""))
        val patched = cur.filter(col("id") === id)
          .withColumn("status", lit(m.getOrElse("status", "new")))
          .withColumn("updated_at", lit(m("updated_at")))
        // write the patched table back via upsert on the augmented view
        val tmpDir = s"$dir-aug"
        cur.write.mode("overwrite").parquet(tmpDir)
        Layout.upsertByKey(spark, tmpDir, patched, "id")
        spark.read.parquet(tmpDir).filter(col("id") === id)
          .select("status").as[String].head() == m.getOrElse("status", "new")
      })
    val t = bearerOf(shell.login("alice", "s3cret"))
    assert(shell.updateRecommendation(2L, Map("status" -> "contacted"),
      Some(t)) == OkText("Recommendation updated successfully"))
    val back = spark.read.parquet(s"$dir-aug")
    assert(back.filter(col("id") === 2).select("status")
      .as[String].head() == "contacted")
    assert(back.filter(col("id") === 1).select("status")
      .as[String].head() == "new") // untouched rows intact
  }

  test("score: reference response policy over the engine's scoreOne") {
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock)
    // two "model" columns + their mean as the ensemble score
    val exprs = Seq(
      "score_a" -> (col("x") * 2.0),
      "score_b" -> (col("x") * 0.5),
      "score" -> ((col("x") * 2.0 + col("x") * 0.5) / 2.0))
    val shell = new Shell(recs, users, tokens, clock, scoreExprs0 = exprs)
    val t = bearerOf(shell.login("alice", "s3cret"))
    val pair = Seq(0.6).toDF("x") // score = (1.2 + 0.3) / 2 = 0.75
    shell.score(pair, includeExplanation = false, Some(t)) match {
      case Ok(df) =>
        val row = df.head()
        assert(row.getAs[Double]("score") == 0.75)
        assert(row.getAs[String]("confidence_level") == "High")
        assert(row.getAs[Double]("estimated_value") == 75000.0)
        assert(row.getAs[String]("next_best_action") ==
          "Schedule introduction call")
        assert(!df.columns.contains("score_a"), "explanation off")
      case other => fail(s"score failed: $other")
    }
    shell.score(pair, includeExplanation = true, Some(t)) match {
      case Ok(df) =>
        assert(df.columns.contains("score_a") && df.columns.contains("score_b"))
      case other => fail(s"score failed: $other")
    }
    // band edges: 0.81 Very High, 0.65 Medium, 0.5 Low + nurture action
    def bandOf(x: Double): (String, String) = {
      val s = new Shell(recs, users, tokens, clock,
        scoreExprs0 = Seq("score" -> lit(x)))
      s.score(pair, bearer = Some(t)) match {
        case Ok(df) =>
          val r = df.head()
          (r.getAs[String]("confidence_level"),
            r.getAs[String]("next_best_action"))
        case other => fail(s"score failed: $other")
      }
    }
    assert(bandOf(0.81) == ("Very High", "Schedule introduction call"))
    assert(bandOf(0.65) == ("Medium", "Add to nurture campaign"))
    assert(bandOf(0.5) == ("Low", "Add to nurture campaign"))
    // untrained fallback: score 0.5, Low, nurture (main.py:604-607)
    val bare = new Shell(recs, users, tokens, clock)
    bare.score(pair, bearer = Some(t)) match {
      case Ok(df) =>
        val r = df.head()
        assert(r.getAs[Double]("score") == 0.5 &&
          r.getAs[String]("confidence_level") == "Low")
      case other => fail(s"fallback failed: $other")
    }
  }

  test("insights: bundled sections over the frozen asOf window; 422 on " +
      "out-of-range days_back") {
    val (shell, _, _, _) = mkShell()
    val t = bearerOf(shell.login("alice", "s3cret"))
    val asOf = java.sql.Timestamp.valueOf("2024-03-16 00:00:00")
    assert(shell.insights(0, asOf, Some(t)) ==
      ApiError(422, "days_back must be between 1 and 365"))
    assert(shell.insights(366, asOf, Some(t)) ==
      ApiError(422, "days_back must be between 1 and 365"))
    // 12-day window from asOf: ids 2, 3, 4 (id 1 created 03-01)
    shell.insights(12, asOf, Some(t),
        industry = col("recommendation_type"),
        action = col("confidence")) match {
      case OkSections(s) =>
        assert(s.keySet == Set("summary", "top_opportunities",
          "industry_breakdown", "action_distribution", "trend_data"))
        val sum = s("summary").head()
        assert(sum.getAs[Long]("total_recommendations") == 3L)
        assert(s("top_opportunities").select("id").as[Int].collect()
          .toSeq == Seq(4, 2, 3)) // score desc within the window
        assert(s("industry_breakdown").count() == 3) // 3 distinct types
        assert(s("trend_data").count() == 3)         // 3 distinct days
      case other => fail(s"insights failed: $other")
    }
  }

  test("insights: each fused section equals its per-section plan in " +
      "schema and rows; a NULL industry stays its own group; an empty " +
      "window keeps its one summary row") {
    // two rows without a type: one NULL group in the industry breakdown
    val frame = recs.unionByName(Seq(
        (5, 0.85, "High", "o2", "o4", "2024-03-12 06:00:00", 850.25),
        (6, 0.65, "Medium", "o5", "o1", "2024-03-14 18:30:00", 650.5))
      .toDF("id", "score", "confidence", "org1_id", "org2_id",
        "created_at_s", "estimated_value")
      .withColumn("recommendation_type", lit(null).cast("string"))
      .withColumn("created_at", col("created_at_s").cast("timestamp"))
      .drop("created_at_s"))
    val (shell, _, _, _) = mkShell(frame = frame)
    val t = bearerOf(shell.login("alice", "s3cret"))
    def same(name: String, got: org.apache.spark.sql.DataFrame,
             want: org.apache.spark.sql.DataFrame, ordered: Boolean): Unit = {
      assert(got.schema === want.schema, name)
      def rows(df: org.apache.spark.sql.DataFrame) = {
        val r = df.collect().toSeq
        if (ordered) r else r.sortBy(_.toString)
      }
      val (g, w) = (rows(got), rows(want))
      assert(g.size === w.size, name)
      g.zip(w).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(x.abs, y.abs),
              s"$name: $a vs $b")
          case (x, y) => assert(x == y, s"$name: $a vs $b")
        }
      }
    }
    Seq(12 -> "2024-03-16 00:00:00", 30 -> "2024-03-16 12:30:00",
        1 -> "2030-01-01 00:00:00").foreach { case (days, at) =>
      val asOf = java.sql.Timestamp.valueOf(at)
      val windowed = frame.filter(col("created_at") >=
        new java.sql.Timestamp(asOf.getTime - days * 86400L * 1000))
      shell.insights(days, asOf, Some(t),
          industry = col("recommendation_type"),
          action = col("confidence")) match {
        case OkSections(s) =>
          same("summary", s("summary"), Serve.insightsSummary(windowed),
            ordered = true)
          same("top", s("top_opportunities"), Serve.page(windowed, "score",
            ascending = false, limit = 5, offset = 0), ordered = true)
          same("industry", s("industry_breakdown"),
            Serve.breakdown(windowed, col("recommendation_type")),
            ordered = false)
          same("action", s("action_distribution"),
            Serve.breakdown(windowed, col("confidence")), ordered = false)
          same("trend", s("trend_data"), Serve.dailyTrend(windowed,
            col("created_at"), lit(asOf), days), ordered = true)
          if (days == 12)
            assert(s("industry_breakdown")
              .filter(col("recommendation_type").isNull)
              .select("n").as[Long].collect().toSeq === Seq(2L))
          if (days == 1)
            assert(s("summary").select("total_recommendations").as[Long]
              .collect().toSeq === Seq(0L))
        case other => fail(s"insights failed: $other")
      }
    }
  }

  test("account summary: stored NLP summary by id, 404 otherwise") {
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock)
    val accts = Seq(("A1", "Acme does widgets.")).toDF("account_id", "summary")
    val shell = new Shell(recs, users, tokens, clock,
      accounts = Some(accts))
    val t = bearerOf(shell.login("alice", "s3cret"))
    shell.accountSummary("A1", Some(t)) match {
      case Ok(df) =>
        assert(df.select("summary").as[String].head() == "Acme does widgets.")
      case other => fail(s"expected summary, got $other")
    }
    assert(shell.accountSummary("A2", Some(t)) ==
      ApiError(404, "Account not found"))
    // no accounts frame configured at all → 404, not a crash
    val bare = new Shell(recs, users, tokens, clock)
    val t2 = bearerOf(bare.login("alice", "s3cret"))
    assert(bare.accountSummary("A1", Some(t2)) ==
      ApiError(404, "Account not found"))
  }

  test("health is unauthenticated and unlimited") {
    val (shell, _, _, _) = mkShell(callsPerMinute = 1)
    (1 to 5).foreach { _ =>
      assert(shell.health == OkText("""{"status":"healthy"}"""))
    }
  }

  test("registry-driven serving: a promote flips the served model on the " +
      "next request, rollback restores it — no shell restart") {
    import graft.ml.{NewtonBoost, Registry}
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    // two one-leaf boosters with opposite margins: served score tells
    // exactly which artifact answered
    NewtonBoost.Model(Seq("f"), Seq(NewtonBoost.Leaf(1.0)), 1.0, 0.5)
      .save(s"$dir/a.json")
    NewtonBoost.Model(Seq("f"), Seq(NewtonBoost.Leaf(-1.0)), 1.0, 0.5)
      .save(s"$dir/b.json")
    val clock = new VClock
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("reg-secret", clock)
    val shell = new Shell(recs, users, tokens, clock,
      scoreExprs0 = ApiShell.registryScoreExprs(spark, dir))
    val t = bearerOf(shell.login("alice", "s3cret"))
    val pair = Seq(0.0).toDF("f")
    def served(): Double = shell.score(pair, bearer = Some(t)) match {
      case Ok(df) => df.select("score").head.getDouble(0)
      case other => fail(s"expected scored frame, got $other")
    }
    // no production version → the reference's untrained 0.5 fallback
    assert(served() == 0.5)
    Registry.register(spark, dir, "v1", s"$dir/a.json")
    Registry.promote(spark, dir, "v1")
    val sA = served()
    assert(math.abs(sA - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
    // promote a challenger: the SAME shell serves it on the next request
    Registry.register(spark, dir, "v2", s"$dir/b.json")
    Registry.promote(spark, dir, "v2")
    val sB = served()
    assert(math.abs(sB - 1.0 / (1.0 + math.exp(1.0))) < 1e-12)
    assert(sA != sB)
    // emergency rollback re-serves the incumbent
    Registry.rollback(spark, dir, "v1")
    assert(served() == sA)
  }
}
