package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.serve.ApiShell._
import graft.sources.ResilientClient.Clock

/**
 * Job and codegen gates of the two serving paths that run a query per
 * request: the binary→ADC→exact ANN query and the insights bundle. Jobs
 * are counted by `SparkSpec.jobsOf` (a listener on the call's own job
 * group, which threads the call starts inherit);
 * compiled classes by Spark's `CodegenMetrics` source-size histogram.
 */
class ServingShapeSpec extends SparkSpec {
  import spark.implicits._

  private def compiledBy(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    f
    CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before
  }

  test("binaryAdcRefinedTopK: at most 2 Spark jobs per query, and a query " +
      "with a new vector compiles no new class") {
    val rnd = new scala.util.Random(5)
    val dir = java.nio.file.Files.createTempDirectory("graft-binary-shape")
      .toString
    (0 until 800).map(i => (i.toLong, (0 until 32).map(_ =>
        rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(4)
      .write.parquet(s"$dir/embs")
    val embs = spark.read.parquet(s"$dir/embs")
    SimilaritySearch.pqCodebook(embs, col("vec_id"), col("embedding"), 16,
        4, 8)
      .write.parquet(s"$dir/codebook")
    val codebook = spark.read.parquet(s"$dir/codebook")
    def query(): Seq[Long] = {
      val q = (0 until 32).map(_ => rnd.nextGaussian())
      SimilaritySearch.binaryAdcRefinedTopK(embs, col("vec_id"),
          col("embedding"), codebook, 4, 8, q, 32, 10, 200)
        .select("id").as[Long].collect().toSeq
    }
    assert(query().size === 10)
    val n = jobsOf(query())
    assert(n <= 2, s"a binary query ran $n Spark jobs")
    val compiled = compiledBy(query())
    assert(compiled === 0, s"a query with a new vector compiled $compiled " +
      "classes")
  }

  test("Shell.insights: at most 3 Spark jobs before its sections are " +
      "serialized") {
    // a stored table, as the served lake is: an in-memory frame plans the
    // top-5 page as a range-partitioned sort instead of a top-k
    val dir = java.nio.file.Files.createTempDirectory("graft-insights-shape")
      .resolve("recs").toString
    Seq(
      (1, 0.9, "High", "Industry Expansion", "2024-03-01 00:00:00", 900.0),
      (2, 0.7, "Medium", "Partner Referral", "2024-03-05 00:00:00", 700.0),
      (3, 0.4, "Low", "Market Development", "2024-03-10 00:00:00", 400.0),
      (4, 0.95, "Very High", "Industry Expansion", "2024-03-15 00:00:00",
        950.0))
      .toDF("id", "score", "confidence", "recommendation_type",
        "created_at_s", "estimated_value")
      .withColumn("created_at", col("created_at_s").cast("timestamp"))
      .drop("created_at_s")
      .write.parquet(dir)
    val recs = spark.read.parquet(dir)
    val clock = new Clock {
      def nowMs: Long = 1700000000000L
      def sleepMs(ms: Long): Unit = ()
    }
    val users = new UserStore
    users.put(User("alice", "s3cret", "admin"))
    val tokens = new TokenService("test-secret", clock)
    val shell = new Shell(recs, users, tokens, clock)
    val OkText(t) = (shell.login("alice", "s3cret"): @unchecked)
    def insights(): Result = shell.insights(12,
      java.sql.Timestamp.valueOf("2024-03-16 00:00:00"), Some(t),
      industry = col("recommendation_type"), action = col("confidence"))
    assert(insights().isInstanceOf[OkSections])
    var result: Result = null
    val n = jobsOf { result = insights() }
    assert(result.isInstanceOf[OkSections])
    assert(n <= 3, s"insights ran $n Spark jobs")
  }
}
