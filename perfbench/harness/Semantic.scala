package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.IvfPqTrainedIndex

/** The semantic-search part of online_serving: build and store the spilled
  * trained IVF-PQ index (L2 k-means lists, per-subspace PQ codebook, top-A
  * assignments, codes), then clients query it through the binary→ADC→exact
  * path (`binaryAdcRefinedTopK`, a full scan of sign codes over the stored
  * codebook) or the spilled IVF-PQ path. */
final class Semantic(ctx: Ctx) {
  import Semantic._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val id = col("vec_id")
  private val vec = col("embedding")
  private var queries: Vector[Seq[Double]] = Vector.empty

  def setup(): Unit = {
    val vs = Gen.vectors(Vectors, Dim, Clusters, Noise, ctx.seed)
    Gen.vectorFrame(spark, vs).repartition(ctx.cores)
      .write.mode("overwrite").parquet(ctx.dir("in/vectors"))
    queries = Gen.queries(vs, QueryPool, Noise, ctx.seed)
  }

  private var index: IvfPqTrainedIndex = _
  private var codebook: DataFrame = _
  private var embs: DataFrame = _
  private val answers = new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[Long]]()

  def build(): Unit = {
    embs = t.span("sources.load") { spark.read.parquet(ctx.dir("in/vectors")) }
    val dir = ctx.dir("index")
    t.span("ann.centroids") {
      SimilaritySearch.ivfCentroidsKMeansL2(embs, id, vec, KIvf)
        .write.mode("overwrite").parquet(s"$dir/centroids")
    }
    t.span("ann.codebook") {
      SimilaritySearch.pqCodebookSubKMeans(embs, id, vec, M, SubDim, KSub)
        .write.mode("overwrite").parquet(s"$dir/codebook")
    }
    val cents = spark.read.parquet(s"$dir/centroids")
    codebook = spark.read.parquet(s"$dir/codebook")
    t.span("ann.assign") {
      SimilaritySearch.assignAgainstL2TopA(cents, embs, id, vec, Spill)
        .write.mode("overwrite").parquet(s"$dir/assignments")
    }
    t.span("ann.encode") {
      SimilaritySearch.pqCodesSub(embs, id, vec, codebook, M, SubDim)
        .write.mode("overwrite").parquet(s"$dir/codes")
    }
    index = IvfPqTrainedIndex(cents, spark.read.parquet(s"$dir/assignments"),
      codebook, spark.read.parquet(s"$dir/codes"))
  }

  /** Query `q` of the pool through path `kind`; returns the top-k ids. */
  private def query(kind: String, q: Int, request: Long): Seq[Long] =
    t.span(s"ann.$kind", request) {
      val df = kind match {
        case "binary" => SimilaritySearch.binaryAdcRefinedTopK(embs, id, vec,
          codebook, M, SubDim, queries(q), Dim, K, BinaryCandidates)
        case _ => SimilaritySearch.ivfPqTopKTrainedSpilledRefinedFromIndex(
          index, embs, id, vec, queries(q), NProbe, M, SubDim, K)
      }
      df.select("id").collect().map(_.getLong(0)).toSeq
    }

  /** One query, alternating the two paths by `n`; (latency ms, ok). */
  def clientQuery(n: Long): (Double, Boolean) = {
    val kind = if (n % 2 == 0) "binary" else "ivfpq"
    val q = (n % QueryPool).toInt
    val s = System.nanoTime()
    val got = query(kind, q, n)
    answers.put((kind, q), got)
    ((System.nanoTime() - s) / 1e6, got.size == K)
  }

  // exact top-k of the queries asked so far, computed outside the timed
  // rounds, when their answers are checked
  private val truth = scala.collection.mutable.Map[Int, Set[Long]]()
  private def exact(q: Int): Set[Long] = truth.getOrElseUpdate(q,
    SimilaritySearch.bruteForceTopK(embs, id, vec, queries(q), K)
      .select("id").collect().map(_.getLong(0)).toSet)
  // (path, recall@k) of every query answered in the run
  private val recalls = scala.collection.mutable.ArrayBuffer[(String, Double)]()

  def verify(): Unit = {
    import scala.jdk.CollectionConverters._
    recalls ++= answers.asScala.toSeq.map { case ((kind, q), ids) =>
      kind -> ids.count(exact(q)).toDouble / K }
    answers.clear()
  }

  /** A single query's recall ranges widely at the default re-rank depth,
    * so each path is judged by its mean over the run's queries. */
  def verifyRun(): Unit = Seq("binary", "ivfpq").foreach { kind =>
    val mine = recalls.filter(_._1 == kind).map(_._2)
    val r = mine.sum / math.max(1, mine.size)
    ctx.check(mine.nonEmpty && r >= MinRecall,
      f"$kind mean recall@$K $r%.3f over ${mine.size} queries below $MinRecall")
  }

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    def p50(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    Map(
      "ann.centroids_ms" -> Layers.ms(spans, "ann.centroids", rounds),
      "ann.codebook_ms" -> Layers.ms(spans, "ann.codebook", rounds),
      "ann.assign_ms" -> Layers.ms(spans, "ann.assign", rounds),
      "ann.encode_ms" -> Layers.ms(spans, "ann.encode", rounds),
      "ann.binary_query_ms" -> p50("ann.binary"),
      "ann.ivfpq_query_ms" -> p50("ann.ivfpq"),
      "check.recall_at_10" -> recalls.map(_._2).sum / math.max(1, recalls.size),
      "ann.min_query_recall" -> recalls.map(_._2).minOption.getOrElse(0.0))
  }

  /** One query of each kind alone, so their Spark jobs are their own, and
    * the share of the corpus the probed lists cover. */
  def serialPass(): Map[String, Double] = {
    val before = t.all.size
    query("binary", 0, 0); query("ivfpq", 0, 0)
    val spans = t.all.drop(before)
    def jobs(n: String) = spans.filter(_.name == n).map(_.spark.jobs).sum.toDouble
    val probed = index.centroids
      .select(col("cid"), graft.functions.VectorFunctions.sqDist(col("cvr"),
        array(queries(0).map(lit): _*)).as("d"))
      .orderBy("d").limit(NProbe).select("cid")
    val scanned = index.assignments.join(probed, "cid").select("id").distinct().count()
    Map("ann.binary_jobs_per_query" -> jobs("ann.binary"),
      "ann.ivfpq_jobs_per_query" -> jobs("ann.ivfpq"),
      "ann.scanned_frac" -> scanned.toDouble / Vectors)
  }
}

object Semantic {
  val Vectors = 3000
  val Dim = 64
  val Clusters = 40
  val Noise = 0.15
  val KIvf = 48
  val Spill = 2
  val M = 8
  val SubDim = 8
  val KSub = 64
  val NProbe = 7
  val K = 10
  val BinaryCandidates = 900
  val QueryPool = 16
  val MinRecall = 0.3
}
