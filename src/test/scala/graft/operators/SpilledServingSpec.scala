package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.sources.Tables

/**
 * The spilled-index serving entry
 * ([[SimilaritySearch.ivfPqTopKTrainedSpilledRefinedFromIndex]])
 * exercised end-to-end off parquet-roundtripped artifacts — the
 * production path q204's instrument measures but does not call.
 */
class SpilledServingSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.01"
  private val KIvf = 25; private val A = 2
  private val M = 4; private val SubDim = 16; private val KSub = 16
  private val NProbe = 5; private val K = 10; private val Rf = 3

  test("spilled trained serving off stored artifacts: k distinct ids, " +
      "exact-cosine ordered, every hit inside the probed spilled lists") {
    val e = Tables.load(spark, Dir, "embeddings")
    val stored = SimilaritySearch.storeIndex(
      SimilaritySearch.ivfPqIndexTrainedSpilled(e, col("vec_id"),
        col("embedding"), KIvf, A, KSub, M, SubDim),
      java.nio.file.Files.createTempDirectory("spilled_serving").toString)
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)

    val res = SimilaritySearch.ivfPqTopKTrainedSpilledRefinedFromIndex(
      stored, e, col("vec_id"), col("embedding"), q, NProbe, M, SubDim,
      K, Rf).collect()
    assert(res.length == K)
    val ids = res.map(_.getAs[Long]("id"))
    assert(ids.distinct.length == K, "multi-home members must dedupe")

    // ordering + score integrity: the returned cosine IS the exact
    // cosine, ranked desc with id tiebreak
    val qArr = array(q.map(lit): _*)
    val exact = e.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"),
        VectorFunctions.dot(VectorFunctions.unit(col("embedding")),
          VectorFunctions.unit(qArr)).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.foreach { r =>
      assert(math.abs(r.getAs[Double]("cosine") -
        exact(r.getAs[Long]("id"))) < 1e-9)
    }
    val sortKey = res.map(r =>
      (-r.getAs[Double]("cosine"), r.getAs[Long]("id")))
    assert(sortKey.sameElements(sortKey.sorted), "rank must be cosine " +
      "desc, id asc")

    // membership: every hit's id must live in one of the query's
    // NProbe nearest lists under the SPILLED (top-A) assignment
    val probed = TopK.globalTopK(
      stored.centroids.select(col("cid"),
        VectorFunctions.sqDist(qArr, col("cvr")).as("d")),
      Seq(col("d").asc, col("cid").asc), NProbe).select("cid")
    val members = stored.assignments.join(probed, "cid")
      .select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    ids.foreach(id => assert(members.contains(id),
      s"hit $id not in any probed spilled list"))

    // the spill is live in the artifacts: A rows per vector
    assert(stored.assignments.groupBy("id").count()
      .filter(col("count") =!= A).count() == 0)

    // delta append ≡ one-shot build: assignments and codes are
    // per-vector pure functions of the stored quantizers, so appending
    // a held-out delta against the STORED index reproduces exactly the
    // full build's rows for those vectors (work ∝ delta — the q134
    // incremental-maintenance discipline)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val dAssign = SimilaritySearch.assignAgainstL2TopA(stored.centroids,
      delta, col("vec_id"), col("embedding"), A)
    val dCodes = SimilaritySearch.pqCodesSub(delta, col("vec_id"),
      col("embedding"), stored.codebook, M, SubDim)
    val deltaIds = delta.select(col("vec_id").as("id"))
    assert(dAssign.exceptAll(stored.assignments.join(deltaIds, "id"))
      .isEmpty && stored.assignments.join(deltaIds, "id")
      .exceptAll(dAssign).isEmpty,
      "appended assignments must equal the full build's rows")
    assert(dCodes.exceptAll(stored.codes.join(deltaIds, "id")).isEmpty &&
      stored.codes.join(deltaIds, "id").exceptAll(dCodes).isEmpty,
      "appended codes must equal the full build's rows")
  }
}
