package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions.sqDist
import graft.operators.SimilaritySearch

/**
 * [[ArrayPqEncode]] through `SimilaritySearch.pqCodesSub` against the
 * broadcast-join + argmax encoder it replaced, kept here as the
 * reference: explode each vector into m subspace rows, join the codebook
 * by subspace, keep `max(struct(−d, −cid))` per (id, s). Equal means the
 * same schema and the same (id, s, cid) multiset — over float and double
 * vectors and codebooks, int and bigint cids, exact ties, NaN, a null
 * vector, a null element and a vector shorter than m·subDim.
 */
class ArrayPqEncodeSpec extends SparkSpec {
  import spark.implicits._

  private def reference(vecs: DataFrame, idCol: Column, vecCol: Column,
                        codebookSub: DataFrame, m: Int,
                        subDim: Int): DataFrame =
    vecs.select(idCol.as("id"), vecCol.as("v"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .join(broadcast(codebookSub), Seq("s"))
      .select(col("id"), col("s"),
        struct((-sqDist(slice(col("v"), col("s") * subDim + 1, lit(subDim)),
            col("cvs"))).as("nd"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy("id", "s").agg(max(col("sc")).as("mx"))
      .select(col("id"), col("s"), (-col("mx.ncid")).as("cid"))

  private def assertSame(vecs: DataFrame, codebook: DataFrame, m: Int,
                         subDim: Int): Unit = {
    val got = SimilaritySearch.pqCodesSub(vecs, col("id"), col("v"),
      codebook, m, subDim)
    val want = reference(vecs, col("id"), col("v"), codebook, m, subDim)
    assert(got.schema === want.schema)
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g === w)
  }

  private val rnd = new scala.util.Random(17)
  private val M = 4
  private val SubDim = 3

  private def floats(n: Int): Seq[java.lang.Float] =
    (0 until n).map(_ => java.lang.Float.valueOf(rnd.nextGaussian().toFloat))

  /** The vectors every case runs over: random ones plus the edge rows. */
  private def edgeVectors: Seq[(Long, Seq[java.lang.Float])] =
    (0 until 60).map(i => (i.toLong, floats(M * SubDim))) ++ Seq(
      (100L, null),                                          // null vector
      (101L, floats(M * SubDim).updated(4, null)),           // null element
      (102L, floats(M * SubDim - 2)),                        // short: s = 3
      (103L, floats(SubDim + 1)),                            // short: s ≥ 2 empty
      (104L, floats(M * SubDim).updated(7, java.lang.Float.NaN)))

  private def doubleCodebook(cidType: String): DataFrame =
    (0 until M).flatMap { s =>
      (0 until 9).map(c => (s, c * 7L + 3, (0 until SubDim).map(_ =>
        rnd.nextGaussian())))
    }.toDF("s", "cid", "cvs").withColumn("cid", col("cid").cast(cidType))

  test("array<float> vectors, double codebook, bigint and int cids: " +
      "kernel == join/argmax, incl. null vector, null element, NaN and " +
      "short vectors") {
    val vecs = edgeVectors.toDF("id", "v")
    Seq("bigint", "int").foreach(t =>
      assertSame(vecs, doubleCodebook(t), M, SubDim))
    // the codegen path (an Exchange keeps the plan off the local relation)
    assertSame(vecs.repartition(3), doubleCodebook("bigint"), M, SubDim)
  }

  test("array<double> vectors against a float codebook sliced from raw " +
      "vectors (the modulus pqCodebook)") {
    val embs = (0 until 80).map(i => (i.toLong, floats(M * SubDim)))
      .toDF("id", "v")
    val cb = SimilaritySearch.pqCodebook(embs, col("id"), col("v"), 8, M,
      SubDim)
    val vecs = edgeVectors.toDF("id", "v")
      .withColumn("v", col("v").cast("array<double>"))
    assertSame(vecs, cb, M, SubDim)
    assertSame(edgeVectors.toDF("id", "v"), cb, M, SubDim)
  }

  test("ties go to the lowest cid: duplicate centroids and equidistant " +
      "vectors") {
    // every subspace holds the same centroid under cids 9, 4 and 6, plus
    // ±1 centroids that tie with each other for a zero vector
    val cb = (0 until M).flatMap { s =>
      Seq((s, 9L, Seq(0.5, 0.5, 0.5)), (s, 4L, Seq(0.5, 0.5, 0.5)),
        (s, 6L, Seq(0.5, 0.5, 0.5)), (s, 21L, Seq(1.0, 0.0, 0.0)),
        (s, 20L, Seq(-1.0, 0.0, 0.0)))
    }.toDF("s", "cid", "cvs")
    val vecs = Seq(
      (1L, Seq.fill(M * SubDim)(0.5f)),
      (2L, Seq.fill(M * SubDim)(0.0f)),
      (3L, Seq.fill(M * SubDim)(0.25f))).toDF("id", "v")
    assertSame(vecs, cb, M, SubDim)
    val codes = SimilaritySearch.pqCodesSub(vecs, col("id"), col("v"), cb, M,
      SubDim).filter(col("id") === 1L).select("cid").as[Long].collect()
    assert(codes.toSeq === Seq.fill(M)(4L))
  }

  test("a subspace without codebook entries codes no row, as the join " +
      "emitted none; entries outside 0 until m are ignored") {
    val cb = doubleCodebook("bigint")
      .filter(col("s") =!= 2)
      .union(Seq((7, 1L, Seq(0.0, 0.0, 0.0))).toDF("s", "cid", "cvs"))
    assertSame(edgeVectors.toDF("id", "v"), cb, M, SubDim)
  }
}
