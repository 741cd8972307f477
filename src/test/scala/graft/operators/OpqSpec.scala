package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * OPQ (Ge et al. 2013) — gated on the data regime where the method is
 * DEFINED to pay: product quantization assumes subspace independence,
 * so when variance is anisotropic and mixed across the subspace split
 * by an unknown basis, a learned rotation must recover codebook
 * efficiency that the flat split cannot. The AnnRecall gate fixture is
 * near-isotropic (measured: OPQ ≡ flat at 0.61 ADC recall — no
 * structure for a rotation to exploit, so no ledger floor is claimed
 * there); THIS spec constructs the anisotropic-mixed regime and
 * asserts the win, plus the algebraic invariants every consumer of the
 * rotation relies on.
 */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  private val D = 16
  private val M = 4
  private val SubDim = 4
  private val KSub = 8
  private val N = 400
  private val K = 10

  /** x = Q·z: z axis-aligned with sharply decaying variance (most
    * energy in 4 of 16 dims), Q a fixed random orthogonal mix — every
    * PQ subspace of x sees a full-rank mixture, while Qᵀ (learnable)
    * restores the axis-aligned concentration. */
  private lazy val data: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(7)
    val g = breeze.linalg.DenseMatrix.fill(D, D)(rnd.nextGaussian())
    val q = breeze.linalg.qr(g).q
    (0L until N.toLong).map { i =>
      val z = breeze.linalg.DenseVector.tabulate(D)(k =>
        rnd.nextGaussian() * math.pow(2.0, -k / 2.0))
      val x = q * z
      (i, x.toArray.toSeq)
    }
  }

  private lazy val frame = data.toDF("id", "v")

  private def l2sq(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), _ + _)

  private lazy val queries = frame.filter(col("id") % 40 === 3)
    .select(col("id").as("qid"), col("v").as("qv"))

  private lazy val truth = TopK.topKPerGroup(
    frame.crossJoin(broadcast(queries)).filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), l2sq(col("v"), col("qv")).as("l2")),
    Seq(col("qid")), Seq(col("l2").asc, col("id").asc), K)
    .select("qid", "id")

  private def adcRecall(vecs: org.apache.spark.sql.DataFrame,
                        qs: org.apache.spark.sql.DataFrame,
                        cb: org.apache.spark.sql.DataFrame): Double = {
    val codes = SimilaritySearch.pqCodesSub(vecs, col("id"), col("v"),
      cb, M, SubDim)
    val qd = qs.crossJoin(broadcast(cb))
      .select(col("qid"), col("s"), col("cid"),
        l2sq(slice(col("qv"), col("s") * SubDim + 1, lit(SubDim)),
          col("cvs")).as("dq"))
    val adc = codes.join(broadcast(qd), Seq("s", "cid"))
      .groupBy("qid", "id").agg(sum("dq").as("adc"))
      .filter(col("id") =!= col("qid"))
    val top = TopK.topKPerGroup(adc, Seq(col("qid")),
      Seq(col("adc").asc, col("id").asc), K)
    val nq = qs.count()
    truth.join(top.select("qid", "id"), Seq("qid", "id")).count()
      .toDouble / (K * nq)
  }

  test("learned rotation is orthogonal and rotated() preserves L2 " +
      "geometry (the invariant ADC-in-rotated-space relies on)") {
    val (r, _, _) = SimilaritySearch.opqTrainWithFlat(frame, col("id"),
      col("v"), M, SubDim, KSub, iters = 2)
    // R·Rᵀ = I
    val rm = breeze.linalg.DenseMatrix.tabulate(D, D)((i, j) => r(i)(j))
    val ident = rm * rm.t
    (0 until D).foreach { i =>
      (0 until D).foreach { j =>
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(ident(i, j) - want) < 1e-9,
          s"R·Rᵀ[$i,$j] = ${ident(i, j)}")
      }
    }
    // pairwise L2 is invariant under the rotation expression itself
    val rotFrame = frame.select(col("id"),
      SimilaritySearch.rotated(col("v"), r, D).as("v"))
    val a = frame.filter(col("id") < 10)
    val ar = rotFrame.filter(col("id") < 10)
    val orig = a.as("x").join(a.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        l2sq(col("x.v"), col("y.v")).as("d")).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1)) -> r0.getDouble(2)).toMap
    val rot = ar.as("x").join(ar.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        l2sq(col("x.v"), col("y.v")).as("d")).collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1)) -> r0.getDouble(2)).toMap
    orig.foreach { case (k, d) =>
      assert(math.abs(rot(k) - d) < 1e-9 * (1 + d),
        s"pair $k: L2 moved $d -> ${rot(k)} under rotation")
    }
  }

  test("anisotropic variance mixed across the subspace split: OPQ ADC " +
      "recall beats the flat per-subspace codebooks at the same budget") {
    val cbFlat = SimilaritySearch.pqCodebookSubKMeans(frame, col("id"),
      col("v"), M, SubDim, KSub)
    val flat = adcRecall(frame, queries, cbFlat)
    val (r, cbOpq, _) = SimilaritySearch.opqTrainWithFlat(frame, col("id"),
      col("v"), M, SubDim, KSub, iters = 4)
    val fr = frame.select(col("id"),
      SimilaritySearch.rotated(col("v"), r, D).as("v"))
    val opq = adcRecall(fr,
      queries.select(col("qid"),
        SimilaritySearch.rotated(col("qv"), r, D).as("qv")), cbOpq)
    info(f"flat ADC recall@10 = $flat%.3f, OPQ = $opq%.3f")
    assert(opq > flat,
      f"OPQ must beat flat PQ on anisotropic mixed data: $opq%.3f <= $flat%.3f")
  }
}
