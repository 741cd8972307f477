package graft.evaluate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{SimilaritySearch, TopK}
import graft.sources.Tables

/**
 * Measured recall@10 for every approximate ANN family at the
 * correctness-gate SF — the one computation behind BOTH the
 * `AnnRecallSpec` collapse floors and the `MetricsLedger` cross-round
 * ledger (`metrics_detail.json`), so the spec's floors and the ledger's
 * drift flags can never measure different things.
 *
 * Protocol (documented in SCALING.md "ANN measured recall"): 500×64
 * vectors at sf0.01, 10 seeded queries (vec_id % 50 == 7),
 * self-matches excluded, ground truth = brute-force cosine top-10
 * (exact L2 top-10 for the PQ families — the metric they approximate);
 * recall@10 = |ANN ∩ truth| / (10 · queries). Deterministic end-to-end
 * (modulus-sampled centroids/codebooks, fixed tie-breaks; the TRAINED
 * families are seeded k-means over canonicalized layout — reproducible
 * bit-for-bit across sessions and core counts IN THE SINGLE-JVM ledger
 * environment, where canonForFit pins both partitioning and in-partition
 * order; on a multi-executor cluster MLlib's per-center partial sums
 * merge in shuffle-arrival order, so centers can move by last-ulp
 * amounts — the goldens gate the local protocol, which is the only
 * place the ledger runs), so the values are GOLDENS: a move beyond the
 * ledger threshold means the index build changed, not the data.
 *
 * Trained-family budgets (r12): 25 coarse lists, probe 10 (same 40%
 * scan fraction as the modulus families' 2-of-5, finer cells);
 * m=8 × 8-d subspaces × 256 codes = 8 bytes/vector, the FAISS-standard
 * 8-bit code budget (32× compression at 64-d float32). At the 500-row
 * gate fixture a 256-entry codebook is comparable to the corpus — a
 * fixture-scale artifact; at production scale it is 64 KB broadcast.
 */
object AnnRecall {

  val GateDir = "/root/testdata/sf0.01"
  private val NQueries = 10
  private val K = 10

  private def l2sq(a: Column, b: Column): Column =
    VectorFunctions.sqDist(a, b)

  /** All nine family recalls (five modulus twins + three trained + the
    * refined two-stage serving composition) as ledger rows. */
  def measure(spark: SparkSession, dir: String = GateDir)
      : Seq[(String, Double)] = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"),
        VectorFunctions.unit(col("embedding")).as("u"))
      .filter(col("u").isNotNull)
      .cache()
    val queries = e.filter(col("id") % 50 === 7)
      .select(col("id").as("qid"), col("embedding").as("qv"),
        col("u").as("qu"))
    // the denominator is the PROTOCOL's query count — a regenerated
    // fixture that yields fewer (zero-norm vector on a qualifying id,
    // changed row count) must fail loudly, not silently deflate every
    // golden into a misdiagnosed index-drift flag
    require(queries.count() == NQueries,
      s"AnnRecall protocol broken: expected $NQueries query vectors " +
        s"(id % 50 == 7, non-degenerate) in $dir")
    val pairs = e.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        VectorFunctions.dot(col("u"), col("qu")).as("cos"),
        l2sq(col("embedding"), col("qv")).as("l2"))
      .cache()
    val cosTruth = TopK.topKPerGroup(pairs, Seq(col("qid")),
      Seq(col("cos").desc, col("id").asc), K).select("qid", "id").cache()
    val l2Truth = TopK.topKPerGroup(pairs, Seq(col("qid")),
      Seq(col("l2").asc, col("id").asc), K).select("qid", "id").cache()
    def recall(ann: DataFrame, truth: DataFrame): Double =
      truth.join(ann.select("qid", "id"), Seq("qid", "id")).count()
        .toDouble / (K * NQueries)

    val embsRaw = Tables.load(spark, dir, "embeddings")
    val cents = SimilaritySearch.ivfCentroids(embsRaw, col("vec_id"),
      col("embedding"), 100)
    val assign = SimilaritySearch.ivfAssign(embsRaw, col("vec_id"),
      col("embedding"), 100).select("id", "cid")
    val qc = queries.crossJoin(broadcast(cents))
      .select(col("qid"),
        VectorFunctions.dot(col("qu"), col("cu")).as("qcos"), col("cid"))
    val probed = TopK.topKPerGroup(qc, Seq(col("qid")),
      Seq(col("qcos").desc, col("cid").asc), 2).select("qid", "cid")

    // IVF: probe 2 of 5 lists, exact cosine within
    val ivfTop = TopK.topKPerGroup(
      probed.join(assign, "cid").select("qid", "id")
        .join(pairs, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("cos").desc, col("id").asc), K)
    val ivfR = recall(ivfTop, cosTruth)

    // LSH: 16 sign buckets, single probe
    val bucketed = e.withColumn("b",
      SimilaritySearch.lshBucket(col("u"), dims = 64, planes = 4))
    val qb = queries.withColumn("qb",
      SimilaritySearch.lshBucket(col("qu"), dims = 64, planes = 4))
    val lshTop = TopK.topKPerGroup(
      bucketed.join(broadcast(qb), col("b") === col("qb"))
        .filter(col("id") =!= col("qid")).select("qid", "id")
        .join(pairs, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("cos").desc, col("id").asc), K)
    val lshR = recall(lshTop, cosTruth)

    // PQ-ADC over the full corpus (raw codes)
    val cb = embsRaw.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("ccid"), col("embedding").as("cv"))
    def subv(v: Column): Column = slice(v, col("s") * 16 + 1, lit(16))
    val codes = TopK.topKPerGroup(
      e.select(col("id"), col("embedding"),
          explode(sequence(lit(0), lit(3))).as("s"))
        .crossJoin(broadcast(cb))
        .select(col("id"), col("s"), col("ccid"),
          l2sq(subv(col("embedding")), subv(col("cv"))).as("d")),
      Seq(col("id"), col("s")), Seq(col("d").asc, col("ccid").asc), 1)
      .select("id", "s", "ccid").cache()
    val dq = queries
      .select(col("qid"), col("qv"), explode(sequence(lit(0), lit(3))).as("s"))
      .crossJoin(broadcast(cb))
      .select(col("qid"), col("s"), col("ccid"),
        l2sq(subv(col("qv")), subv(col("cv"))).as("dq"))
    val adcAll = codes.join(broadcast(dq), Seq("s", "ccid"))
      .groupBy("qid", "id").agg(sum("dq").as("adc"))
      .filter(col("id") =!= col("qid"))
    val pqTop = TopK.topKPerGroup(adcAll, Seq(col("qid")),
      Seq(col("adc").asc, col("id").asc), K)
    val pqR = recall(pqTop, l2Truth)

    // IVF-PQ: raw codes restricted to probed-list members
    val ivfpqTop = TopK.topKPerGroup(
      probed.join(assign, "cid").select("qid", "id")
        .join(adcAll, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("adc").asc, col("id").asc), K)
    val ivfpqR = recall(ivfpqTop, l2Truth)

    // residual IVF-PQ: residual-space codebook, per-list ADC tables
    val rawCents = embsRaw.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cvr"))
    val resid = embsRaw.select(col("vec_id").as("id"), col("embedding"))
      .join(assign, "id")
      .join(broadcast(rawCents), "cid")
      .select(col("id"), col("cid"),
        zip_with(col("embedding"), col("cvr"),
          (x, y) => x.cast("double") - y.cast("double")).as("r"))
    val rcb = resid.filter(col("id") % 100 === 0)
      .select(col("id").as("ccid"), col("r").as("cr"))
    val rcodes = TopK.topKPerGroup(
      resid.select(col("id"), col("cid"), col("r"),
          explode(sequence(lit(0), lit(3))).as("s"))
        .crossJoin(broadcast(rcb))
        .select(col("id"), col("cid"), col("s"), col("ccid"),
          l2sq(subv(col("r")), subv(col("cr"))).as("d")),
      Seq(col("id"), col("s")), Seq(col("d").asc, col("ccid").asc), 1)
      .select("id", "cid", "s", "ccid")
    val qres = probed.join(broadcast(rawCents), "cid")
      .join(queries.select("qid", "qv"), "qid")
      .select(col("qid"), col("cid"),
        zip_with(col("qv"), col("cvr"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
    val rdq = qres
      .select(col("qid"), col("cid"), col("qr"),
        explode(sequence(lit(0), lit(3))).as("s"))
      .crossJoin(broadcast(rcb))
      .select(col("qid"), col("cid"), col("s"), col("ccid"),
        l2sq(subv(col("qr")), subv(col("cr"))).as("dq"))
    val radc = rcodes.join(broadcast(rdq), Seq("cid", "s", "ccid"))
      .groupBy("qid", "id").agg(sum("dq").as("adc"))
      .filter(col("id") =!= col("qid"))
    val residTop = TopK.topKPerGroup(radc, Seq(col("qid")),
      Seq(col("adc").asc, col("id").asc), K)
    val residR = recall(residTop, l2Truth)

    // ---- trained quantizers (seeded k-means; the production index) ----
    // Budgets (class scaladoc): 25 coarse lists probed 10 — the SAME
    // 40% scan fraction as the modulus families' 2-of-5, with finer
    // cells — and m=8 × 8-d subspaces × 256 codes = 8 bytes/vector,
    // the FAISS-standard 8-bit code budget (32× compression at 64-d
    // float32). Scan fraction held constant so the IVF delta isolates
    // centroid quality; the PQ rows additionally spend the standard
    // (not the modulus path's starved) code budget — both knobs are
    // exactly what the r11 verdict named as the binding constraint.
    val M = 8; val SubDim = 8; val KSub = 256; val KIvf = 25; val NProbeT = 10

    // trained spherical IVF: k-means centroids, probe NProbeT of KIvf,
    // exact cosine within probed lists
    val tcents = SimilaritySearch.ivfCentroidsKMeans(embsRaw,
      col("vec_id"), col("embedding"), KIvf)
    val tassign = SimilaritySearch.assignAgainst(tcents, embsRaw,
      col("vec_id"), col("embedding")).select("id", "cid")
    val tqc = queries.crossJoin(broadcast(tcents))
      .select(col("qid"),
        VectorFunctions.dot(col("qu"), col("cu")).as("qcos"), col("cid"))
    val tprobed = TopK.topKPerGroup(tqc, Seq(col("qid")),
      Seq(col("qcos").desc, col("cid").asc), NProbeT).select("qid", "cid")
    val ivfKmTop = TopK.topKPerGroup(
      tprobed.join(tassign, "cid").select("qid", "id")
        .join(pairs, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("cos").desc, col("id").asc), K)
    val ivfKmR = recall(ivfKmTop, cosTruth)

    // trained flat IVF-PQ: L2 k-means coarse (probe 2 min-L2 lists) +
    // per-subspace trained codebook over raw vectors, batched ADC
    val l2cents = SimilaritySearch.ivfCentroidsKMeansL2(embsRaw,
      col("vec_id"), col("embedding"), KIvf)
    val l2assign = SimilaritySearch.assignAgainstL2TopA(l2cents, embsRaw,
      col("vec_id"), col("embedding"), a = 1).select("id", "cid")
    val ql2 = queries.crossJoin(broadcast(l2cents))
      .select(col("qid"), l2sq(col("qv"), col("cvr")).as("cd"), col("cid"))
    val probedL2 = TopK.topKPerGroup(ql2, Seq(col("qid")),
      Seq(col("cd").asc, col("cid").asc), NProbeT).select("qid", "cid")
    val cbFlat = SimilaritySearch.pqCodebookSubKMeans(embsRaw,
      col("vec_id"), col("embedding"), M, SubDim, KSub)
    val codesFlat = SimilaritySearch.pqCodesSub(embsRaw, col("vec_id"),
      col("embedding"), cbFlat, M, SubDim).cache()
    val qdT = queries.crossJoin(broadcast(cbFlat))
      .select(col("qid"), col("s"), col("cid"),
        l2sq(slice(col("qv"), col("s") * SubDim + 1, lit(SubDim)),
          col("cvs")).as("dq"))
    val adcT = codesFlat.join(broadcast(qdT), Seq("s", "cid"))
      .groupBy("qid", "id").agg(sum("dq").as("adc"))
      .filter(col("id") =!= col("qid"))
    val ivfpqKmTop = TopK.topKPerGroup(
      probedL2.join(l2assign, "cid").select("qid", "id")
        .join(adcT, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("adc").asc, col("id").asc), K)
    val ivfpqKmR = recall(ivfpqKmTop, l2Truth)

    // (nprobe, refineFactor) operating curve over the SAME trained index
    // frames — the q203 instrument at production-quantizer quality:
    // recall@10 vs l2Truth after the rf·K ADC shortlist + exact re-rank,
    // plus the scanned candidate fraction (the cost axis). The
    // oracle-gated q203 curve runs the modulus quantizers, whose
    // measured recall ceiling (~0.17 at full scan) is the argument FOR
    // these trained rows: quantizer quality binds before probe budget.
    val nTotal = e.count()
    val curveRows = Seq((5, 1), (10, 1), (10, 3), (15, 3)).flatMap {
      case (np, rf) =>
        val probedNp = TopK.topKPerGroup(ql2, Seq(col("qid")),
          Seq(col("cd").asc, col("cid").asc), np).select("qid", "cid")
        val cand = probedNp.join(l2assign, "cid").select("qid", "id")
          .filter(col("id") =!= col("qid")).cache()
        val scanFrac = cand.count().toDouble / (NQueries.toLong * nTotal)
        val shortl = TopK.topKPerGroup(cand.join(adcT, Seq("qid", "id")),
          Seq(col("qid")), Seq(col("adc").asc, col("id").asc), rf * K)
        val top = TopK.topKPerGroup(
          shortl.select("qid", "id").join(pairs, Seq("qid", "id")),
          Seq(col("qid")), Seq(col("l2").asc, col("id").asc), K)
        val rec = recall(top, l2Truth)
        cand.unpersist()
        Seq(s"ann_curve_trained_np${np}_rf${rf}_recall" -> rec,
          s"ann_curve_trained_np${np}_rf${rf}_scan" -> scanFrac)
    }

    // SPILLED trained curve (kIvf=100, A=2 — VERDICT r15 #2): top-2
    // multi-assignment over finer cells raises probed-list coverage,
    // the measured binding constraint of the single-assign family, at
    // FIXED scan fraction. The codes/ADC table is the same flat trained
    // codebook (codes are per-vector facts — only the assignment table
    // spills). Measured: 0.91 @ scan 0.465 (np14 rf3) and 0.97 @ 0.539
    // (np18 rf5) vs the single-assign 0.81 @ 0.544 — better on both
    // axes; floored in AnnRecallSpec.
    val sCents = SimilaritySearch.ivfCentroidsKMeansL2(embsRaw,
      col("vec_id"), col("embedding"), 100)
    val sAssign = SimilaritySearch.assignAgainstL2TopA(sCents, embsRaw,
      col("vec_id"), col("embedding"), 2).select("id", "cid")
    val sQl2 = queries.crossJoin(broadcast(sCents))
      .select(col("qid"), l2sq(col("qv"), col("cvr")).as("cd"), col("cid"))
    val spillRows = Seq((14, 3), (18, 3), (18, 5)).flatMap {
      case (np, rf) =>
        val probedNp = TopK.topKPerGroup(sQl2, Seq(col("qid")),
          Seq(col("cd").asc, col("cid").asc), np).select("qid", "cid")
        val cand = probedNp.join(sAssign, "cid").select("qid", "id")
          .filter(col("id") =!= col("qid")).distinct().cache()
        val scanFrac = cand.count().toDouble / (NQueries.toLong * nTotal)
        val shortl = TopK.topKPerGroup(cand.join(adcT, Seq("qid", "id")),
          Seq(col("qid")), Seq(col("adc").asc, col("id").asc), rf * K)
        val top = TopK.topKPerGroup(
          shortl.select("qid", "id").join(pairs, Seq("qid", "id")),
          Seq(col("qid")), Seq(col("l2").asc, col("id").asc), K)
        val rec = recall(top, l2Truth)
        cand.unpersist()
        Seq(s"ann_curve_spill_np${np}_rf${rf}_recall" -> rec,
          s"ann_curve_spill_np${np}_rf${rf}_scan" -> scanFrac)
    }

    // trained residual IVF-PQ: codebook trained ON the residuals,
    // per-list query residual tables
    val residT = embsRaw
      .select(col("vec_id").as("id"), col("embedding"))
      .join(l2assign, "id")
      .join(broadcast(l2cents), "cid")
      .select(col("id"), col("cid"),
        zip_with(col("embedding"), col("cvr"),
          (x, y) => x.cast("double") - y.cast("double")).as("r"))
    val cbRes = SimilaritySearch.pqCodebookSubKMeans(residT, col("id"),
      col("r"), M, SubDim, KSub)
    val rcodesT = SimilaritySearch.pqCodesSub(residT, col("id"), col("r"),
        cbRes, M, SubDim)
      .withColumnRenamed("cid", "code")
      .join(residT.select("id", "cid"), "id")
    val qresT = probedL2.join(broadcast(l2cents), "cid")
      .join(queries.select("qid", "qv"), "qid")
      .select(col("qid"), col("cid"),
        zip_with(col("qv"), col("cvr"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
    val rdqT = qresT
      .crossJoin(broadcast(cbRes.withColumnRenamed("cid", "code")))
      .select(col("qid"), col("cid"), col("s"), col("code"),
        l2sq(slice(col("qr"), col("s") * SubDim + 1, lit(SubDim)),
          col("cvs")).as("dq"))
    val radcT = rcodesT.join(rdqT, Seq("cid", "s", "code"))
      .groupBy("qid", "id").agg(sum("dq").as("adc"))
      .filter(col("id") =!= col("qid"))
    val residKmTop = TopK.topKPerGroup(radcT, Seq(col("qid")),
      Seq(col("adc").asc, col("id").asc), K)
    val residKmR = recall(residKmTop, l2Truth)

    // refined trained IVF-PQ — the q158 two-stage serving composition
    // measured: the trained flat path's R = 3K ADC shortlist re-ranked
    // by EXACT L2 (same truth as the ADC rows, so the delta vs
    // ann_ivfpq_kmeans isolates what the refine stage alone recovers:
    // every truth member the shortlist contains but ADC ordering
    // misplaced outside the top-10)
    val shortlist = TopK.topKPerGroup(
      probedL2.join(l2assign, "cid").select("qid", "id")
        .join(adcT, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("adc").asc, col("id").asc), 3 * K)
      .select("qid", "id")
    val refinedTop = TopK.topKPerGroup(
      shortlist.join(pairs, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("l2").asc, col("id").asc), K)
    val refinedR = recall(refinedTop, l2Truth)

    // binary sign codes (q209 family): 256×-compressed hamming
    // shortlist (R = 10·K of the 500-vector corpus — a 20% scan) +
    // exact-cosine re-rank, vs cosine truth
    val bcodes = e.select(col("id"),
      SimilaritySearch.binarySignCode(col("embedding"), 64).as("c"))
    val qcodes = queries.select(col("qid"),
      SimilaritySearch.binarySignCode(col("qv"), 64).as("qc"))
    val bshort = TopK.topKPerGroup(
      bcodes.crossJoin(broadcast(qcodes))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          SimilaritySearch.hammingDistance(col("c"), col("qc")).as("h")),
      Seq(col("qid")), Seq(col("h").asc, col("id").asc), 10 * K)
    val binTop = TopK.topKPerGroup(
      bshort.select("qid", "id").join(pairs, Seq("qid", "id")),
      Seq(col("qid")), Seq(col("cos").desc, col("id").asc), K)
    val binR = recall(binTop, cosTruth)

    Seq(e, pairs, cosTruth, l2Truth, codes, codesFlat).foreach(_.unpersist())
    Seq(
      "ann_ivf_recall_at_10" -> ivfR,
      "ann_lsh_recall_at_10" -> lshR,
      "ann_pq_recall_at_10" -> pqR,
      "ann_ivfpq_recall_at_10" -> ivfpqR,
      "ann_ivfpq_residual_recall_at_10" -> residR,
      "ann_ivf_kmeans_recall_at_10" -> ivfKmR,
      "ann_ivfpq_kmeans_recall_at_10" -> ivfpqKmR,
      "ann_ivfpq_residual_kmeans_recall_at_10" -> residKmR,
      "ann_ivfpq_kmeans_refined_recall_at_10" -> refinedR,
      "ann_binary_refined_recall_at_10" -> binR) ++ curveRows ++
      spillRows
  }

  /** The q203 (nprobe, refineFactor) operating curve as ledger rows —
    * recall@10 AND scanned fraction per config, off the stored
    * modulus-quantizer index (one source of truth with the oracle-gated
    * query: `AnnCurveQueries.curve`). Seed-deterministic goldens like
    * every other row here; the recall/cost dial is thereby MEASURED
    * per round, and a move means the index build changed. */
  def operatingCurve(spark: SparkSession, dir: String = GateDir)
      : Seq[(String, Double)] =
    graft.queries.AnnCurveQueries.curve(spark, dir).collect().toSeq
      .flatMap { r =>
        val p = r.getInt(0); val f = r.getInt(1)
        Seq(s"ann_curve_np${p}_rf${f}_recall" -> r.getDouble(2),
          s"ann_curve_np${p}_rf${f}_scan" -> r.getDouble(3))
      }

  /** q210 (OPQ vs flat PQ on the anisotropic-mixed fixture) as ledger
    * rows — one source of truth with the oracle-gated query. The pair
    * is the VERDICT r16 #3 comparison golden: `opq_adc_recall` must
    * stay above `pq_flat_adc_recall` (floored in OpqSpec's gate on
    * the same regime). */
  def opqGate(spark: SparkSession, dir: String = GateDir)
      : Seq[(String, Double)] =
    graft.queries.AnnServingQueries.opqRecall(spark, dir).collect().toSeq
      .map(r => (if (r.getString(0) == "opq") "opq_adc_recall"
        else "pq_flat_adc_recall") -> r.getDouble(1))

  /** q211 (binary stage-0 → trained-PQ ADC → exact refine) as ledger
    * rows — recall AND the ADC-stage scan fraction per (bpct, rf)
    * config, one source of truth with the oracle-gated query. */
  def twoStageCurve(spark: SparkSession, dir: String = GateDir)
      : Seq[(String, Double)] =
    graft.queries.AnnServingQueries.twoStageCurve(spark, dir).collect()
      .toSeq.flatMap { r =>
        val b = r.getInt(0); val f = r.getInt(1)
        Seq(s"ann_b2_bp${b}_rf${f}_recall" -> r.getDouble(2),
          s"ann_b2_bp${b}_rf${f}_scan" -> r.getDouble(3))
      }
}
