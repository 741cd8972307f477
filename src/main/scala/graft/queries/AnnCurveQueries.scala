package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.SimilaritySearch
import graft.sources.Tables

/**
 * IVF-PQ (nprobe, refineFactor) operating curve (q203 — VERDICT r14
 * #4, the q185 discipline applied to ANN): off ONE stored index, every
 * config's measured recall@10 against exact-cosine ground truth AND its
 * scanned fraction — the recall/cost dial a 100 TB deployment tunes
 * BEFORE committing to a probe budget, measured rather than asserted.
 *
 * Protocol: the q158 index parameters (ivfModulus 200 → coarse lists,
 * pqModulus 100 codebook, m=4 × 16-d subspaces), the AnnRecall query
 * protocol (vec_id % 50 == 7 queries, self-matches excluded), configs
 * = {1,2,3} probes × {1,3} refine factors. The index is built once,
 * parquet-roundtripped, and every config row reads the SAME stored
 * frames (centroids/assignments/codebook/codes) — so the curve is a
 * property of the artifact a cluster would actually serve from.
 * `scanned_frac` = probed-list candidate pairs / (queries × corpus):
 * the fraction of the corpus the ADC stage touches, the cost axis.
 *
 * Plan shape: centroid ranking and the ADC lookup table are
 * query×centroid / query×codebook BROADCAST joins (tiny right sides);
 * candidates come from the stored assignment lists; per-config ranking
 * is one window over (config, query) partitions. The ONLY all-pairs
 * pass is the ground truth — the instrument's cost, never the serving
 * path's (q185's contract).
 *
 * The DuckDB oracle replays the identical math: same modulus
 * centroids/codebook, same sub-distance double arithmetic as the
 * q141/q158 oracles, same tie-breaks, multi-query + config-joined.
 */
object AnnCurveQueries {

  private val IvfModulus = 200
  private val PqModulus = 100
  private val M = 4
  private val SubDim = 16
  private val K = 10
  private val Configs = Seq((1, 1), (1, 3), (2, 1), (2, 3), (3, 1), (3, 3))

  /** The curve frame — shared by the q203 oracle row and the
    * `MetricsLedger` ann-curve golden rows (one source of truth). */
  def curve(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.loadSpread(s, dir, "embeddings")
    // ONE index, stored and read back (the q158 stored-frame contract)
    val idx = SimilaritySearch.storeIndex(
      SimilaritySearch.ivfPqIndex(e, col("vec_id"), col("embedding"),
        IvfModulus, PqModulus, M, SubDim),
      Scratch.path(s, "q203"))
    val cents = idx.centroids
    val assign = idx.assignments.select("id", "cid")
    val cb = idx.codebook.select(col("s"), col("cid").as("code"), col("cvs"))
    val codes = idx.codes.select(col("id"), col("s"), col("cid").as("code"))

    val q = e.filter(pmod(col("vec_id"), lit(50)) === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        VectorFunctions.unit(col("embedding")).as("qu"))
      .filter(col("qu").isNotNull)
    // bounded driver scalars: corpus size and query count (the
    // scanned-fraction denominator), never row data
    val n = e.count()
    val nq = q.count()
    import s.implicits._
    val cfg = Configs.toDF("nprobe", "refine_factor")

    // Every HEAVY stage runs once, config-free; configs are derived by
    // filters afterwards. This works because (a) each corpus id belongs
    // to exactly ONE list, so a candidate pair (qid, id) carries a
    // single centroid rank rn and the nprobe candidate sets are nested
    // prefixes of the max-nprobe set; (b) adcd is a pure (qid, id)
    // value, independent of config; (c) the exact cosine is a pure
    // (qid, id) value — only the CUTOFFS (rn <= nprobe, rk <=
    // refine_factor*K, fr <= K) are per-config, and those are cheap
    // filters/windows over already-shortlisted rows.
    val maxProbe = Configs.map(_._1).max
    // centroid ranking ONCE per query
    val ranked = q.select(col("qid"), col("qu"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        VectorFunctions.dot(col("qu"), col("cu")).as("qcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("qcos").desc, col("cid").asc)))
      .filter(col("rn") <= maxProbe)
    // candidates ONCE at max nprobe, tagged with their list's rank
    val cand = ranked.select("qid", "cid", "rn").join(assign, "cid")
      .filter(col("id") =!= col("qid"))
      .select("qid", "id", "rn")
    val scanned = cand.join(broadcast(cfg), col("rn") <= col("nprobe"))
      .groupBy("nprobe", "refine_factor")
      .agg((count(lit(1)).cast("double") / lit(n * nq).cast("double"))
        .as("scanned_frac"))

    // ADC lookup table: (qid, s, code) → query→sub-centroid distance
    val dq = q.select(col("qid"), col("qv"),
        explode(sequence(lit(0), lit(M - 1))).as("s"))
      .join(broadcast(cb), Seq("s"))
      .select(col("qid"), col("s"), col("code"),
        VectorFunctions.sqDist(
          slice(col("qv"), col("s") * SubDim + 1, lit(SubDim)),
          col("cvs")).as("dq"))
    // the ADC distance ONCE per candidate pair; fixed-order d0+..+d(M-1)
    // derived from M (the adcTopKSub discipline: order-invariant, and the
    // term list tracks the constant instead of hardcoding four)
    val dCols = (0 until M).map(i =>
      max(when(col("s") === i, col("dq"))).as(s"d$i"))
    val adc = cand.join(codes, "id")
      .join(broadcast(dq), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(max(col("rn")).as("rn"), dCols: _*)
      .withColumn("adcd",
        (0 until M).map(i => col(s"d$i")).reduce(_ + _))
    // per-nprobe ADC rank (refine_factor only moves the cutoff)
    val byProbe = adc
      .join(broadcast(cfg.select("nprobe").distinct()),
        col("rn") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("nprobe", "qid")
          .orderBy(col("adcd").asc, col("id").asc)))
    val shortlist = byProbe.join(broadcast(cfg), Seq("nprobe"))
      .filter(col("rk") <= col("refine_factor") * K)
      .select("nprobe", "refine_factor", "qid", "id")
    // exact-cosine re-rank within the shortlist (the q154 refine stage);
    // the cosine itself is computed once per DISTINCT shortlisted pair
    val units = e.select(col("vec_id").as("id"),
        VectorFunctions.unit(col("embedding")).as("u"))
      .filter(col("u").isNotNull)
    val pairCos = shortlist.select("qid", "id").distinct()
      .join(units, "id")
      .join(broadcast(q.select(col("qid"), col("qu"))), "qid")
      .select(col("qid"), col("id"),
        VectorFunctions.dot(col("u"), col("qu")).as("cos"))
    val cfgWin = Window.partitionBy("nprobe", "refine_factor", "qid")
    val refined = shortlist
      .join(pairCos, Seq("qid", "id"))
      .withColumn("fr", row_number().over(
        cfgWin.orderBy(col("cos").desc, col("id").asc)))
      .filter(col("fr") <= K)
      .select("nprobe", "refine_factor", "qid", "id")
    // ground truth: exact cosine top-K per query over the full corpus
    val truth = units
      .crossJoin(broadcast(q.select(col("qid"), col("qu"))))
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", VectorFunctions.dot(col("u"), col("qu")))
      .withColumn("tr", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("tr") <= K)
      .select("qid", "id")
    val rec = refined.join(truth, Seq("qid", "id"))
      .groupBy("nprobe", "refine_factor")
      .agg((count(lit(1)).cast("double") / lit(K.toLong * nq).cast("double"))
        .as("recall_at_10"))
    cfg.join(rec, Seq("nprobe", "refine_factor"), "left")
      .join(scanned, Seq("nprobe", "refine_factor"), "left")
      .select(col("nprobe"), col("refine_factor"),
        round(coalesce(col("recall_at_10"), lit(0.0)), 6).as("recall_at_10"),
        round(coalesce(col("scanned_frac"), lit(0.0)), 6).as("scanned_frac"))
      .orderBy("nprobe", "refine_factor")
  }

  /** Oracle-parity precondition: the Spark side drops null/zero-norm
    * vectors (unit() returns null) while the DuckDB replay keeps every
    * raw vector — a zero-norm embedding would shrink Spark's query/
    * truth denominators and feed the oracle's list_cosine_similarity a
    * zero vector. Fail the gate loudly instead. */
  def assertEmbeddingsSound(s: SparkSession, dir: String): Unit = {
    val bad = Tables.load(s, dir, "embeddings")
      .filter(col("embedding").isNull ||
        VectorFunctions.unit(col("embedding")).isNull)
      .limit(1).count()
    require(bad == 0,
      "ANN curve precondition violated: embeddings contains a null or " +
        "zero-norm vector; Spark filters it while the DuckDB oracle " +
        "keeps it — the two engines would diverge")
  }

  // ---- q204: the SPILLED trained curve (VERDICT r15 #2) ---------------
  private val SpillKIvf = 100
  private val SpillA = 2
  private val SpillM = 8
  private val SpillSubDim = 8
  private val SpillKSub = 256
  private val Dim = 64
  private val SpillConfigs = Seq((14, 3), (18, 3), (18, 5))

  /** Stored-artifact dir for q204 — (SF basename, pid)-keyed via
    * [[Scratch.oraclePath]]: the oracle SQL below templates the same
    * pid, so the replay reads exactly this session's artifacts and no
    * concurrent session can ever race on the path (VERDICT r16 #8 —
    * retires the staged-rename publish's residual delete+rename
    * window entirely). */
  private def spillOut(dir: String): String =
    Scratch.oraclePath("q204", new java.io.File(dir).getName)

  /**
   * q204 — the trained+spilled operating curve that breaks the 0.81
   * coverage ceiling, off STORED artifacts: seeded k-means coarse
   * centers (kIvf=100) + top-2 multi-assignment (A×) +
   * trained per-subspace PQ (m=8 × 8-d × 256), ADC shortlist rf·K,
   * exact-L2 re-rank; per config (nprobe, refineFactor) the measured
   * probed-list coverage, refined recall@10 against exact-L2 truth,
   * and scanned fraction.
   *
   * Oracle discipline for a TRAINED index: k-means itself is not
   * SQL-replayable, so the index artifacts (centroids, codebook) are
   * parquet-written by THIS query and the DuckDB oracle reads the same
   * files — then independently recomputes everything downstream of
   * training: the top-2 assignment kernel, the PQ encode argmin, the
   * probe ranking, scan/coverage accounting, the fixed-order ADC sum,
   * the exact-L2 refine, and the recall rollup. Training is gated by
   * the seeded AnnRecallSpec goldens; the whole search path is gated
   * cross-engine here. Single-pass plan (the q203 shape): every heavy
   * stage runs once at max nprobe, configs are filters; the only
   * all-pairs pass is the ground truth (contracted instrument cost).
   */
  def spilledCurve(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.loadSpread(s, dir, "embeddings")
    val n = e.count()
    // the k-means fits see a BOUNDED hash-sample (~2k vectors) — the
    // 100 TB build contract demonstrated in the declared query itself,
    // not just documented: training cost stops growing with the
    // corpus, and the oracle is unaffected because it replays from the
    // STORED centroids/codebook whatever sample trained them
    val trainFrac = if (n <= 2048L) 1.0 else 2048.0 / n
    // the path is (SF, pid)-private — no concurrent session can write
    // it, so a plain overwrite publish is race-free by construction
    val idx = SimilaritySearch.storeIndex(
      SimilaritySearch.ivfPqIndexTrainedSpilled(e, col("vec_id"),
        col("embedding"), SpillKIvf, SpillA, SpillKSub, SpillM, SpillSubDim,
        trainFrac = trainFrac),
      spillOut(dir))
    val cents = idx.centroids
    val assign = idx.assignments.select("id", "cid")
    val cb = idx.codebook.select(col("s"), col("cid").as("code"), col("cvs"))
    val codes = idx.codes.select(col("id"), col("s"), col("cid").as("code"))

    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorFunctions.sqDist(a, b)
    val q = e.filter(pmod(col("vec_id"), lit(50)) === 7)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val nq = q.count()
    import s.implicits._
    val cfg = SpillConfigs.toDF("nprobe", "refine_factor")
    val maxProbe = SpillConfigs.map(_._1).max
    val K10 = K

    // per-query centroid ranking once, at max nprobe
    val ranked = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"), l2(col("qv"), col("cvr")).as("cd"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cd").asc, col("cid").asc)))
      .filter(col("rn") <= maxProbe)
    // spilled candidates: a pair is scanned at nprobe np iff the MIN
    // probe rank over the vector's (multiple) probed home lists <= np —
    // the groupBy both DEDUPES multi-home pairs and carries that rank
    val candMin = ranked.select("qid", "cid", "rn").join(assign, "cid")
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id").agg(min(col("rn")).as("rn"))
      .localCheckpoint()
    val scanned = candMin.join(broadcast(cfg), col("rn") <= col("nprobe"))
      .groupBy("nprobe", "refine_factor")
      .agg((count(lit(1)).cast("double") / lit(n * nq).cast("double"))
        .as("scanned_frac"))

    // exact-L2 ground truth (the metric PQ approximates) — the one
    // contracted all-pairs instrument pass
    val ev = e.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val truth = ev.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), l2(col("v"), col("qv")).as("l2"))
      .withColumn("tr", row_number().over(
        Window.partitionBy("qid").orderBy(col("l2").asc, col("id").asc)))
      .filter(col("tr") <= K10).select("qid", "id")
      .localCheckpoint()
    val coverage = truth.join(candMin, Seq("qid", "id"))
      .join(broadcast(cfg), col("rn") <= col("nprobe"))
      .groupBy("nprobe", "refine_factor")
      .agg((count(lit(1)).cast("double") / lit(K10.toLong * nq).cast("double"))
        .as("coverage"))

    // ADC once per candidate pair (codes are per-vector facts)
    val dq = q.select(col("qid"), col("qv"),
        explode(sequence(lit(0), lit(SpillM - 1))).as("s"))
      .join(broadcast(cb), Seq("s"))
      .select(col("qid"), col("s"), col("code"),
        l2(slice(col("qv"), col("s") * SpillSubDim + 1, lit(SpillSubDim)),
          col("cvs")).as("dq"))
    val dCols = (0 until SpillM).map(i =>
      max(when(col("s") === i, col("dq"))).as(s"d$i"))
    val adc = candMin.join(codes, "id")
      .join(broadcast(dq), Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(max(col("rn")).as("rn"), dCols: _*)
      .withColumn("adcd",
        (0 until SpillM).map(i => col(s"d$i")).reduce(_ + _))
    val byProbe = adc
      .join(broadcast(cfg.select("nprobe").distinct()),
        col("rn") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("nprobe", "qid")
          .orderBy(col("adcd").asc, col("id").asc)))
    val shortlist = byProbe.join(broadcast(cfg), Seq("nprobe"))
      .filter(col("rk") <= col("refine_factor") * K10)
      .select("nprobe", "refine_factor", "qid", "id")
    // exact-L2 re-rank; the pair L2 computed once per distinct pair
    val pairL2 = shortlist.select("qid", "id").distinct()
      .join(ev, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"), l2(col("v"), col("qv")).as("l2"))
    val refined = shortlist.join(pairL2, Seq("qid", "id"))
      .withColumn("fr", row_number().over(
        Window.partitionBy("nprobe", "refine_factor", "qid")
          .orderBy(col("l2").asc, col("id").asc)))
      .filter(col("fr") <= K10)
      .select("nprobe", "refine_factor", "qid", "id")
    val rec = refined.join(truth, Seq("qid", "id"))
      .groupBy("nprobe", "refine_factor")
      .agg((count(lit(1)).cast("double") / lit(K10.toLong * nq).cast("double"))
        .as("recall_at_10"))
    cfg.join(coverage, Seq("nprobe", "refine_factor"), "left")
      .join(rec, Seq("nprobe", "refine_factor"), "left")
      .join(scanned, Seq("nprobe", "refine_factor"), "left")
      .select(col("nprobe"), col("refine_factor"),
        round(coalesce(col("coverage"), lit(0.0)), 6).as("coverage"),
        round(coalesce(col("recall_at_10"), lit(0.0)), 6).as("recall_at_10"),
        round(coalesce(col("scanned_frac"), lit(0.0)), 6).as("scanned_frac"))
      .orderBy("nprobe", "refine_factor")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q203_ann_operating_curve" -> ((s, dir) => curve(s, dir)),
    "q204_ann_spilled_curve" -> ((s, dir) => spilledCurve(s, dir)))

  val oracleSql: Map[String, String] = Map(

    "q203_ann_operating_curve" -> {
      val sub = (v: String) =>
        s"""list_sum([ ($v[sub.s*$SubDim+i] - cb.cv[sub.s*$SubDim+i])
           |         * ($v[sub.s*$SubDim+i] - cb.cv[sub.s*$SubDim+i])
           |           FOR i IN range(1, ${SubDim + 1}) ])""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 7),
        |nq AS (SELECT CAST(count(*) AS DOUBLE) AS nq FROM q),
        |cfg AS (SELECT * FROM (VALUES ${Configs.map { case (p, r) =>
           s"($p, $r)" }.mkString(", ")}) t(nprobe, refine_factor)),
        |ivfc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % $IvfModulus = 0),
        |ranked AS (SELECT q.qid, ivfc.cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(ivfc.cv, q.qv) DESC,
        |        ivfc.cid ASC) AS rn
        |  FROM q, ivfc),
        |assigned AS (SELECT e.vec_id AS id, ivfc.cid FROM e, ivfc
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.v, ivfc.cv) DESC,
        |      ivfc.cid ASC) = 1),
        |probed AS (SELECT c.nprobe, c.refine_factor, r.qid, r.cid
        |  FROM ranked r JOIN cfg c ON r.rn <= c.nprobe),
        |cand AS (SELECT p.nprobe, p.refine_factor, p.qid, a.id
        |  FROM probed p JOIN assigned a ON a.cid = p.cid
        |  WHERE a.id <> p.qid),
        |scanned AS (SELECT nprobe, refine_factor,
        |    count(*) / (nn.n * nq.nq) AS scanned_frac
        |  FROM cand, nn, nq GROUP BY nprobe, refine_factor, nn.n, nq.nq),
        |cbk AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % $PqModulus = 0),
        |sub AS (SELECT unnest(range(0, $M)) AS s),
        |codes AS (SELECT e.vec_id AS id, sub.s, cb.code FROM e, sub, cbk cb
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id, sub.s
        |    ORDER BY ${sub("e.v")}, cb.code) = 1),
        |dq AS (SELECT q.qid, sub.s, cb.code, ${sub("q.qv")} AS dq
        |  FROM q, sub, cbk cb),
        |adc AS (SELECT c.nprobe, c.refine_factor, c.qid, c.id,
        |    max(CASE WHEN k.s = 0 THEN d.dq END)
        |      + max(CASE WHEN k.s = 1 THEN d.dq END)
        |      + max(CASE WHEN k.s = 2 THEN d.dq END)
        |      + max(CASE WHEN k.s = 3 THEN d.dq END) AS adcd
        |  FROM cand c JOIN codes k ON k.id = c.id
        |    JOIN dq d ON d.qid = c.qid AND d.s = k.s AND d.code = k.code
        |  GROUP BY c.nprobe, c.refine_factor, c.qid, c.id),
        |short AS (SELECT nprobe, refine_factor, qid, id FROM adc
        |  QUALIFY row_number() OVER (PARTITION BY nprobe, refine_factor, qid
        |    ORDER BY adcd ASC, id ASC) <= refine_factor * $K),
        |refined AS (SELECT s.nprobe, s.refine_factor, s.qid, s.id
        |  FROM short s JOIN e ON e.vec_id = s.id JOIN q ON q.qid = s.qid
        |  QUALIFY row_number() OVER (PARTITION BY s.nprobe, s.refine_factor, s.qid
        |    ORDER BY list_cosine_similarity(e.v, q.qv) DESC, s.id ASC) <= $K),
        |truth AS (SELECT q.qid, e.vec_id AS id FROM e, q
        |  WHERE e.vec_id <> q.qid
        |  QUALIFY row_number() OVER (PARTITION BY q.qid
        |    ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id ASC)
        |      <= $K),
        |rec AS (SELECT r.nprobe, r.refine_factor,
        |    count(*) / ($K * nq.nq) AS recall_at_10
        |  FROM refined r JOIN truth t ON t.qid = r.qid AND t.id = r.id, nq
        |  GROUP BY r.nprobe, r.refine_factor, nq.nq)
        |SELECT c.nprobe, c.refine_factor,
        |  round(coalesce(rec.recall_at_10, 0.0), 6) AS recall_at_10,
        |  round(coalesce(sc.scanned_frac, 0.0), 6) AS scanned_frac
        |FROM cfg c
        |LEFT JOIN rec ON rec.nprobe = c.nprobe
        |  AND rec.refine_factor = c.refine_factor
        |LEFT JOIN scanned sc ON sc.nprobe = c.nprobe
        |  AND sc.refine_factor = c.refine_factor
        |ORDER BY c.nprobe, c.refine_factor""".stripMargin
    },

    // Replays the ENTIRE search path downstream of the k-means fits
    // from the stored q204 artifacts (centroids + codebook parquet,
    // written by the Spark query this run): top-2 assignment, PQ
    // encode, probe ranking, scan/coverage, fixed-order ADC, exact-L2
    // refine, recall. Path is the correctness-gate SF's — duckcheck
    // only runs at sf0.01.
    "q204_ann_spilled_curve" -> {
      val fullL2 = (a: String, b: String) =>
        s"""list_sum([ ($a[i] - $b[i]) * ($a[i] - $b[i])
           |           FOR i IN range(1, ${Dim + 1}) ])""".stripMargin
      val subL2 = (v: String) =>
        s"""list_sum([ ($v[cb.s*$SpillSubDim+i] - cb.cvs[i])
           |         * ($v[cb.s*$SpillSubDim+i] - cb.cvs[i])
           |           FOR i IN range(1, ${SpillSubDim + 1}) ])""".stripMargin
      val adcSum = (0 until SpillM)
        .map(i => s"max(CASE WHEN k.s = $i THEN d.dq END)")
        .mkString("\n        |      + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 50 = 7),
        |nq AS (SELECT CAST(count(*) AS DOUBLE) AS nq FROM q),
        |cfg AS (SELECT * FROM (VALUES ${SpillConfigs.map { case (p, r) =>
           s"($p, $r)" }.mkString(", ")}) t(nprobe, refine_factor)),
        |cents AS (SELECT cid, cvr
        |  FROM read_parquet('${Scratch.oraclePath("q204", "sf0.01")}/centroids/*.parquet')),
        |cb AS (SELECT s, cid AS code, cvs
        |  FROM read_parquet('${Scratch.oraclePath("q204", "sf0.01")}/codebook/*.parquet')),
        |ranked AS (SELECT q.qid, c.cid,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY ${fullL2("q.qv", "c.cvr")} ASC, c.cid ASC) AS rn
        |  FROM q, cents c
        |  QUALIFY rn <= ${SpillConfigs.map(_._1).max}),
        |assigned AS (SELECT e.vec_id AS id, c.cid FROM e, cents c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY ${fullL2("e.v", "c.cvr")} ASC, c.cid ASC) <= $SpillA),
        |candmin AS (SELECT r.qid, a.id, min(r.rn) AS rn
        |  FROM ranked r JOIN assigned a ON a.cid = r.cid
        |  WHERE a.id <> r.qid GROUP BY r.qid, a.id),
        |scanned AS (SELECT c.nprobe, c.refine_factor,
        |    count(*) / (nn.n * nq.nq) AS scanned_frac
        |  FROM candmin m JOIN cfg c ON m.rn <= c.nprobe, nn, nq
        |  GROUP BY c.nprobe, c.refine_factor, nn.n, nq.nq),
        |truth AS (SELECT q.qid, e.vec_id AS id FROM e, q
        |  WHERE e.vec_id <> q.qid
        |  QUALIFY row_number() OVER (PARTITION BY q.qid
        |    ORDER BY ${fullL2("e.v", "q.qv")} ASC, e.vec_id ASC) <= $K),
        |cov AS (SELECT c.nprobe, c.refine_factor,
        |    count(*) / ($K * nq.nq) AS coverage
        |  FROM truth t JOIN candmin m ON m.qid = t.qid AND m.id = t.id
        |    JOIN cfg c ON m.rn <= c.nprobe, nq
        |  GROUP BY c.nprobe, c.refine_factor, nq.nq),
        |codes AS (SELECT e.vec_id AS id, cb.s, cb.code FROM e, cb
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id, cb.s
        |    ORDER BY ${subL2("e.v")} ASC, cb.code ASC) = 1),
        |dq AS (SELECT q.qid, cb.s, cb.code, ${subL2("q.qv")} AS dq
        |  FROM q, cb),
        |adc AS (SELECT m.qid, m.id, m.rn,
        |    $adcSum AS adcd
        |  FROM candmin m JOIN codes k ON k.id = m.id
        |    JOIN dq d ON d.qid = m.qid AND d.s = k.s AND d.code = k.code
        |  GROUP BY m.qid, m.id, m.rn),
        |byprobe AS (SELECT np.nprobe, a.qid, a.id,
        |    row_number() OVER (PARTITION BY np.nprobe, a.qid
        |      ORDER BY a.adcd ASC, a.id ASC) AS rk
        |  FROM adc a JOIN (SELECT DISTINCT nprobe FROM cfg) np
        |    ON a.rn <= np.nprobe),
        |short AS (SELECT c.nprobe, c.refine_factor, b.qid, b.id
        |  FROM byprobe b JOIN cfg c ON c.nprobe = b.nprobe
        |  WHERE b.rk <= c.refine_factor * $K),
        |pairl2 AS (SELECT p.qid, p.id, ${fullL2("e.v", "q.qv")} AS l2
        |  FROM (SELECT DISTINCT qid, id FROM short) p
        |    JOIN e ON e.vec_id = p.id JOIN q ON q.qid = p.qid),
        |refined AS (SELECT s.nprobe, s.refine_factor, s.qid, s.id
        |  FROM short s JOIN pairl2 p ON p.qid = s.qid AND p.id = s.id
        |  QUALIFY row_number() OVER (PARTITION BY s.nprobe, s.refine_factor,
        |      s.qid ORDER BY p.l2 ASC, s.id ASC) <= $K),
        |rec AS (SELECT r.nprobe, r.refine_factor,
        |    count(*) / ($K * nq.nq) AS recall_at_10
        |  FROM refined r JOIN truth t ON t.qid = r.qid AND t.id = r.id, nq
        |  GROUP BY r.nprobe, r.refine_factor, nq.nq)
        |SELECT c.nprobe, c.refine_factor,
        |  round(coalesce(cov.coverage, 0.0), 6) AS coverage,
        |  round(coalesce(rec.recall_at_10, 0.0), 6) AS recall_at_10,
        |  round(coalesce(sc.scanned_frac, 0.0), 6) AS scanned_frac
        |FROM cfg c
        |LEFT JOIN cov ON cov.nprobe = c.nprobe
        |  AND cov.refine_factor = c.refine_factor
        |LEFT JOIN rec ON rec.nprobe = c.nprobe
        |  AND rec.refine_factor = c.refine_factor
        |LEFT JOIN scanned sc ON sc.nprobe = c.nprobe
        |  AND sc.refine_factor = c.refine_factor
        |ORDER BY c.nprobe, c.refine_factor""".stripMargin
    })
}
