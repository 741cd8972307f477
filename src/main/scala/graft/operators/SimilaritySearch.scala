package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.DriverOps.concurrently
import graft.functions.VectorFunctions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.mllib.clustering.GraftLocalKMeans

/**
 * Approximate/exact nearest-neighbor search over an embedding column
 * (beyond-reference LLM-pipeline operator — SURVEY §7.5; the reference's
 * similarity baseline scripts/evaluate.py:277-292 is the toy version).
 *
 * Scale notes (100 TB):
 *  - bruteForceTopK is a full scan + TakeOrderedAndProject: each partition
 *    keeps k rows, the driver merges — optimal for one-off queries, O(N·D)
 *    compute fanned across executors, no shuffle.
 *  - lshBuckets pre-partitions vectors into 2^planes hyperplane-sign
 *    buckets; repeated queries probe only matching buckets (bucket column
 *    → partition/Z-order key in storage). Planes are md5-derived ±1
 *    weights — deterministic, engine-portable, no stored model.
 *  - knnWithinBlock is the blocked all-pairs variant for "find each item's
 *    neighbors" jobs: quadratic ONLY within blocks — block first (LSH
 *    bucket, label, partition date), never all-pairs the corpus.
 */
object SimilaritySearch {

  /** Exact top-k by cosine against one query vector (literal). */
  def bruteForceTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    TopK.globalTopK(
      embs.select(idCol.as("id"), cosine(vecCol, q).as("cosine"))
        .filter(col("cosine").isNotNull),
      Seq(col("cosine").desc, col("id").asc), k)
  }

  /**
   * Hard-negative mining for contrastive/retrieval training — the
   * in-batch-random upgrade every dual-encoder pipeline runs
   * (Karpukhin et al. 2020, DPR §4.2: negatives NEAR the decision
   * boundary train far better than random draws, which q92 provides):
   * for each query vector, the `k` most-cosine-similar corpus vectors
   * whose `label` DIFFERS from the query's own.
   *
   * Returns (q_id, neg_id, cosine, neg_rank).
   *
   * Plan (mining-batch shape): the query batch broadcasts onto ONE
   * corpus scan — a |Q|·N pair projection with the cosine inside
   * whole-stage codegen — then a per-query top-k window. Brute force
   * is the right tool while |Q| is a training batch (hundreds); for
   * corpus-scale Q, mine through the stored IVF index instead
   * (q141/q143: probe lists bound the pair space per query).
   */
  def hardNegatives(corpus: DataFrame, idCol: Column, vecCol: Column,
                    labelCol: Column, queries: DataFrame, qId: Column,
                    qVec: Column, qLabel: Column, k: Int): DataFrame = {
    val q = broadcast(queries.select(qId.as("q_id"), qVec.as("_qv"),
      qLabel.as("_ql")))
    val pairs = corpus
      .select(idCol.as("neg_id"), vecCol.as("_v"), labelCol.as("_l"))
      .crossJoin(q)
      .filter(col("_l") =!= col("_ql"))
      .select(col("q_id"), col("neg_id"),
        cosine(col("_v"), col("_qv")).as("cosine"))
      .filter(col("cosine").isNotNull)
    TopK.topKPerGroup(pairs, Seq(col("q_id")),
        Seq(col("cosine").desc, col("neg_id").asc), k, rankCol = "neg_rank")
      .select(col("q_id"), col("neg_id"), col("cosine"), col("neg_rank"))
  }

  /** Deterministic ±1 hyperplane weight for (plane, dim): parity of the
    * first md5 hex digit of "p:d". Portable to any md5-capable engine. */
  private def planeWeight(p: Int, d: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) % 2 == 0) 1 else -1
  }

  /** Column expression: LSH bucket id ∈ [0, 2^planes) from hyperplane
    * signs. Weights are baked as literals (planes × dims known at plan
    * time) so the whole thing codegens into the scan. */
  def lshBucket(vecCol: Column, dims: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = (0 until dims).map { d =>
        element_at(vecCol, d + 1).cast("double") * planeWeight(p, d)
      }.reduce(_ + _)
      when(dot > 0, 1 << p).otherwise(0)
    }
    bits.reduce(_ + _)
  }

  /** Assign every vector its LSH bucket. */
  def lshBuckets(embs: DataFrame, idCol: Column, vecCol: Column,
                 dims: Int, planes: Int = 8): DataFrame =
    embs.select(idCol.as("id"), vecCol.as("v"),
      lshBucket(vecCol, dims, planes).as("bucket"))

  // ---------------- IVF (inverted-file) coarse index ----------------

  /** Deterministic IVF coarse centroids: every `modulus`-th id,
    * unit-normalized → (cid, cu). Hash-free and engine-portable (no
    * trained model to ship); K scales with corpus size. At 100 TB the
    * centroid set stays driver-broadcastable (K ≈ √N « N). */
  def ivfCentroids(embs: DataFrame, idCol: Column, vecCol: Column,
                   modulus: Int): DataFrame =
    embs.filter(pmod(idCol, lit(modulus)) === 0)
      .select(idCol.as("cid"), unit(vecCol).as("cu"))
      .filter(col("cu").isNotNull)

  /**
   * IVF assignment: every vector → its max-cosine centroid.
   * (id, cid, cosine). Broadcast nested-loop against the (small) centroid
   * set, then an ARGMAX as a partial aggregation — max(struct(cos, -cid))
   * gives deterministic ties (lowest cid) and map-side combine, so the
   * shuffle carries one row per vector, not per (vector × centroid).
   * This is the IVF build step; the assignment column is the storage
   * partition key for repeated-query serving (probe nprobe lists only).
   */
  def ivfAssign(embs: DataFrame, idCol: Column, vecCol: Column,
                modulus: Int): DataFrame =
    assignAgainst(ivfCentroids(embs, idCol, vecCol, modulus),
      embs, idCol, vecCol)

  /** Max-cosine assignment of `embs` against an EXPLICIT centroid table
    * (cid, cu) — the shared kernel of the inline build ([[ivfAssign]]),
    * the delta append ([[ivfAppend]]), and the streaming maintenance
    * sink (`Streams.ivfAppendBatchWriter`). Broadcast NL join + argmax
    * partial agg: the shuffle carries one row per vector. */
  def assignAgainst(cents: DataFrame, embs: DataFrame,
                    idCol: Column, vecCol: Column): DataFrame = {
    val e = embs.select(idCol.as("id"), unit(vecCol).as("u"))
      .filter(col("u").isNotNull)
    e.join(broadcast(cents))
      .select(col("id"),
        struct(dot(col("u"), col("cu")).as("cos"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy("id").agg(max(col("sc")).as("m"))
      .select(col("id"), (-col("m.ncid")).as("cid"), col("m.cos").as("cosine"))
  }

  /** The argmax-assignment kernel CARRYING the unit vector — the shared
    * form behind `Dedup.ivfCosineNearDups` and
    * `Corpus.decontaminateSemantic`, which need the unit vector
    * downstream for pair dots (it rides the same aggregate via
    * first(u), u being functionally dependent on id — one shuffle row
    * per vector instead of a re-join). (id, cid, u); same deterministic
    * lowest-cid tiebreak as [[assignAgainst]]. */
  private[operators] def assignWithVector(cents: DataFrame, embs: DataFrame,
                                          idCol: Column,
                                          vecCol: Column): DataFrame = {
    val e = embs.select(idCol.as("id"), unit(vecCol).as("u"))
      .filter(col("u").isNotNull)
    e.join(broadcast(cents))
      .select(col("id"), col("u"),
        struct(dot(col("u"), col("cu")).as("cos"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy("id")
      .agg(max(col("sc")).as("m"), first(col("u")).as("u"))
      .select(col("id"), (-col("m.ncid")).as("cid"), col("u"))
  }

  /** Drop every member of a list larger than `maxListSize` BEFORE a
    * quadratic pair join (cap semantics as `minhashNearDups`'s
    * maxBucketSize) — shared by the same two call sites. NOTE this is a
    * RECALL trade: dropped lists' pairs are silently lost; callers
    * document cap non-bindingness at their gate SFs. */
  private[operators] def capLists(assigned: DataFrame,
                                  maxListSize: Int): DataFrame =
    assigned.withColumn("_sz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cid"))))
      .filter(col("_sz") <= maxListSize).drop("_sz")

  /**
   * Incremental IVF maintenance — the ANN twin of incremental dedup
   * (`Dedup.incrementalNearDupsFromState`): a vector delta joins a
   * STORED index by assigning only the NEW vectors against the stored
   * centroid table (held FIXED — the standard IVF maintenance contract;
   * re-training centroids is a deliberate full [[ivfIndex]] rebuild per
   * corpus version) and unioning the delta assignments onto the stored
   * assignment table. Work ∝ |delta|: the corpus is never re-read, never
   * re-assigned. When the fixed centroid set equals what a full rebuild
   * would derive, the appended index is bit-identical to the rebuild
   * (spec-gated; q134 drives it end-to-end against the q73 oracle).
   * At 100 TB the delta assignments land as new files in the
   * cid-partitioned assignment table — an append, not a rewrite.
   */
  def ivfAppend(index: IvfIndex, newEmbs: DataFrame, idCol: Column,
                vecCol: Column): IvfIndex =
    IvfIndex(index.centroids,
      index.assignments.unionByName(
        assignAgainst(index.centroids, newEmbs, idCol, vecCol)))

  /** The materialize-once IVF index artifacts: the broadcastable
    * centroid table (cid, cu — unit vectors) and the per-vector
    * assignment (id, cid, cosine), both parquet-writable. */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /**
   * IVF index build, the production shape for repeated-query serving
   * (the `Dedup.nearDupArtifacts` pattern for the ANN family): compute
   * centroids + assignments ONCE per corpus version, write both, and
   * have every search read the stored frames via [[ivfTopKFromIndex]] —
   * at 100 TB the assignment pass (the only full-corpus work) never
   * re-runs per query, and the stored assignment column is the storage
   * partition key that lets unprobed lists go entirely unread. q132
   * drives the parquet roundtrip against q73's inline-build oracle.
   */
  def ivfIndex(embs: DataFrame, idCol: Column, vecCol: Column,
               modulus: Int): IvfIndex =
    IvfIndex(ivfCentroids(embs, idCol, vecCol, modulus),
      ivfAssign(embs, idCol, vecCol, modulus))

  /** The query's `nprobe` nearest centroid lists — one tiny top-k over
    * the centroid table, shared by every IVF-family search. */
  private def probedCids(centroids: DataFrame, query: Seq[Double],
                         nprobe: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    TopK.globalTopK(
      centroids.select(col("cid"), dot(col("cu"), q).as("ccos")),
      Seq(col("ccos").desc, col("cid").asc), nprobe).select("cid")
  }

  /** [[ivfTopK]] against a prebuilt (typically parquet-read) index:
    * probe the `nprobe` nearest centroid lists, score only their
    * members. No full-corpus pass — one broadcast of the probed cids,
    * one scan of the probed lists. */
  def ivfTopKFromIndex(embs: DataFrame, idCol: Column, vecCol: Column,
                       index: IvfIndex, query: Seq[Double],
                       nprobe: Int, k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val probed = probedCids(index.centroids, query, nprobe)
    // members of the probed lists can be a large fraction of N — plain
    // equi-join (AQE broadcasts it when small); only `probed` (nprobe
    // rows) is hint-broadcast
    val members = index.assignments.join(broadcast(probed), "cid").select("id")
    val scored = embs.select(idCol.as("id"), cosine(vecCol, q).as("cosine"))
      .join(members, "id")
      .filter(col("cosine").isNotNull)
    TopK.globalTopK(scored, Seq(col("cosine").desc, col("id").asc), k)
  }

  /**
   * IVF search: score ONLY vectors whose centroid is among the query's
   * `nprobe` nearest centroids — the classic recall/cost dial. One
   * broadcast (probed cids), one scan of the probed lists; with
   * assignment as the storage partition key the unprobed lists are never
   * read (partition pruning). Builds the index inline — repeated-query
   * serving uses [[ivfIndex]] + [[ivfTopKFromIndex]] instead.
   */
  def ivfTopK(embs: DataFrame, idCol: Column, vecCol: Column,
              query: Seq[Double], modulus: Int, nprobe: Int, k: Int): DataFrame =
    ivfTopKFromIndex(embs, idCol, vecCol,
      ivfIndex(embs, idCol, vecCol, modulus), query, nprobe, k)

  // ---------------- IVF-PQ (probe lists + ADC within lists) ----------------

  /** PQ codebook: every `modulus`-th vector held RAW (L2 code space, the
    * q85 convention), sliced into its m `subDim`-wide subspaces — the
    * per-subspace (s, cid, cvs) frame [[pqCodebookSubKMeans]] emits, so
    * both codebooks share [[pqCodesSub]] and the ADC tails.
    * Deterministic and engine-portable — no trained k-means model to
    * ship; k = N/modulus sub-centroids per subspace (every codebook
    * vector serves all m subspaces). */
  def pqCodebook(embs: DataFrame, idCol: Column, vecCol: Column,
                 modulus: Int, m: Int, subDim: Int): DataFrame =
    embs.filter(pmod(idCol, lit(modulus)) === 0)
      .select(idCol.as("cid"), vecCol.as("cv"),
        explode(sequence(lit(0), lit(m - 1))).as("s"))
      .select(col("s"), col("cid"),
        slice(col("cv"), col("s") * subDim + 1, lit(subDim)).as("cvs"))

  /** The most (s, cid, cvs) rows a codebook may have: [[pqCodesSub]] and
    * [[binaryAdcRefinedTopK]] collect it to the driver and bind it into the
    * plan as one literal. */
  val MaxCodebookRows = 65536

  /** The codebook (s, cid, cvs) collected in one job, at most
    * [[MaxCodebookRows]] rows, with s as int; rows with a null s are
    * dropped (no subspace joins them), a null cid is refused. */
  private def collectCodebook(codebookSub: DataFrame)
      : (Seq[Row], StructType) = {
    val cb = codebookSub.select(col("s").cast("int").as("s"), col("cid"),
        col("cvs"))
      .filter(col("s").isNotNull)
    val rows = cb.coalesce(1).limit(MaxCodebookRows + 1).collect().toSeq
    require(rows.size <= MaxCodebookRows,
      s"the PQ codebook has more than MaxCodebookRows = $MaxCodebookRows " +
        "(s, cid, cvs) rows; it is bound into the plan as one literal")
    require(rows.forall(!_.isNullAt(1)), "the PQ codebook has a null cid")
    (rows, cb.schema)
  }

  /** (s, cid, cvs) rows as the one array literal [[ArrayPqEncode]] reads. */
  private def codebookLit(rows: Seq[Row], schema: StructType): Column =
    GraftShim.column(Literal.create(rows, ArrayType(schema)))

  private def pqEncode(vecCol: Column, codebook: Column, m: Int,
                       subDim: Int): Column =
    GraftShim.column(graft.functions.ArrayPqEncode(GraftShim.expr(vecCol),
      GraftShim.expr(codebook), m, subDim))

  /**
   * PQ encoding: each vector → m one-byte-ish codes, one per `subDim`-wide
   * subspace — the per-subspace L2 argmin against the codebook (s, cid,
   * cvs), computed per row by the [[graft.functions.ArrayPqEncode]] kernel
   * and exploded to one row per subspace. Ties break to the lowest cid;
   * distances are [[graft.functions.ArraySqDist]]'s, each element widened
   * to double BEFORE the subtraction (float−float stays float32 and drifts
   * off a double oracle). Returns (id, s, cid).
   *
   * Job shape: one job collects the codebook (at most [[MaxCodebookRows]]
   * rows; the broadcast join this replaced pulled it through the driver
   * too), which the plan binds as one array literal; the encode itself is
   * scan-local — no shuffle, no join, one row out per (vector, subspace).
   */
  def pqCodesSub(vecs: DataFrame, idCol: Column, vecCol: Column,
                 codebookSub: DataFrame, m: Int, subDim: Int): DataFrame = {
    val (rows, schema) = collectCodebook(codebookSub)
    vecs.select(idCol.as("id"),
        posexplode(pqEncode(vecCol, codebookLit(rows, schema), m, subDim)))
      .select(col("id"), col("pos").as("s"), col("col").as("cid"))
      .filter(col("cid").isNotNull)
  }

  /** The flat ADC tail: codes (id, s, cid) + codebook (s, cid, cvs) +
    * query → per-candidate table-lookup distance, top-k. The lookup
    * table is m×k BROADCAST rows (query→sub-centroid distance per
    * (s, cid)); the total is the fixed-order d0+d1+…+d(m−1) sum (not
    * sum()) — bit-identical across engines. Returns (id, c0…c(m−1),
    * adc_dist, rank). */
  private[graft] def adcTopKSub(codes: DataFrame, codebookSub: DataFrame,
                                query: Seq[Double], m: Int, subDim: Int,
                                k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    val qd = codebookSub.select(col("s"), col("cid"),
      sqDist(slice(q, col("s") * subDim + 1, lit(subDim)), col("cvs")).as("dq"))
    val aggs = (0 until m).map(i =>
        max(when(col("s") === i, col("cid"))).as(s"c$i")) ++
      (0 until m).map(i =>
        max(when(col("s") === i, col("dq"))).as(s"d$i"))
    val adc = codes.join(broadcast(qd), Seq("s", "cid"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
    val total = (0 until m).map(i => col(s"d$i")).reduce(_ + _)
    TopK.globalTopK(
        adc.select(col("id") +: (0 until m).map(i => col(s"c$i")) :+
          round(total, 6).as("adc_dist") :+ total.as("_t"): _*),
        Seq(col("_t").asc, col("id").asc), k)
      .drop("_t")
  }

  /** The per-list ADC tail of the residual path: codes (id, s, code,
    * cid list) joined to per-(list, s, code) distances of the list's
    * query residual `qres` (cid, qr), fixed-order sum, top-k. Returns
    * (id, list_cid, adc_dist, rank). */
  private def adcResidualTail(codes: DataFrame, qres: DataFrame,
                              codebookSub: DataFrame, m: Int, subDim: Int,
                              k: Int): DataFrame = {
    val qd = qres
      .crossJoin(broadcast(codebookSub.withColumnRenamed("cid", "code")))
      .select(col("cid"), col("s"), col("code"),
        sqDist(slice(col("qr"), col("s") * subDim + 1, lit(subDim)),
          col("cvs")).as("dq"))
    val aggs = max(col("cid")).as("list_cid") +:
      (0 until m).map(i => max(when(col("s") === i, col("dq"))).as(s"d$i"))
    val adc = codes
      .join(broadcast(qd), Seq("cid", "s", "code"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
    val total = (0 until m).map(i => col(s"d$i")).reduce(_ + _)
    TopK.globalTopK(
        adc.select(col("id"), col("list_cid"),
          round(total, 6).as("adc_dist"), total.as("_t")),
        Seq(col("_t").asc, col("id").asc), k)
      .drop("_t")
  }

  /**
   * IVF-PQ search — the production ANN composition (Jégou et al., PAMI
   * 2011; the FAISS `IndexIVFPQ` shape): the coarse quantizer picks the
   * query's `nprobe` nearest inverted lists, and ONLY their members are
   * scored, by asymmetric distance computation over PQ codes — a
   * per-subspace table lookup of precomputed query→sub-centroid
   * distances, no float math per candidate.
   *
   * Metric contract (matches the repo's gate families so the q73 + q85
   * oracles compose verbatim): coarse probing in cosine space over unit
   * vectors ([[ivfAssign]]); ADC in raw L2 within the probed lists
   * ([[pqCodesSub]]). On a unit-normalized corpus the two orders coincide
   * (L2² = 2 − 2·cos on the sphere); on raw corpora the coarse step is
   * the standard spherical-IVF variant.
   *
   * Scale: centroids and codebook broadcast (K, k ≪ N); the corpus scan
   * touches only probed-list members — with the assignment column as the
   * storage partition key the unprobed lists are never read; the ADC
   * join is against an m×k BROADCAST lookup table; the final top-k is a
   * TakeOrderedAndProject. Candidate memory is m bytes/vector, the
   * 64×-compression contract that makes billion-scale serving fit RAM.
   */
  def ivfPqTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                query: Seq[Double], ivfModulus: Int, nprobe: Int,
                pqModulus: Int, m: Int, subDim: Int, k: Int): DataFrame = {
    val index = ivfIndex(embs, idCol, vecCol, ivfModulus)
    val probed = probedCids(index.centroids, query, nprobe)
    val members = index.assignments.join(broadcast(probed), "cid").select("id")
    val cand = embs.select(idCol.as("id"), vecCol.as("v")).join(members, "id")
    val codebook = pqCodebook(embs, idCol, vecCol, pqModulus, m, subDim)
    val codes = pqCodesSub(cand, col("id"), col("v"), codebook, m, subDim)
    adcTopKSub(codes, codebook, query, m, subDim, k)
  }

  /**
   * Residual-encoded IVF-PQ — the faithful `IndexIVFPQ` shape (Jégou
   * et al. 2011 §III): PQ encodes the RESIDUAL `v − centroid(v)`, not
   * the raw vector, so the codebook spends its codes on the
   * within-list displacement (small, centered) instead of re-describing
   * the coarse position the IVF assignment already captured — the
   * standard recall win over raw-vector PQ at the same code budget.
   * The codebook itself lives in residual space (deterministic: the
   * residuals of every `pqModulus`-th vector — the q72 discipline).
   * ADC becomes per-list: each probed list gets its own query residual
   * `q − centroid(list)` and its own m×k lookup table (nprobe·m·k
   * broadcast rows); a candidate's distance sums its own list's table
   * entries. Membership restriction falls out of the inner join on the
   * list id. Same scale contract as [[ivfPqTopK]]: broadcast kernels,
   * partial-agg argmins, TakeOrdered top-k, m bytes/vector candidate
   * memory.
   */
  def ivfPqResidualTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                        query: Seq[Double], ivfModulus: Int, nprobe: Int,
                        pqModulus: Int, m: Int, subDim: Int,
                        k: Int): DataFrame = {
    val rawCents = embs.filter(pmod(idCol, lit(ivfModulus)) === 0)
      .select(idCol.as("cid"), vecCol.as("cvr"))
    val assign = ivfAssign(embs, idCol, vecCol, ivfModulus)
      .select("id", "cid")
    // residual = v − centroid, every element widened to double BEFORE
    // the subtraction (the q85 float discipline)
    val resid = embs.select(idCol.as("id"), vecCol.as("v"))
      .join(assign, "id")
      .join(broadcast(rawCents), "cid")
      .select(col("id"), col("cid"),
        zip_with(col("v"), col("cvr"),
          (x, y) => x.cast("double") - y.cast("double")).as("r"))
    val codebook = pqCodebook(resid, col("id"), col("r"), pqModulus, m,
      subDim)
    val probed = probedCids(ivfCentroids(embs, idCol, vecCol, ivfModulus),
      query, nprobe)
    // encode ONLY probed-list members (codebook still derives from the
    // full corpus): non-probed codes could never survive the per-list
    // ADC join, so restricting first is output-identical and cuts the
    // per-query encode from O(N) to O(|probed members|) — the same
    // contract as ivfPqTopK's `cand`. The list id rides in the encode
    // key, so the per-list ADC join needs no second pass over `resid`.
    val codes = pqCodesSub(resid.join(broadcast(probed), "cid"),
        struct(col("id"), col("cid")), col("r"), codebook, m, subDim)
      .select(col("id.id").as("id"), col("id.cid").as("cid"), col("s"),
        col("cid").as("code"))
    val q = array(query.map(lit): _*)
    // per-probed-list query residual → per-list ADC lookup table
    val qres = rawCents.join(broadcast(probed), "cid")
      .select(col("cid"),
        zip_with(q, col("cvr"), (x, y) => x - y.cast("double")).as("qr"))
    adcResidualTail(codes, qres, codebook, m, subDim, k)
  }

  /** The materialize-once IVF-PQ serving artifacts — everything a
    * search needs WITHOUT the raw vectors: the coarse centroid table,
    * the per-vector list assignment (id, cid, …), the per-subspace PQ
    * codebook (s, cid, cvs) and the code table (id, s, cid). The
    * centroid columns name the coarse quantizer: (cid, cu) unit vectors
    * probed by cosine ([[ivfPqIndex]], [[ivfPqTopKFromIndex]]) or (cid,
    * cvr) raw centers probed by L2 ([[ivfPqIndexTrainedSpilled]],
    * [[ivfPqTopKTrainedSpilledRefinedFromIndex]]). All four frames are
    * parquet-writable ([[storeIndex]]); at 100 TB the code table is m
    * bytes of payload per vector (the 64×-compression contract) and is
    * stored partitioned by the assignment cid so a probe reads only its
    * lists' codes. */
  final case class IvfPqTrainedIndex(centroids: DataFrame,
                                     assignments: DataFrame,
                                     codebook: DataFrame, codes: DataFrame)

  /** Build the modulus IVF-PQ artifacts once per corpus version: IVF
    * build (cosine centroids (cid, cu), assignments (id, cid, cosine))
    * + codebook + full-corpus PQ encode — the only whole-corpus passes;
    * every subsequent search reads the stored frames via
    * [[ivfPqTopKFromIndex]]. A vector delta appends via the same
    * kernels: `assignAgainst` for the delta's lists, [[pqCodesSub]] for
    * the delta's codes — both against the STORED centroid/codebook
    * tables, work ∝ delta (the q134 discipline). */
  def ivfPqIndex(embs: DataFrame, idCol: Column, vecCol: Column,
                 ivfModulus: Int, pqModulus: Int, m: Int,
                 subDim: Int): IvfPqTrainedIndex = {
    val ivf = ivfIndex(embs, idCol, vecCol, ivfModulus)
    val cb = pqCodebook(embs, idCol, vecCol, pqModulus, m, subDim)
    IvfPqTrainedIndex(ivf.centroids, ivf.assignments, cb,
      pqCodesSub(embs, idCol, vecCol, cb, m, subDim))
  }

  /**
   * [[ivfPqTopK]] against a prebuilt (typically parquet-read) modulus
   * index: the query needs ONLY the stored frames — probed cids from the
   * cosine centroid table, members from the assignment table, candidate
   * distances from the stored CODES joined to the m×k broadcast ADC
   * lookup. The raw embedding table is never touched: this is the
   * RAM-resident serving shape (codes ≈ m bytes/vector) that makes
   * billion-scale ANN fit a small cluster.
   */
  def ivfPqTopKFromIndex(index: IvfPqTrainedIndex, query: Seq[Double],
                         nprobe: Int, m: Int, subDim: Int,
                         k: Int): DataFrame = {
    val probed = probedCids(index.centroids, query, nprobe)
    val members = index.assignments.join(broadcast(probed), "cid")
      .select("id")
    adcTopKSub(index.codes.join(members, "id"), index.codebook, query, m,
      subDim, k)
  }

  /**
   * Exact re-ranking of an approximate shortlist (the FAISS
   * `IndexRefineFlat` shape): a cheap approximate stage (ADC over PQ
   * codes, a Hamming scan, an IVF probe) produces `R ≥ k` candidate ids
   * in `shortlist` (any frame with an `id` column), and ONLY those R
   * rows' raw vectors are scored by true cosine — restoring
   * exact-metric ordering within the shortlist at a cost independent of
   * corpus size. The R ids BROADCAST onto the embedding table, so the
   * fetch is a storage-pruned point read when `id` is the table's
   * sort/bucket key (the q143 layout note); the top-k is a
   * TakeOrderedAndProject.
   */
  def refineTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                 shortlist: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    TopK.globalTopK(
      embs.select(idCol.as("id"), vecCol.as("v"))
        // SEMI, not inner: the contract admits any id-bearing frame, and
        // a caller shortlist with duplicate ids must not duplicate
        // scored rows (ADVICE r11)
        .join(broadcast(shortlist.select("id")), Seq("id"), "left_semi")
        .select(col("id"), cosine(col("v"), q).as("cosine"))
        .filter(col("cosine").isNotNull),
      Seq(col("cosine").desc, col("id").asc), k)
  }

  /**
   * The DEFAULT two-stage serving entry over a stored index (verdict
   * r11 #4; FAISS `IndexRefineFlat` over `IndexIVFPQ`): the ADC pass
   * over stored codes produces an R = `refineFactor`·k shortlist, and
   * [[refineTopK]] re-scores ONLY those R raw vectors by exact cosine
   * — so the stored-index path returns exact-metric-ordered results at
   * a refine cost independent of corpus size. `embs` is the raw-vector
   * table the refine stage point-reads (id as sort/bucket key per the
   * q143 layout note); the corpus-wide scan stays on m-byte codes.
   */
  def ivfPqTopKRefinedFromIndex(index: IvfPqTrainedIndex, embs: DataFrame,
                                idCol: Column, vecCol: Column,
                                query: Seq[Double], nprobe: Int, m: Int,
                                subDim: Int, k: Int,
                                refineFactor: Int = 3): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1 (got $refineFactor)")
    refineTopK(embs, idCol, vecCol,
      ivfPqTopKFromIndex(index, query, nprobe, m, subDim, refineFactor * k),
      query, k)
  }

  /** For each item: top-k nearest neighbors within its block (blocked
    * all-pairs + per-item window). */
  def knnWithinBlock(embs: DataFrame, idCol: Column, vecCol: Column,
                     blockCol: Column, k: Int): DataFrame = {
    // per-row unit normalization below the join (VectorFunctions.unit
    // scaladoc) — per-pair cosine = one dot pass
    val e = embs.select(idCol.as("id"), blockCol.as("block"),
        unit(vecCol).as("u")).filter(col("u").isNotNull)
    val pairs = e.as("x").join(e.as("y"),
        col("x.block") === col("y.block") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"), col("y.id").as("neighbor"),
        dot(col("x.u"), col("y.u")).as("cosine"))
    TopK.topKPerGroup(pairs, Seq(col("id")),
      Seq(col("cosine").desc, col("neighbor").asc), k, "nn_rank")
  }

  // ---------------- Trained quantizers (seeded MLlib k-means) ----------------
  // The modulus quantizers above are deterministic, engine-portable
  // correctness twins (their oracles replay them verbatim in SQL); these
  // k-means centroids/codebooks are the PRODUCTION quantizers that set
  // measured recall. Seeded + canonicalized layout, so the trained frames
  // are reproducible goldens; recall floors live in AnnRecallSpec.

  /** Canonical layout before any MLlib fit: k-means|| is seeded, but its
    * init sampling walks partitions, so the SAME rows in a different
    * layout train different centroids. Hash-mod repartition on the id +
    * in-partition sort makes the fit a function of (data, seed) alone —
    * the MetricsLedger.canon discipline, applied where the model is
    * built so every caller (bench local[32], specs local[4], a real
    * cluster) gets the same centers. The training rows are the
    * deterministic md5-hash sample `trainFrac` of the (id, …) frame `e`,
    * salted per quantizer — layout- and engine-stable because membership
    * is a pure hash of the id. */
  private def canonForFit(e: DataFrame, salt: String,
                          trainFrac: Double): DataFrame = {
    val train = if (trainFrac >= 1.0) e
      else e.filter(Sampling.hashUniform(col("id"), salt) < trainFrac)
    // the fixed 4-way layout presumes a BOUNDED training frame: at
    // 100 TB pass trainFrac so the sample, not the corpus, lands here
    train.repartition(4, col("id")).sortWithinPartitions(col("id"))
  }

  /** Row bound for the driver-local k-means replay
    * ([[org.apache.spark.mllib.clustering.GraftLocalKMeans]] — the r18
    * fix for the trained-ANN job storm: each MLlib fit over the bounded
    * `trainFrac` sample ran ~12 Spark jobs of pure scheduler overhead).
    * Training samples are ≤2048 rows by the 100 TB build contract;
    * 65536 (32 MB of doubles at d=64) keeps comfortable driver headroom
    * while any caller feeding an unbounded frame stays distributed, so
    * the row count alone picks the path. Centers are bit-identical to
    * the distributed fit of a local-mode Spark 4.1.x session
    * (LocalKMeansSpec pins doubleToRawLongBits equality on every trained
    * config). */
  private val LocalKMeansMaxRows = 65536L

  /** Partition-structured collect of a vector column — the exact rows,
    * partition split and in-partition order the distributed MLlib fit
    * would see from the same frame (both are narrow projections of the
    * canonForFit exchange), so the local replay trains on identical
    * input. ONE job. */
  private def collectVectorParts(df: DataFrame, featCol: String)
      : Array[Array[org.apache.spark.mllib.linalg.Vector]] =
    df.select(featCol).rdd
      .mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.map(r => org.apache.spark.mllib.linalg.Vectors.fromML(
          r.getAs[org.apache.spark.ml.linalg.Vector](0))).toArray))
      }
      .collect().sortBy(_._1).map(_._2)

  private def fitKMeansDistributed(train: DataFrame, featCol: String, k: Int,
                                   seed: Long, maxIter: Int,
                                   initMode: String): Array[Array[Double]] =
    new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setInitMode(initMode).setMaxIter(maxIter)
      .setInitSteps(GraftLocalKMeans.InitSteps)
      .setDistanceMeasure(GraftLocalKMeans.Distance)
      .setTol(1e-6).setFeaturesCol(featCol)
      .fit(train)
      .clusterCenters.map(_.toArray)

  /** Runs `f` over `train` persisted, with its row count: the size gate
    * and the fit that follows it read ONE materialization of the
    * canonForFit exchange instead of computing it twice. */
  private def withPersisted[A](train: DataFrame)(f: (DataFrame, Long) => A): A = {
    val cached = train.persist()
    try f(cached, cached.count())
    finally cached.unpersist()
  }

  private def fitKMeans(train: DataFrame, featCol: String, k: Int,
                        seed: Long): Array[Array[Double]] =
    withPersisted(train) { (t, n) =>
      if (n <= LocalKMeansMaxRows)
        GraftLocalKMeans.fit(collectVectorParts(t, featCol), k, 20, 1e-6,
          seed, "k-means||")
      else fitKMeansDistributed(t, featCol, k, seed, 20, "k-means||")
    }

  /**
   * TRAINED IVF coarse centroids — seeded spherical k-means over unit
   * vectors (cluster means re-normalized to the sphere), drop-in for
   * [[ivfCentroids]]: returns (cid: 0..k−1 dense, cu unit). Training
   * runs on the `trainFrac` hash sample — the 100 TB path trains on a
   * bounded sample and assigns at full scale, exactly the FAISS
   * practice. Empty clusters (possible under
   * k-means||) are dropped, so callers must treat k as an upper bound.
   */
  def ivfCentroidsKMeans(embs: DataFrame, idCol: Column, vecCol: Column,
                         k: Int, seed: Long = 42L,
                         trainFrac: Double = 1.0): DataFrame = {
    val spark = embs.sparkSession
    val e = embs.select(idCol.as("id"), unit(vecCol).as("u"))
      .filter(col("u").isNotNull)
    val centers = fitKMeans(canonForFit(e, "ivf-km", trainFrac)
        .withColumn("f", org.apache.spark.ml.functions.array_to_vector(col("u")))
        .select("id", "f"),
      "f", k, seed)
    import spark.implicits._
    centers.toSeq.zipWithIndex.flatMap { case (c, i) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) None else Some((i.toLong, c.map(_ / n).toSeq))
    }.toDF("cid", "cu")
  }

  /** TRAINED IVF coarse centroids in RAW L2 space — (cid, cvr), the
    * coarse quantizer of the faithful `IndexIVFPQ` (assignment and
    * probing by min L2, residuals against the raw center). Same seeded
    * sample-train discipline as [[ivfCentroidsKMeans]]. */
  def ivfCentroidsKMeansL2(embs: DataFrame, idCol: Column, vecCol: Column,
                           k: Int, seed: Long = 42L,
                           trainFrac: Double = 1.0): DataFrame = {
    val spark = embs.sparkSession
    // null vectors would crash the MLlib fit (the cosine twin filters
    // via unit()-null); drop them here the same way
    val e = embs.select(idCol.as("id"),
      vecCol.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = fitKMeans(canonForFit(e, "ivf-km-l2", trainFrac)
        .withColumn("f", org.apache.spark.ml.functions.array_to_vector(col("v")))
        .select("id", "f"),
      "f", k, seed)
    import spark.implicits._
    centers.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cid", "cvr")
  }

  /**
   * Top-A min-L2 "spilled" assignment — multi-assignment, the standard
   * coverage fix for an inverted file (Lv et al. 2007's multi-probe is
   * the query-side dual; FAISS ships the storage-side form as
   * IndexIVF spilling): each vector is stored in its A nearest lists
   * instead of exactly one. A probe of `nprobe` lists then finds a
   * vector if ANY of its A home lists is probed, so probed-list
   * coverage — the measured 0.81 recall@10 ceiling of the
   * single-assignment trained family (SCALING.md §7j) — rises at the
   * cost of A× assignment/code storage and A× list length (scan cost
   * per probed list). Net: coverage per scanned candidate IMPROVES
   * when the fixture's lists are coarse relative to the true-neighbor
   * radius, which is exactly the regime the 0.81 ceiling diagnosed.
   *
   * Broadcast NL join + bounded per-id top-A (the shuffle carries A
   * rows per vector); `arank` (1..A) records the home-list rank, and
   * A=1 is the plain min-L2 assignment. Deterministic lowest-cid
   * tiebreak.
   */
  def assignAgainstL2TopA(cents: DataFrame, embs: DataFrame,
                          idCol: Column, vecCol: Column,
                          a: Int): DataFrame = {
    require(a >= 1, s"multi-assignment width must be >= 1 (got $a)")
    val scored = embs.select(idCol.as("id"),
        vecCol.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(cents))
      .select(col("id"), col("cid"), sqDist(col("v"), col("cvr")).as("l2sq"))
    TopK.topKPerGroup(scored, Seq(col("id")),
        Seq(col("l2sq").asc, col("cid").asc), a, rankCol = "arank")
      .select(col("id"), col("cid"), col("arank"))
  }

  /** The query's `nprobe` nearest RAW-centroid lists by L2 — the L2
    * twin of `probedCids`. */
  private def probedCidsL2(cents: DataFrame, query: Seq[Double],
                           nprobe: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    TopK.globalTopK(
      cents.select(col("cid"), sqDist(q, col("cvr")).as("cd")),
      Seq(col("cd").asc, col("cid").asc), nprobe).select("cid")
  }

  /**
   * TRAINED per-subspace PQ codebook — the faithful PQ of Jégou et al.
   * 2011 §II: an INDEPENDENT seeded k-means per `subDim`-wide subspace
   * (seed offset by the subspace index), so each of the m code bytes
   * spends its k codes on its own subspace's distribution instead of
   * sharing one full-vector codebook across all subspaces (the modulus
   * [[pqCodebook]] shortcut — why its measured recall floors at 0.07).
   * Returns (s, cid, cvs): subspace, code id 0..k−1, sub-centroid.
   * `vecs` is any (id, v) frame — raw vectors for flat PQ, residuals
   * for the residual variant. m driver-side fits over the hash-sampled
   * training set; at 100 TB each fit sees the bounded sample only.
   * `maxIter`/`initMode` exist for instrument callers (q210 trains 24
   * codebooks in one query, where k-means|| init + 20 Lloyd rounds is
   * pure scheduler overhead); index builds keep the defaults.
   */
  def pqCodebookSubKMeans(vecs: DataFrame, idCol: Column, vecCol: Column,
                          m: Int, subDim: Int, k: Int, seed: Long = 42L,
                          trainFrac: Double = 1.0, maxIter: Int = 20,
                          initMode: String = "k-means||"): DataFrame = {
    val spark = vecs.sparkSession
    val e = vecs.select(idCol.as("id"),
      vecCol.cast("array<double>").as("v"))
      .filter(col("v").isNotNull) // null vector = no trainable features
    // at a bounded sample (the trainFrac contract) the m fits run on the
    // driver from ONE partition-structured collect — slice(v,
    // s·subDim+1, subDim) + array_to_vector is replayed as a local
    // copyOfRange over the same rows in the same order, so every
    // subspace fit sees bit-identical input to the distributed form. An
    // unbounded caller gets m distributed fits over the persisted
    // sample. Either way the m fits are independent seeded functions of
    // (rows, seed + s): they run concurrently (the CrossValidator-
    // parallelism mechanism) and are assembled in subspace order.
    val rows: Seq[(Int, Long, Seq[Double])] =
      withPersisted(canonForFit(e, "pq-km", trainFrac)) { (canon, n) =>
        val fits: Seq[() => Array[Array[Double]]] =
          if (n <= LocalKMeansMaxRows) {
            val parts = collectVectorParts(canon.select(
              org.apache.spark.ml.functions.array_to_vector(col("v")).as("f")), "f")
            (0 until m).map { s => () =>
              GraftLocalKMeans.fit(parts.map(_.map(v =>
                org.apache.spark.mllib.linalg.Vectors.dense(java.util.Arrays
                  .copyOfRange(v.toArray, s * subDim, s * subDim + subDim)))),
                k, maxIter, 1e-6, seed + s, initMode)
            }
          } else (0 until m).map { s => () =>
            fitKMeansDistributed(
              canon.withColumn("f",
                  org.apache.spark.ml.functions.array_to_vector(
                    slice(col("v"), s * subDim + 1, subDim)))
                .select("id", "f"),
              "f", k, seed + s, maxIter, initMode)
          }
        concurrently(fits).zipWithIndex.flatMap { case (centers, s) =>
          centers.zipWithIndex.map { case (c, i) => (s, i.toLong, c.toSeq) }
        }
      }
    import spark.implicits._
    rows.toDF("s", "cid", "cvs")
  }

  /**
   * Trained IVF-PQ index with SPILLED (top-A multi-) assignment — the
   * round-16 answer to the measured 0.81 probed-list-coverage ceiling
   * (SCALING.md §7j): L2 k-means coarse centers (cid, cvr), the
   * per-subspace trained codebook, and an assignment table that stores
   * each vector under its A nearest lists ([[assignAgainstL2TopA]];
   * `arank` kept so A=1 is recoverable by filter). Codes stay one row
   * per (vector, subspace) — only the assignment table grows A×. The
   * k-means fits see the `trainFrac` hash-sample only; a vector delta
   * appends via [[assignAgainstL2TopA]] + [[pqCodesSub]] against the
   * STORED centroid/codebook frames, work ∝ delta, and base ∪ delta ≡
   * the one-shot build (the q134 discipline; `SpilledServingSpec` pins
   * it). Measured on the gate fixture (kIvf=100,
   * A=2 vs the single-assign kIvf=25/nprobe=10 point): refined
   * recall@10 0.94 @ scan 0.539 (nprobe 18, rf 3) and 0.91 @ 0.465
   * (nprobe 14) vs 0.81 @ 0.544 — better on both axes, pinned by
   * `AnnRecallSpec` floors and the `ann_curve_spill_*` ledger rows.
   */
  def ivfPqIndexTrainedSpilled(embs: DataFrame, idCol: Column,
                               vecCol: Column, kIvf: Int, a: Int,
                               kSub: Int, m: Int, subDim: Int,
                               seed: Long = 42L,
                               trainFrac: Double = 1.0): IvfPqTrainedIndex = {
    val cents = ivfCentroidsKMeansL2(embs, idCol, vecCol, kIvf, seed,
      trainFrac)
    val cb = pqCodebookSubKMeans(embs, idCol, vecCol, m, subDim, kSub,
      seed, trainFrac)
    IvfPqTrainedIndex(cents,
      assignAgainstL2TopA(cents, embs, idCol, vecCol, a),
      cb, pqCodesSub(embs, idCol, vecCol, cb, m, subDim))
  }

  /** Two-stage serving over a SPILLED trained index: probed lists →
    * member ids DEDUPED (a vector whose multiple home lists are all
    * probed must contribute one candidate, not A) → ADC shortlist of
    * R = `refineFactor`·k over stored codes → exact-cosine re-rank.
    * The distinct is one extra Exchange on the candidate id set —
    * bounded by the scanned fraction, never the corpus. */
  def ivfPqTopKTrainedSpilledRefinedFromIndex(index: IvfPqTrainedIndex,
                                              embs: DataFrame, idCol: Column,
                                              vecCol: Column,
                                              query: Seq[Double], nprobe: Int,
                                              m: Int, subDim: Int, k: Int,
                                              refineFactor: Int = 3): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1 (got $refineFactor)")
    val probed = probedCidsL2(index.centroids, query, nprobe)
    val members = index.assignments.join(broadcast(probed), "cid")
      .select("id").distinct()
    refineTopK(embs, idCol, vecCol,
      adcTopKSub(index.codes.join(members, "id"), index.codebook, query,
        m, subDim, refineFactor * k),
      query, k)
  }

  /**
   * OPQ — Optimized Product Quantization (Ge et al. 2013, the
   * non-parametric alternation): learn an orthogonal rotation R so the
   * PQ subspace split falls along directions the codebooks can spend
   * their budget on, instead of whatever basis the embeddings arrived
   * in. Alternation per iteration: (1) train per-subspace codebooks on
   * the rotated sample, (2) encode + reconstruct x̂ (in rotated space),
   * (3) solve the orthogonal Procrustes problem min_R ‖R·x − x̂‖_F —
   * R = U·Vᵀ from the SVD of M = Σ x̂·xᵀ. The rotation composes with
   * everything downstream unchanged: rotate vectors and query, then
   * flat trained PQ / ADC exactly as [[pqCodesSub]]/[[adcTopKSub]].
   *
   * Scale shape: training runs on the `trainFrac` hash-sample (the
   * k-means discipline); the d×d scatter M is ONE aggregation pass
   * (outer-product explode → per-cell sum — d² cells, never row data,
   * to the driver) and the SVD is a driver-side d×d breeze call
   * (64×64 here — microseconds). Applying R at encode/search time is
   * a per-row d² matvec — the same order as the PQ encode argmin
   * itself (m·k·subDim), and a once-per-corpus-version index pass.
   *
   * Returns (R rows as a Seq[Seq[Double]] — R(i) is output-dim i's
   * weight row —, the codebook trained on the FINAL rotation, and the
   * FIRST alternation's codebook). Iteration 0 rotates by the identity,
   * so its codebook IS the flat per-subspace PQ codebook trained on the
   * SAME sample with the SAME trainer — the comparison baseline (q210)
   * at zero extra fits.
   */
  def opqTrainWithFlat(embs: DataFrame, idCol: Column, vecCol: Column,
                       m: Int, subDim: Int, kSub: Int, iters: Int = 3,
                       seed: Long = 42L, trainFrac: Double = 1.0,
                       fitMaxIter: Int = 20,
                       fitInitMode: String = "k-means||")
      : (Seq[Seq[Double]], DataFrame, DataFrame) = {
    require(iters >= 1, s"need at least one alternation (got $iters)")
    val d = m * subDim
    val spark = embs.sparkSession
    val e = embs.select(idCol.as("id"),
        vecCol.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val train = (if (trainFrac >= 1.0) e
      else e.filter(Sampling.hashUniform(col("id"), "opq") < trainFrac))
      .localCheckpoint()
    var r: Seq[Seq[Double]] =
      Seq.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var cb: DataFrame = null
    var cbFlat: DataFrame = null
    var it = 0
    while (it < iters) {
      val rot = train.select(col("id"), rotated(col("v"), r, d).as("v"))
        .localCheckpoint()
      cb = pqCodebookSubKMeans(rot, col("id"), col("v"), m, subDim, kSub,
        seed, maxIter = fitMaxIter, initMode = fitInitMode)
      if (it == 0) cbFlat = cb
      // last iteration: codebooks already match the final R — skip the
      // Procrustes update they would feed
      if (it < iters - 1) {
        val codes = pqCodesSub(rot, col("id"), col("v"), cb, m, subDim)
        // x̂ assembled in subspace order from the code's sub-centroids
        val xhat = codes.join(broadcast(cb), Seq("s", "cid"))
          .groupBy("id")
          .agg(flatten(array_sort(collect_list(struct(col("s"),
            col("cvs")))).getField("cvs")).as("xhat"))
        // scatter M = Σ x̂·xᵀ — d² cells via outer-product explode +
        // per-cell partial sums; only the d² aggregates reach the driver.
        // The outer product is the codegen ArrayOuterFlat kernel: same
        // row-major products bit-for-bit as the nested transform HOF it
        // replaces (4096 interpreted multiplies/row at d=64), so the
        // explode positions and the per-cell sums are unchanged
        val cells = train.join(xhat, "id")
          .select(posexplode(outerFlat(col("xhat"), col("v"))))
          .groupBy("pos").agg(sum("col").as("c"))
          .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
        val mMat = breeze.linalg.DenseMatrix.tabulate(d, d)(
          (i, j) => cells.getOrElse(i * d + j, 0.0))
        val svd = breeze.linalg.svd(mMat)
        val rNew = svd.U * svd.Vt
        r = Seq.tabulate(d, d)((i, j) => rNew(i, j))
      }
      // the fits and the scatter collect both ran eagerly above, and the
      // returned codebook is a local row set — the rotated frame's
      // blocks free on EVERY path (a per-iteration leak would pin
      // iters × sample in the block manager)
      GraftShim.freeLocalCheckpoint(rot)
      it += 1
    }
    GraftShim.freeLocalCheckpoint(train)
    (r, cb, cbFlat)
  }

  /** R·v as a column expression — the codegen [[graft.functions.ArrayMatVec]]
    * kernel (bit-identical to the nested transform/zip_with/aggregate
    * HOF form it replaces; ArrayMatVecSpec pins it — the HOF interpreted
    * ~3d² lambda frames per row, a dominant slice of q210's task time).
    * O(d²)/row — the once-per-corpus-version index-build pass, same
    * order as the PQ encode argmin itself. The coalesce preserves the
    * HOF's null-input result (an array of d null elements). */
  def rotated(vecCol: Column, r: Seq[Seq[Double]], d: Int): Column = {
    require(r.length == d, s"rotation is ${r.length}x?, expected $d")
    coalesce(
      GraftShim.column(graft.functions.ArrayMatVec(GraftShim.expr(vecCol), r)),
      array_repeat(lit(null).cast("double"), d))
  }

  /**
   * 1-bit binary quantization: sign bits packed into 64-bit words —
   * the memory-bound scale path PAST int8 (q76) and PQ (8 B/vector):
   * a 64-d float32 vector becomes ONE long (256× smaller), and
   * distance is xor+popcount — no float math, no lookup table, the
   * cheapest candidate-generation scan there is (the standard
   * binary-embedding serving trick; re-rank survivors by exact metric
   * exactly like [[refineTopK]]). Bit i of word w = (v[w·64+i] > 0) —
   * the zero-threshold sign code, reproducible on any engine. One
   * scan-local [[graft.functions.ArraySignCode]] call per row; a vector
   * shorter than `dims` fails under ANSI mode as `element_at` does.
   */
  def binarySignCode(vecCol: Column, dims: Int): Column =
    GraftShim.column(graft.functions.ArraySignCode(GraftShim.expr(vecCol),
      dims))

  /** Hamming distance between two packed code arrays: per-word
    * xor+popcount, summed in word order — the codegen
    * [[graft.functions.ArrayHammingSum]] kernel (exact integer math;
    * replaces the interpreted zip_with/aggregate HOF: at 100 TB this is
    * THE stage-0 expression, evaluated once per corpus vector per
    * query). */
  def hammingDistance(a: Column, b: Column): Column =
    GraftShim.column(graft.functions.ArrayHammingSum(GraftShim.expr(a),
      GraftShim.expr(b)))

  /** [[binarySignCode]] of a literal query vector, computed on the driver
    * by the same kernel. */
  def binarySignCodeLocal(v: Seq[Double], dims: Int): Seq[Long] = {
    require(v.length == dims, s"query has ${v.length} dims, expected $dims")
    graft.functions.ArraySignCode.compute(
      UnsafeArrayData.fromPrimitiveArray(v.toArray), dims, vFloat = false,
      failOnError = true).toLongArray().toSeq
  }

  /** Binary-code top-k: one packed-code projection + xor/popcount scan
    * + TakeOrdered — no shuffle of anything but k rows. Returns
    * (id, hamming, rank). */
  def binaryHammingTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                        query: Seq[Double], dims: Int, k: Int): DataFrame = {
    val qCode = lit(binarySignCodeLocal(query, dims).toArray)
    TopK.globalTopK(
      embs.select(idCol.as("id"),
        hammingDistance(binarySignCode(vecCol, dims), qCode).as("hamming")),
      Seq(col("hamming").asc, col("id").asc), k)
  }

  /** The stored-index layout: one parquet frame per artifact, named
    * after the [[IvfPqTrainedIndex]] field, under one index directory —
    * what [[readIndex]], [[eraseFromStoredIndex]] and the q204 oracle
    * read. */
  private val IndexFrames = Seq("centroids", "assignments", "codebook",
    "codes")

  /** Persist an index's four frames under `indexDir` (overwriting) and
    * return the index read back from storage — the artifact a serving
    * cluster loads, so every search over the result exercises the
    * parquet roundtrip. */
  private[graft] def storeIndex(index: IvfPqTrainedIndex,
                                indexDir: String): IvfPqTrainedIndex = {
    IndexFrames.zip(Seq(index.centroids, index.assignments, index.codebook,
        index.codes))
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$indexDir/$name")
      }
    readIndex(index.centroids.sparkSession, indexDir)
  }

  /** The index stored under `indexDir` by [[storeIndex]]. */
  private[graft] def readIndex(spark: SparkSession,
                               indexDir: String): IvfPqTrainedIndex = {
    val Seq(centroids, assignments, codebook, codes) =
      IndexFrames.map(name => spark.read.parquet(s"$indexDir/$name"))
    IvfPqTrainedIndex(centroids, assignments, codebook, codes)
  }

  /**
   * FAISS `remove_ids` for the STORED index — the right-to-erasure
   * path for serving artifacts ([[graft.app.CurationRunner]]'s
   * physical-erasure contract): delete the subject vectors' rows from
   * every id-keyed artifact under `indexDir` via the file-targeted
   * [[graft.sources.Layout.deleteWhere]] rewrite, which touches
   * O(subjects) files, never the corpus. Centroids and codebooks are
   * TRAINED PARAMETERS, not rows about a subject: they keep their
   * values until the next corpus version retrains them. Post-erasure
   * serving is EXACT: assignment and encode are per-vector facts, so
   * the erased store is row-identical to an index built over the
   * complement corpus with the same parameters (spec-pinned;
   * oracle-gated as q215).
   *
   * `frames` names the id-keyed artifacts to rewrite. A frame absent
   * under `indexDir` is skipped only when `optional` names it — a
   * missing REQUIRED frame is an error, because silently skipping
   * `assignments` would report an erasure that never happened.
   * Returns rows deleted per frame rewritten.
   */
  def eraseFromStoredIndex(spark: SparkSession, indexDir: String,
                           ids: Seq[Long],
                           frames: Seq[String] =
                             Seq("assignments", "codes", "binary"),
                           optional: Set[String] = Set("binary"))
      : Map[String, Long] = {
    require(ids.nonEmpty, "no subject ids to erase")
    val conf = spark.sessionState.newHadoopConf()
    frames.flatMap { name =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) {
        require(optional.contains(name),
          s"stored index at $indexDir has no '$name' frame — refusing " +
            "to report an erasure that did not touch a required artifact")
        None
      } else
        Some(name -> graft.sources.Layout.deleteWhere(spark, p.toString,
          col("id").isin(ids: _*)).rowsDeleted)
    }.toMap
  }

  /**
   * The THREE-stage binary serving composition whose operating curve
   * q211 measures (0.95 recall@10 at a 0.30 ADC-scan; (bp40, rf5)
   * reaches 0.98 at 0.40): stage-0 ranks EVERY corpus vector by
   * xor/popcount over packed sign codes (8 B/vector — 1/32 of the raw
   * float32 bytes) and keeps `candidates`; stage-1 re-ranks only those
   * candidates by trained-PQ ADC against `codebookSub` (codes are
   * computed here from the shortlist's raw vectors — a production
   * deployment point-reads stored codes, the q143 layout note);
   * stage-2 re-scores the `refineFactor`·k ADC survivors by exact
   * cosine ([[refineTopK]]'s order). No stage has a coverage ceiling —
   * every vector is a stage-0 candidate — which is why the measured
   * curve dominates the probed-IVF curve on both axes (q211 vs q204).
   *
   * Job shape: one job collects the codebook (at most [[MaxCodebookRows]]
   * rows; the broadcast it replaced pulled it through the driver too),
   * and ONE job runs the chained plan — three top-k's, each carrying the
   * raw vector to the next: Hamming top-C; ADC top-R, the fixed-order
   * d0+d1+…+d(m−1) sum of lookups into the query's m×k table (built on
   * the driver from the collected codebook, the [[adcTopKSub]] distances
   * bit for bit), indexed by [[graft.functions.ArrayPqEncode]]'s codes;
   * exact-cosine top-k. The query vector, its sign code and the table are
   * each bound as one array literal, so a new query reuses the generated
   * classes. Ids are unique in `embs`. Returns (id, cosine, rank).
   */
  def binaryAdcRefinedTopK(embs: DataFrame, idCol: Column, vecCol: Column,
                           codebookSub: DataFrame, m: Int, subDim: Int,
                           query: Seq[Double], dims: Int, k: Int,
                           candidates: Int, refineFactor: Int = 3)
      : DataFrame = {
    require(candidates >= 1, s"candidates must be >= 1 (got $candidates)")
    require(refineFactor >= 1,
      s"refineFactor must be >= 1 (got $refineFactor)")
    val (rows, schema) = collectCodebook(codebookSub)
    // each subspace's entries in cid order: entry j codes j, so the
    // lowest-cid tie rule holds and a code indexes the query's table row
    val bySub = rows.groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(r => r.get(1).asInstanceOf[Number].longValue))
      .toMap
    require((0 until m).forall(bySub.contains),
      s"the PQ codebook lacks a subspace in 0 until $m")
    val width = bySub.values.map(_.size).max
    val cvsFloat =
      schema("cvs").dataType.asInstanceOf[ArrayType].elementType == FloatType
    val q = UnsafeArrayData.fromPrimitiveArray(query.toArray)
    val table = new Array[java.lang.Double](m * width)
    val positional = (0 until m).flatMap { s =>
      bySub(s).zipWithIndex.map { case (r, j) =>
        val off = s * subDim
        if (!r.isNullAt(2))
          table(s * width + j) = graft.functions.ArraySqDist.compute(q, off,
            if (off >= dims) 0 else math.min(subDim, dims - off),
            new GenericArrayData(r.getSeq[Any](2).toArray), false, cvsFloat)
        Row(s, j, r.get(2))
      }
    }
    val positionalSchema = StructType(Seq(schema("s"),
      StructField("cid", IntegerType, nullable = false), schema("cvs")))
    // norm(q) would fold into an inlined scalar: a class per query
    val qv = GraftShim.column(graft.functions.NoFold(
      GraftShim.expr(lit(query.toArray))))
    val byHamming = embs.select(idCol.as("id"),
        vecCol.cast("array<double>").as("v"))
      .select(col("id"), col("v"), hammingDistance(binarySignCode(col("v"),
        dims), lit(binarySignCodeLocal(query, dims).toArray)).as("hamming"))
      .orderBy(col("hamming").asc, col("id").asc).limit(candidates)
    // ONE projection over the top-C: the planner fuses Limit(Project(Sort))
    // into a top-k that evaluates the projection on the C survivors only
    val codes = pqEncode(col("v"), codebookLit(positional, positionalSchema),
      m, subDim)
    val tableLit = lit(table)
    val adc = (0 until m).map(s =>
        element_at(tableLit, element_at(codes, s + 1) + (s * width + 1)))
      .reduce(_ + _)
    val byAdc = byHamming.select(col("id"), col("v"), adc.as("_t"))
      .orderBy(col("_t").asc, col("id").asc).limit(refineFactor * k)
    TopK.globalTopK(
      byAdc.select(col("id"), cosine(col("v"), qv).as("cosine"))
        .filter(col("cosine").isNotNull),
      Seq(col("cosine").desc, col("id").asc), k)
  }
}
