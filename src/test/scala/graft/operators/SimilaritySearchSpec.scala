package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySearchSpec extends SparkSpec {
  import spark.implicits._

  private val embs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f), 0),
    (2L, Array(0.9f, 0.1f, 0.0f), 0),
    (3L, Array(0.0f, 1.0f, 0.0f), 0),
    (4L, Array(0.0f, 0.0f, 1.0f), 1),
    (5L, Array(0.1f, 0.0f, 0.9f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK returns exact cosine ranking") {
    val out = SimilaritySearch.bruteForceTopK(embs, col("vec_id"),
      col("embedding"), Seq(1.0, 0.0, 0.0), 3).orderBy("rank").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))
    assert(out.head.getDouble(1) == 1.0)
  }

  test("lshBuckets is deterministic and stable across invocations") {
    val b1 = SimilaritySearch.lshBuckets(embs, col("vec_id"), col("embedding"), 3, 4)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b2 = SimilaritySearch.lshBuckets(embs, col("vec_id"), col("embedding"), 3, 4)
      .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b1 == b2)
    // near-identical vectors land in the same bucket
    assert(b1(1L) == b1(2L))
    assert(b1(4L) == b1(5L))
  }

  test("ivfTopKFromIndex on a parquet-roundtripped index equals the " +
      "inline-build ivfTopK") {
    // modulus=2 → centroids from ids 2 and 4; probe both lists so every
    // assigned vector is searchable and the comparison is total
    val q = Seq(1.0, 0.0, 0.0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9), r.getInt(2)))
      .toSeq.sortBy(_._3)
    val inline = rows(SimilaritySearch.ivfTopK(embs, col("vec_id"),
      col("embedding"), q, modulus = 2, nprobe = 2, k = 5))
    assert(inline.nonEmpty)
    val idx = SimilaritySearch.ivfIndex(embs, col("vec_id"),
      col("embedding"), modulus = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    idx.centroids.write.mode("overwrite").parquet(s"$dir/c")
    idx.assignments.write.mode("overwrite").parquet(s"$dir/a")
    val stored = SimilaritySearch.IvfIndex(
      spark.read.parquet(s"$dir/c"), spark.read.parquet(s"$dir/a"))
    assert(rows(SimilaritySearch.ivfTopKFromIndex(embs, col("vec_id"),
      col("embedding"), stored, q, nprobe = 2, k = 5)) === inline)
  }

  test("ivfAppend: delta-assigned index is bit-identical to a full " +
      "rebuild when the centroid set is unchanged; centroids held fixed") {
    // centroids from even ids; the delta (ids 3, 5) adds no multiples of
    // 2, so rebuild centroids == stored centroids and the appended index
    // must equal the full build exactly
    val corpus = embs.filter(col("vec_id") % 2 === 0 || col("vec_id") === 1L)
    val delta = embs.filter(col("vec_id") === 3L || col("vec_id") === 5L)
    val storedIdx = SimilaritySearch.ivfIndex(corpus, col("vec_id"),
      col("embedding"), modulus = 2)
    val appended = SimilaritySearch.ivfAppend(storedIdx, delta,
      col("vec_id"), col("embedding"))
    val rebuilt = SimilaritySearch.ivfIndex(embs, col("vec_id"),
      col("embedding"), modulus = 2)
    def assignRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
      .toSet
    assert(assignRows(appended.assignments) === assignRows(rebuilt.assignments))
    assert(appended.centroids.select("cid").collect().map(_.getLong(0)).toSet ===
      rebuilt.centroids.select("cid").collect().map(_.getLong(0)).toSet)
    // and the corpus side was never re-assigned: stored assignment rows
    // appear untouched in the appended table
    assert(assignRows(storedIdx.assignments).subsetOf(
      assignRows(appended.assignments)))
  }

  // ---- IVF-PQ (q141): real 500×64 corpus, the gate parameters ----

  private val realDir = "/root/testdata/sf0.001"

  private def realEmbs = graft.sources.Tables.load(spark, realDir, "embeddings")
    .select("vec_id", "embedding")

  /** Driver-side reference ADC: codes = per-subspace L2 argmin over the
    * modulus-100 codebook (tie → lowest cid), distance = fixed-order sum
    * of query→sub-centroid lookups — the q85 arithmetic verbatim. */
  private def bruteAdc(ids: Set[Long]): Seq[(Long, Double)] = {
    val all = realEmbs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val cb = all.filter(_._1 % 100 == 0)
    val q = all.find(_._1 == 0L).get._2
    def sub(v: Array[Double], s: Int) = v.slice(s * 16, s * 16 + 16)
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    all.filter(p => ids.contains(p._1)).map { case (id, v) =>
      val total = (0 until 4).map { s =>
        val (bestCid, _) = cb.map { case (cid, cv) =>
          cid -> l2(sub(v, s), sub(cv, s)) }
          .minBy { case (cid, d) => (d, cid) }
        l2(sub(q, s), sub(cb.find(_._1 == bestCid).get._2, s))
      }.sum
      id -> total
    }.toSeq
  }

  test("ivfPqTopK with every list probed equals full-corpus PQ-ADC " +
      "(the q85 ranking) — the probe step only restricts, never rescores") {
    val e = realEmbs
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    // ivfModulus 200 → 3 lists; nprobe 5 probes all of them
    val out = SimilaritySearch.ivfPqTopK(e, col("vec_id"), col("embedding"),
        q, ivfModulus = 200, nprobe = 5, pqModulus = 100, m = 4,
        subDim = 16, k = 10)
      .orderBy("rank").collect()
    val expected = bruteAdc(realEmbs.collect().map(_.getLong(0)).toSet)
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(out.map(_.getAs[Long]("id")).toSeq === expected.map(_._1))
    out.zip(expected).foreach { case (row, (_, d)) =>
      assert(math.abs(row.getAs[Double]("adc_dist") - d) < 1e-6)
    }
  }

  test("ivfPqTopK with nprobe=1 returns only members of the probed list") {
    val e = realEmbs
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val assign = SimilaritySearch.ivfAssign(e, col("vec_id"),
      col("embedding"), 200)
    val qlit = array(q.map(lit): _*)
    val topCid = SimilaritySearch.ivfCentroids(e, col("vec_id"),
        col("embedding"), 200)
      .select(col("cid"),
        graft.functions.VectorFunctions.dot(col("cu"), qlit).as("c"))
      .orderBy(col("c").desc, col("cid").asc).head.getLong(0)
    val memberIds = assign.filter(col("cid") === topCid)
      .select("id").collect().map(_.getLong(0)).toSet
    val out = SimilaritySearch.ivfPqTopK(e, col("vec_id"), col("embedding"),
        q, ivfModulus = 200, nprobe = 1, pqModulus = 100, m = 4,
        subDim = 16, k = 10)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(out.nonEmpty && out.subsetOf(memberIds))
  }

  test("pqCodes (argmax partial agg) equals the window-rank argmin " +
      "formulation and is deterministic across invocations") {
    val e = realEmbs.limit(100)
    // the modulus codebook in the per-subspace (s, cid, cvs) frame
    val cb = SimilaritySearch.pqCodebook(realEmbs, col("vec_id"),
      col("embedding"), modulus = 100, m = 4, subDim = 16)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("s")) -> r.getAs[Long]("cid"))
      .toMap
    val viaAgg = asMap(SimilaritySearch.pqCodesSub(e, col("vec_id"),
      col("embedding"), cb, m = 4, subDim = 16))
    // q85's original formulation: explode × the RAW modulus vectors
    // (cid, cv), both sides sliced per subspace, window rank 1
    val raw = realEmbs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), _ + _)
    def subv(v: org.apache.spark.sql.Column) =
      slice(v, col("s") * 16 + 1, lit(16))
    val viaWindow = asMap(TopK.topKPerGroup(
      e.select(col("vec_id").as("id"), col("embedding"),
          explode(sequence(lit(0), lit(3))).as("s"))
        .crossJoin(broadcast(raw))
        .select(col("id"), col("s"), col("cid"),
          l2sq(subv(col("embedding")), subv(col("cv"))).as("d")),
      Seq(col("id"), col("s")), Seq(col("d").asc, col("cid").asc), 1)
      .select("id", "s", "cid"))
    assert(viaAgg === viaWindow)
    assert(viaAgg === asMap(SimilaritySearch.pqCodesSub(e, col("vec_id"),
      col("embedding"), cb, m = 4, subDim = 16)))
  }

  test("ivfPqResidualTopK matches a driver-side residual-ADC reference " +
      "with every list probed; nprobe=1 restricts to the probed list") {
    val e = realEmbs
    val all = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val q = all.find(_._1 == 0L).get._2
    def sub(v: Array[Double], s: Int) = v.slice(s * 16, s * 16 + 16)
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cents = all.filter(_._1 % 200 == 0)
    def assignedCid(v: Array[Double]): Long =
      cents.map { case (cid, cv) => cid -> cos(v, cv) }
        .minBy { case (cid, c) => (-c, cid) }._1
    val residOf = all.map { case (id, v) =>
      val cid = assignedCid(v)
      val cv = cents.find(_._1 == cid).get._2
      id -> (cid, v.zip(cv).map { case (x, y) => x - y })
    }.toMap
    val cb = residOf.collect {
      case (id, (_, r)) if id % 100 == 0 => id -> r
    }.toSeq.sortBy(_._1)
    val expected = residOf.toSeq.map { case (id, (cid, r)) =>
      val qres = q.zip(cents.find(_._1 == cid).get._2)
        .map { case (x, y) => x - y }
      val total = (0 until 4).map { s =>
        val (bestCcid, _) = cb.map { case (ccid, cr) =>
          ccid -> l2(sub(r, s), sub(cr, s)) }
          .minBy { case (ccid, d) => (d, ccid) }
        l2(sub(qres, s), sub(cb.find(_._1 == bestCcid).get._2, s))
      }.sum
      (id, cid, total)
    }.sortBy { case (id, _, d) => (d, id) }.take(10)
    val out = SimilaritySearch.ivfPqResidualTopK(e, col("vec_id"),
        col("embedding"), q.toSeq, ivfModulus = 200, nprobe = 5,
        pqModulus = 100, m = 4, subDim = 16, k = 10)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === expected.map(_._1))
    out.zip(expected).foreach { case (row, (_, cid, d)) =>
      assert(row.getAs[Long]("list_cid") === cid)
      assert(math.abs(row.getAs[Double]("adc_dist") - d) < 1e-6)
    }
    // nprobe=1: every result belongs to the single probed list
    val topCid = cents.map { case (cid, cv) => cid -> cos(q, cv) }
      .minBy { case (cid, c) => (-c, cid) }._1
    val narrow = SimilaritySearch.ivfPqResidualTopK(e, col("vec_id"),
        col("embedding"), q.toSeq, ivfModulus = 200, nprobe = 1,
        pqModulus = 100, m = 4, subDim = 16, k = 10).collect()
    assert(narrow.nonEmpty &&
      narrow.forall(_.getAs[Long]("list_cid") == topCid))
  }

  test("ivfPqTopKFromIndex on parquet-roundtripped artifacts equals the " +
      "inline ivfPqTopK; a delta encoded against the stored codebook " +
      "reproduces the full build") {
    val e = realEmbs
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id"),
        math.round(r.getAs[Double]("adc_dist") * 1e6), r.getAs[Int]("rank")))
      .toSeq.sortBy(_._3)
    val inline = rows(SimilaritySearch.ivfPqTopK(e, col("vec_id"),
      col("embedding"), q, ivfModulus = 200, nprobe = 2, pqModulus = 100,
      m = 4, subDim = 16, k = 10))
    val stored = SimilaritySearch.storeIndex(
      SimilaritySearch.ivfPqIndex(e, col("vec_id"), col("embedding"),
        ivfModulus = 200, pqModulus = 100, m = 4, subDim = 16),
      java.nio.file.Files.createTempDirectory("ivfpq").toString)
    assert(rows(SimilaritySearch.ivfPqTopKFromIndex(stored, q, nprobe = 2,
      m = 4, subDim = 16, k = 10)) === inline)
    // delta discipline: corpus-built artifacts + delta assigned/encoded
    // against the STORED centroid/codebook tables == full build. Delta
    // ids ≡ 3 (mod 5) add no multiples of 100/200, so the stored
    // centroid and codebook sets equal the full-build sets.
    val corpus = e.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val delta = e.filter(pmod(col("vec_id"), lit(5)) === 3)
    val cIdx = SimilaritySearch.ivfPqIndex(corpus, col("vec_id"),
      col("embedding"), ivfModulus = 200, pqModulus = 100, m = 4, subDim = 16)
    val appended = SimilaritySearch.IvfPqTrainedIndex(cIdx.centroids,
      cIdx.assignments.unionByName(SimilaritySearch.assignAgainst(
        cIdx.centroids, delta, col("vec_id"), col("embedding"))),
      cIdx.codebook,
      cIdx.codes.unionByName(SimilaritySearch.pqCodesSub(delta,
        col("vec_id"), col("embedding"), cIdx.codebook, m = 4,
        subDim = 16)))
    assert(rows(SimilaritySearch.ivfPqTopKFromIndex(appended, q, nprobe = 2,
      m = 4, subDim = 16, k = 10)) === inline)
  }

  test("eraseFromStoredIndex: physical remove_ids — subjects gone from " +
      "every id-keyed artifact, trained parameters untouched, serving " +
      "equals the logically-filtered index") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val e = realEmbs
    val idx = SimilaritySearch.ivfPqIndex(e, col("vec_id"),
      col("embedding"), ivfModulus = 200, pqModulus = 100, m = 4,
      subDim = 16)
    val dir = java.nio.file.Files.createTempDirectory("idx-erase").toString
    SimilaritySearch.storeIndex(idx, dir)
    val centRowsBefore = spark.read.parquet(s"$dir/centroids").count()
    val cbRowsBefore = spark.read.parquet(s"$dir/codebook").count()
    // 200 is a centroid-source id: the VECTOR's rows erase, the trained
    // centroid derived from it stays (the physical-erasure boundary)
    val subjects = Seq(1L, 200L, 7L)
    val deleted = SimilaritySearch.eraseFromStoredIndex(spark, dir,
      subjects)
    assert(deleted("assignments") === 3L)
    assert(deleted("codes") === 12L, "m=4 code rows per erased vector")
    assert(!deleted.contains("binary"), "absent optional frame skipped")
    val aAfter = spark.read.parquet(s"$dir/assignments")
    val cAfter = spark.read.parquet(s"$dir/codes")
    assert(aAfter.filter(col("id").isin(subjects: _*)).count() === 0L)
    assert(cAfter.filter(col("id").isin(subjects: _*)).count() === 0L)
    // trained parameters keep their values — including the centroid
    // whose source vector was just erased
    assert(spark.read.parquet(s"$dir/centroids").count() === centRowsBefore)
    assert(spark.read.parquet(s"$dir/codebook").count() === cbRowsBefore)
    assert(spark.read.parquet(s"$dir/centroids")
      .filter(col("cid") === 200).count() === 1L)
    // serving off the erased store ≡ the logically-filtered index (the
    // complement-corpus contract: assignment and encode are per-vector
    // facts), and no erased id can surface
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "adc_dist", "rank").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        .sortBy(_._3)
    val erasedStore = SimilaritySearch.readIndex(spark, dir)
    val logical = SimilaritySearch.IvfPqTrainedIndex(idx.centroids,
      idx.assignments.filter(!col("id").isin(subjects: _*)),
      idx.codebook, idx.codes.filter(!col("id").isin(subjects: _*)))
    val served = rows(SimilaritySearch.ivfPqTopKFromIndex(erasedStore, q,
      nprobe = 2, m = 4, subDim = 16, k = 10))
    assert(served === rows(SimilaritySearch.ivfPqTopKFromIndex(logical, q,
      nprobe = 2, m = 4, subDim = 16, k = 10)))
    assert(served.map(_._1).toSet.intersect(subjects.toSet).isEmpty)
    // a missing REQUIRED frame fails loudly — a skipped `assignments`
    // would report an erasure that never happened
    val partial = java.nio.file.Files.createTempDirectory("idx-part")
      .toString
    idx.assignments.write.parquet(s"$partial/assignments")
    val err = intercept[IllegalArgumentException] {
      SimilaritySearch.eraseFromStoredIndex(spark, partial, Seq(1L))
    }
    assert(err.getMessage.contains("codes"))
  }

  test("knnWithinBlock ranks neighbors per item within label") {
    val out = SimilaritySearch.knnWithinBlock(embs, col("vec_id"),
      col("embedding"), col("label"), 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 2L) // 1's nearest in label 0 is 2
    assert(out(4L) == 5L)
    assert(out(5L) == 4L)
  }

  test("refineTopK with a full-corpus shortlist equals bruteForceTopK " +
    "row-for-row (exact re-rank degenerates to exact search)") {
    val q = Seq(1.0, 0.1, 0.0)
    val full = embs.select(col("vec_id").as("id"))
    val refined = SimilaritySearch.refineTopK(embs, col("vec_id"),
      col("embedding"), full, q, 4).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val brute = SimilaritySearch.bruteForceTopK(embs, col("vec_id"),
      col("embedding"), q, 4).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(refined === brute)
  }

  test("refineTopK scores only shortlist members, ranked by exact cosine " +
    "with id tiebreak") {
    val shortlist = Seq(3L, 4L, 5L).toDF("id")
    val out = SimilaritySearch.refineTopK(embs, col("vec_id"),
      col("embedding"), shortlist, Seq(1.0, 0.0, 0.0), 3)
      .orderBy("rank").collect()
    // id 5 = (0.1,0,0.9): cosine ~0.11; ids 3,4 are orthogonal (0.0) and
    // tie-break ascending. ids 1,2 (the true top-2) are NOT in the
    // shortlist and must not appear.
    assert(out.map(_.getLong(0)).toSeq == Seq(5L, 3L, 4L))
    val cosines = out.map(_.getDouble(1)).toSeq
    assert(cosines == cosines.sorted.reverse)
  }

  test("refineTopK restores exact-metric ordering over an ADC shortlist: " +
    "final ranking equals brute force restricted to the shortlist") {
    val e = (0 until 400).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (math.sin(i * 31 + d * 7) + math.cos(i * 13 + d * 3)).toFloat))
    }.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val shortlist = SimilaritySearch.ivfPqTopK(e, col("vec_id"),
      col("embedding"), q, ivfModulus = 50, nprobe = 2, pqModulus = 20,
      m = 4, subDim = 2, k = 20)
    val shortIds = shortlist.select("id").collect().map(_.getLong(0)).toSet
    val refined = SimilaritySearch.refineTopK(e, col("vec_id"),
      col("embedding"), shortlist, q, 5).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined.map(_._1).forall(shortIds.contains))
    // exact cosine over the same shortlist, driver-side
    val exact = e.filter(col("vec_id").isInCollection(shortIds))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          array(q.map(lit): _*)).as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, c) => (-c, id) }.take(5).toSeq
    assert(refined === exact)
  }

  test("refineTopK: duplicate shortlist ids do not duplicate scored rows " +
    "(SEMI-join contract)") {
    val shortlist = Seq(3L, 3L, 4L).toDF("id")
    val out = SimilaritySearch.refineTopK(embs, col("vec_id"),
      col("embedding"), shortlist, Seq(1.0, 0.0, 0.0), 3)
      .orderBy("rank").collect().map(_.getLong(0)).toSeq
    assert(out === Seq(3L, 4L))
  }

  // ---- trained quantizers ----

  private lazy val trainedFixture = (0 until 400).map { i =>
    (i.toLong, Array.tabulate(8)(d =>
      (math.sin(i * 31 + d * 7) + math.cos(i * 13 + d * 3)).toFloat))
  }.toDF("vec_id", "embedding")

  test("ivfCentroidsKMeans: unit-norm centers, at most k rows, and " +
    "IDENTICAL under a different partition layout (canon-for-fit)") {
    def centers(df: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.ivfCentroidsKMeans(df, col("vec_id"),
          col("embedding"), k = 4)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val base = centers(trainedFixture)
    assert(base.nonEmpty && base.size <= 4)
    base.values.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    assert(centers(trainedFixture.repartition(13)) === base)
  }

  test("storeIndex/readIndex: the parquet-roundtripped index holds the " +
    "same rows as the in-memory build and serves the same results") {
    val e = trainedFixture
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val idx = SimilaritySearch.ivfPqIndexTrainedSpilled(e, col("vec_id"),
      col("embedding"), kIvf = 4, a = 2, kSub = 8, m = 2, subDim = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq-stored-idx").toString
    val stored = SimilaritySearch.storeIndex(idx, dir)
    def frames(i: SimilaritySearch.IvfPqTrainedIndex) =
      Seq(i.centroids, i.assignments, i.codebook, i.codes)
    frames(idx).zip(frames(stored)).foreach { case (built, back) =>
      assert(built.exceptAll(back).isEmpty && back.exceptAll(built).isEmpty)
    }
    // the four frames land in the named directories readIndex reads
    Seq("centroids", "assignments", "codebook", "codes").foreach { name =>
      assert(new java.io.File(s"$dir/$name").isDirectory, name)
    }
    def served(i: SimilaritySearch.IvfPqTrainedIndex) =
      SimilaritySearch.ivfPqTopKTrainedSpilledRefinedFromIndex(i, e,
          col("vec_id"), col("embedding"), q, nprobe = 2, m = 2, subDim = 4,
          k = 5)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val inMemory = served(idx)
    assert(inMemory.size == 5)
    assert(served(stored) === inMemory)
    assert(served(SimilaritySearch.readIndex(spark, dir)) === inMemory)
    // the trained build is a function of the data, not its layout
    assert(served(SimilaritySearch.ivfPqIndexTrainedSpilled(
      e.repartition(13), col("vec_id"), col("embedding"), kIvf = 4, a = 2,
      kSub = 8, m = 2, subDim = 4)) === inMemory)
  }

  test("ivfPqTopKRefinedFromIndex: equals refineTopK composed over the " +
    "R = refineFactor*k stored-shape shortlist") {
    val e = trainedFixture
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).map(_.toDouble)
    val idx = SimilaritySearch.ivfPqIndex(e, col("vec_id"),
      col("embedding"), ivfModulus = 50, pqModulus = 20, m = 4, subDim = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank")
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    val composed = rows(SimilaritySearch.ivfPqTopKRefinedFromIndex(idx, e,
      col("vec_id"), col("embedding"), q, nprobe = 2, m = 4, subDim = 2,
      k = 5, refineFactor = 4))
    val manual = rows(SimilaritySearch.refineTopK(e, col("vec_id"),
      col("embedding"),
      SimilaritySearch.ivfPqTopKFromIndex(idx, q, nprobe = 2, m = 4,
        subDim = 2, k = 20),
      q, 5))
    assert(composed.size == 5)
    assert(composed === manual)
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqTopKRefinedFromIndex(idx, e, col("vec_id"),
        col("embedding"), q, nprobe = 2, m = 4, subDim = 2, k = 5,
        refineFactor = 0)
    }
  }
}
