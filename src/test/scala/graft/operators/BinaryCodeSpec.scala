package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Binary sign codes + Hamming: multi-word packing (dims > 64), the
  * engine-vs-driver code parity the q209 serving path relies on, and
  * the distance identities. */
class BinaryCodeSpec extends SparkSpec {
  import spark.implicits._

  test("multi-word packing: engine codes == driver codes, hamming " +
      "counts exactly the flipped bits across word boundaries") {
    val dims = 130 // 3 words: 64 + 64 + 2
    val a = Seq.tabulate(dims)(i => if (i % 3 == 0) 1.0 else -1.0)
    // flip bits 0, 63, 64, 129 relative to a (word 0 edge, word 1
    // start, last bit of word 2)
    val flips = Set(0, 63, 64, 129)
    val b = a.zipWithIndex.map { case (x, i) =>
      if (flips.contains(i)) -x else x }
    val df = Seq((0L, a), (1L, b)).toDF("id", "v")
    val codes = df.select(col("id"),
      SimilaritySearch.binarySignCode(col("v"), dims).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(0L) == SimilaritySearch.binarySignCodeLocal(a, dims))
    assert(codes(1L) == SimilaritySearch.binarySignCodeLocal(b, dims))
    assert(codes(0L).length == 3)
    val ham = df.filter(col("id") === 1)
      .select(SimilaritySearch.hammingDistance(
        SimilaritySearch.binarySignCode(col("v"), dims),
        array(codes(0L).map(lit): _*)))
      .head.getLong(0)
    assert(ham == flips.size,
      s"expected ${flips.size} flipped bits, measured $ham")
  }

  test("hamming shortlist + refineTopK: with a full-coverage shortlist " +
      "the two-stage composition IS exact cosine top-k; with a tight " +
      "shortlist every hit comes from the hamming stage, exact-ordered") {
    import graft.functions.VectorFunctions
    val dims = 64
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(dims)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
    val q = vecs(7)._2
    val qArr = array(q.map(lit): _*)
    val brute = TopK.globalTopK(
      df.select(col("id"),
        VectorFunctions.dot(VectorFunctions.unit(col("v")),
          VectorFunctions.unit(qArr)).as("cos")),
      Seq(col("cos").desc, col("id").asc), 5)
      .collect().map(_.getLong(0)).toSeq
    def twoStage(shortlist: Int) = SimilaritySearch.refineTopK(df,
      col("id"), col("v"),
      SimilaritySearch.binaryHammingTopK(df, col("id"), col("v"), q, dims,
        shortlist),
      q, k = 5).collect()
    // shortlist 40 >= n: covers the corpus -> exact top-k
    val full = twoStage(40)
    assert(full.map(_.getLong(0)).toSeq == brute)
    // tight shortlist: every returned id must be in the hamming top-10,
    // ordered by exact cosine desc
    val short = SimilaritySearch.binaryHammingTopK(df, col("id"), col("v"),
      q, dims, k = 10).collect().map(_.getLong(0)).toSet
    val tight = twoStage(10)
    assert(tight.length == 5)
    tight.foreach(r => assert(short.contains(r.getLong(0))))
    val cosSeq = tight.map(_.getAs[Double]("cosine")).toSeq
    assert(cosSeq == cosSeq.sorted.reverse)
  }

  test("hamming identities: d(a,a)=0, symmetric, top-k ranks self first") {
    val dims = 70
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 30L).map(i =>
      (i, Seq.fill(dims)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
    val top = SimilaritySearch.binaryHammingTopK(df, col("id"), col("v"),
      vecs(5)._2, dims, k = 5).collect()
    assert(top.head.getLong(0) == 5L && top.head.getLong(1) == 0L,
      "the query vector itself must rank first at distance 0")
    assert(top.map(_.getLong(1)).toSeq == top.map(_.getLong(1)).toSeq.sorted)
  }
}
