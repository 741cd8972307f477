package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/**
 * Driver-local replay of `org.apache.spark.mllib.clustering.KMeans`
 * (Spark 4.1.2, `runAlgorithmWithWeight` + `initRandom` /
 * `initKMeansParallel`) for a BOUNDED, already-collected training
 * sample — the r18 job-storm fix for the trained-ANN family (guide
 * §1.2/§5: q210 ran 452 Spark jobs, ~290 of them the 24 MLlib fits'
 * init/Lloyd rounds over a ≤2048-row sample; the fit cost was job
 * COUNT, not compute).
 *
 * Bit-exactness contract — scoped to LOCAL-MODE merge order on Spark
 * 4.1.x: every numeric step calls the SAME MLlib primitive the
 * distributed fit calls —
 * [[DistanceMeasure.findClosest]] (stats-pruned, the exact
 * fastSquaredDistance float path), [[DistanceMeasure.updateClusterSum]]
 * / [[DistanceMeasure.centroid]] / [[DistanceMeasure.isCenterConverged]],
 * [[LocalKMeans.kMeansPlusPlus]], [[BLAS.axpy]], [[Vectors.norm]],
 * [[BernoulliSampler]] with [[XORShiftRandom]] seeds, and
 * `java.util.Random` where `RDD.takeSample` /
 * `PartitionwiseSampledRDD.getPartitions` use it — applied to the same
 * rows in the same per-partition order the distributed fit sees. The
 * driver-level control flow (sampling loops, per-partition partial
 * sums merged in ascending-partition order) is transcribed from the
 * 4.1.2 bytecode. Spark guarantees neither merge order: the
 * distributed `costs.sum()` folds partials in task-COMPLETION order and
 * the Lloyd `reduceByKey` merges combiners in shuffle-FETCH order, which
 * are partition-ascending only in local mode. So the replay equals the
 * distributed fit of a local-mode session, not of a cluster, and
 * another Spark version may change the transcribed flow: [[fit]]
 * refuses to run on anything but 4.1.x. `LocalKMeansSpec` pins
 * bit-for-bit equality (`java.lang.Double.doubleToRawLongBits`)
 * against the MLlib fit on every (fixture, k, seed, maxIter, initMode)
 * combination the declared queries and the AnnRecall protocol train.
 *
 * Input is partition-structured (`parts(i)` = the rows of partition i,
 * in order) because k-means|| sampling, takeSample and the partial-sum
 * merge are all functions of the partition layout — the caller
 * collects the canonical 4-partition layout `canonForFit` pins.
 *
 * Fits share no mutable state: each call builds its own norms, centers,
 * samplers and distance measure, and only reads `parts`, so callers may
 * run several fits at once on driver threads (the per-subspace PQ
 * codebook does).
 */
object GraftLocalKMeans {

  /** The k-means configuration the replay transcribes (MLlib's
    * defaults): the distributed fit it is compared with must set these. */
  val InitSteps = 2
  val Distance: String = DistanceMeasure.EUCLIDEAN

  /** Mirror of `new KMeans().setK(k).setSeed(seed).setInitMode(initMode)
    * .setInitSteps(InitSteps).setDistanceMeasure(Distance)
    * .setMaxIter(maxIter).setTol(epsilon).fit(...)` over the collected
    * sample. Returns `model.clusterCenters` as raw double arrays. */
  def fit(parts: Array[Array[Vector]], k: Int, maxIterations: Int,
          epsilon: Double, seed: Long, initMode: String): Array[Array[Double]] = {
    require(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"GraftLocalKMeans replays Spark 4.1.x k-means; running on Spark " +
        s"${org.apache.spark.SPARK_VERSION} — re-transcribe it before use")
    // runWithWeight: norms zipped on, weight 1.0 per row
    val data: Array[Array[VectorWithNorm]] = parts.map(_.map(v =>
      new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0)))
    val dm = DistanceMeasure.decodeFromString(Distance)
    val centers: Array[VectorWithNorm] =
      if (initMode == KMeans.RANDOM) initRandom(data, k, seed)
      else initKMeansParallel(data, dm, k, seed, InitSteps)
    val numFeatures = centers.head.vector.size
    val shouldComputeStats =
      DistanceMeasure.shouldComputeStatistics(centers.length)
    // (computeStatistics vs computeStatisticsDistributedly produce the
    // same packed array — each cell is an independent center-pair
    // distance — so the local replay always computes locally)
    var converged = false
    var iteration = 0
    while (iteration < maxIterations && !converged) {
      val stats: Option[Array[Double]] =
        if (shouldComputeStats) Some(dm.computeStatistics(centers)) else None
      // mapPartitions: per-partition sums/weights; reduceByKey merges
      // combiners in arrival order = ascending map partition in local
      // mode (axpy of the later partial INTO the earlier)
      val mergedSums = new java.util.TreeMap[Int, Vector]()
      val mergedWeights = new java.util.TreeMap[Int, java.lang.Double]()
      data.foreach { part =>
        val sums = Array.fill(centers.length)(Vectors.zeros(numFeatures))
        val weights = new Array[Double](centers.length)
        part.foreach { point =>
          val (bestCenter, _) = dm.findClosest(centers, stats, point)
          dm.updateClusterSum(point, sums(bestCenter))
          weights(bestCenter) += point.weight
        }
        var j = 0
        while (j < centers.length) {
          if (weights(j) > 0) {
            val prev = mergedSums.get(j)
            if (prev == null) {
              mergedSums.put(j, sums(j))
              mergedWeights.put(j, weights(j))
            } else {
              BLAS.axpy(1.0, sums(j), prev)
              mergedWeights.put(j, mergedWeights.get(j) + weights(j))
            }
          }
          j += 1
        }
      }
      converged = true
      mergedSums.forEach { (j, sum) =>
        val newCenter = dm.centroid(sum, mergedWeights.get(j))
        if (converged && !dm.isCenterConverged(centers(j), newCenter, epsilon))
          converged = false
        centers(j) = newCenter
      }
      iteration += 1
    }
    centers.map(_.vector.toArray)
  }

  /** `initRandom`: takeSample(k) → .map(_.vector).distinct → re-norm. */
  private def initRandom(data: Array[Array[VectorWithNorm]], k: Int,
                         seed: Long): Array[VectorWithNorm] =
    takeSample(data, k, new XORShiftRandom(seed).nextInt().toLong)
      .map(_.vector).distinct.map(new VectorWithNorm(_))

  /** `initKMeansParallel` (k-means||, Bahmani et al.): transcribed from
    * the 4.1.2 bytecode; every numeric kernel is the MLlib one. */
  private def initKMeansParallel(data: Array[Array[VectorWithNorm]],
                                 dm: DistanceMeasure, k: Int, seedParam: Long,
                                 initSteps: Int): Array[VectorWithNorm] = {
    var costs: Array[Array[Double]] =
      data.map(_.map(_ => Double.PositiveInfinity))
    val seed = new XORShiftRandom(seedParam).nextInt()
    val sample = takeSample(data, 1, seed.toLong)
    require(sample.nonEmpty, s"No samples available from the input data")
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters = Array(sample.head.toDense)
    centers ++= newCenters
    var step = 0
    while (step < initSteps) {
      // costs = data.zip(preCosts).map(min(pointCost(newCenters, p), cost))
      val nc = newCenters
      costs = data.zip(costs).map { case (part, pc) =>
        part.zip(pc).map { case (point, cost) =>
          math.min(dm.pointCost(nc, point), cost)
        }
      }
      // costs.sum(): per-partition left fold from 0.0, partitions merged
      // in ascending order (local-mode task-completion order)
      val sumCosts = costs.foldLeft(0.0)((acc, part) =>
        acc + part.foldLeft(0.0)(_ + _))
      // chosen: per-partition XORShiftRandom(seed ^ (step << 16) ^ index)
      val chosen = data.zip(costs).zipWithIndex.flatMap {
        case ((part, pc), index) =>
          val rand = new XORShiftRandom((seed ^ (step << 16) ^ index).toLong)
          part.zip(pc).filter { case (_, c) =>
            rand.nextDouble() < 2.0 * c * k / sumCosts
          }.map(_._1)
      }
      newCenters = chosen.map(_.toDense)
      centers ++= newCenters
      step += 1
    }
    val distinctCenters =
      centers.map(_.vector).distinct.map(new VectorWithNorm(_))
    if (distinctCenters.length <= k) distinctCenters.toArray
    else {
      // weights = countByValue of each point's closest distinct center
      val dc = distinctCenters.toArray
      val countMap = new java.util.HashMap[Int, Long]()
      data.foreach(_.foreach { p =>
        val j = dm.findClosest(dc, p)._1
        countMap.merge(j, 1L, (a, b) => a + b)
      })
      val myWeights = dc.indices.map(i =>
        Option(countMap.get(i)).map(_.toDouble).getOrElse(0.0)).toArray
      LocalKMeans.kMeansPlusPlus(0, dc, myWeights, k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, num, seed)` over the
    * partition-structured local data: the same java.util.Random seed
    * stream, the same BernoulliSampler-per-partition sampling
    * (`PartitionwiseSampledRDD`), the same shuffle-and-take. */
  private def takeSample(data: Array[Array[VectorWithNorm]], num: Int,
                         seed: Long): Array[VectorWithNorm] = {
    if (num == 0) return Array.empty
    val initialCount = data.map(_.length.toLong).sum
    if (initialCount == 0) return Array.empty
    val rand = new java.util.Random(seed)
    if (num >= initialCount) {
      // collect() order = partition order, then shuffle in place
      Utils.randomizeInPlace(data.flatten, rand)
    } else {
      val fraction = SamplingUtils.computeFractionForSampleSize(
        num, initialCount, withReplacement = false)
      var samples = sampleLocal(data, fraction, rand.nextInt().toLong)
      while (samples.length < num) {
        samples = sampleLocal(data, fraction, rand.nextInt().toLong)
      }
      Utils.randomizeInPlace(samples, rand).take(num)
    }
  }

  /** `RDD.sample(false, fraction, seed)` =
    * `PartitionwiseSampledRDD(_, BernoulliSampler(fraction), true, seed)`:
    * per-partition seeds drawn from java.util.Random(seed).nextLong() in
    * partition order, each partition run through Spark's own sampler. */
  private def sampleLocal(data: Array[Array[VectorWithNorm]],
                          fraction: Double,
                          seed: Long): Array[VectorWithNorm] = {
    val random = new java.util.Random(seed)
    data.flatMap { part =>
      val partSeed = random.nextLong()
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      sampler.setSeed(partSeed)
      sampler.sample(part.iterator).toArray
    }
  }
}
