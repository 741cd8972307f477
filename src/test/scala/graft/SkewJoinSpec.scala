package graft

import org.apache.spark.sql.functions._

/**
 * AQE skew-join split: several operators lean on AQE splitting a hot join
 * key at runtime (blocked ER join J3, the tf-idf term join, LSH band
 * joins) instead of hand-salting everything. This gate proves the
 * mechanism actually fires on a skewed sort-merge join in this Spark —
 * thresholds floored because testdata partitions are far below the
 * production 256 MB advisory size; the MECHANISM is what's size-invariant
 * (a refactor that re-enables broadcast or disables AQE here would pass
 * tiny tests and die on the hot key at scale).
 */
class SkewJoinSpec extends SparkSpec {

  test("a hot key is split by OptimizeSkewedJoin at runtime") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 200k rows on ONE key vs a uniform right side: the canonical hot
      // blocking key ("the"/"glo" prefixes at corpus scale)
      val left = spark.range(200000)
        .select(lit("hot").as("k"), col("id").as("lv"))
        .union(spark.range(1000)
          .select(concat(lit("k"), col("id") % 50).as("k"), col("id").as("lv")))
      val right = spark.range(500)
        .select(when(col("id") % 2 === 0, "hot")
          .otherwise(concat(lit("k"), col("id") % 50)).as("k"),
          col("id").as("rv"))
      // NOTE: no groupBy on the join key — a keyed parent would require
      // the join's output partitioning and veto the split (that veto is
      // itself correct behavior: splitting would break the reused
      // Exchange). Pair-scoring consumers (ER features) are exactly this
      // shape: row-wise work over the join output.
      val joined = left.join(right, "k")
        .select(length(col("k")) + col("lv") + col("rv"))
      // execute THIS QueryExecution so AQE finalizes the plan, without
      // keeping the 50M joined rows on the driver (a collect() OOMs)
      joined.queryExecution.toRdd.foreach(_ => ())
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("Skew"),
        s"hot key must be split by the skew-join rule:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
