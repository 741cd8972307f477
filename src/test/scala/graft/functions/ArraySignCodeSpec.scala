package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SimilaritySearch

/**
 * [[ArraySignCode]] through `SimilaritySearch.binarySignCode` against the
 * sum of 64 `when`s per word it replaced, kept here as the reference:
 * equal words over float and double vectors, one and two words
 * (dims = 100), NaN and −0.0, a null vector (all-zero words) and a null
 * element (bit 0); a vector shorter than `dims` raises the reference's
 * error class under ANSI mode and matches its cleared bits without it.
 */
class ArraySignCodeSpec extends SparkSpec {
  import spark.implicits._

  private def reference(vecCol: Column, dims: Int): Column = {
    val words = (dims + 63) / 64
    array((0 until words).map { w =>
      val lo = w * 64
      val hi = math.min(dims, lo + 64)
      (lo until hi).map(i =>
        when(element_at(vecCol, i + 1).cast("double") > 0,
          lit(1L << (i - lo))).otherwise(lit(0L)))
        .reduce(_ + _)
    }: _*)
  }

  private val rnd = new scala.util.Random(23)

  private def vec(n: Int): Seq[java.lang.Double] = (0 until n).map { _ =>
    rnd.nextInt(30) match {
      case 0 => null
      case 1 => java.lang.Double.valueOf(Double.NaN)
      case 2 => java.lang.Double.valueOf(-0.0)
      case 3 => java.lang.Double.valueOf(0.0)
      case _ => java.lang.Double.valueOf(rnd.nextGaussian())
    }
  }

  /** Rows where the kernel and the reference disagree, on the local
    * relation (interpreted) and behind an Exchange (generated code). */
  private def mismatches(df: DataFrame, dims: Int): Long =
    Seq(df, df.repartition(2)).map(d =>
      d.select(SimilaritySearch.binarySignCode(col("v"), dims).as("k"),
          reference(col("v"), dims).as("r"))
        .filter(!(col("k") <=> col("r"))).count()).sum

  test("double and float vectors, dims 64 and 100: kernel == when sum, " +
      "incl. NaN, -0.0, null elements and a null vector") {
    Seq(64, 100).foreach { dims =>
      val rows = (0 until 200).map(i => (i.toLong, vec(dims))) :+
        ((999L, null.asInstanceOf[Seq[java.lang.Double]]))
      val df = rows.toDF("id", "v")
      assert(mismatches(df, dims) === 0)
      assert(mismatches(df.withColumn("v", col("v").cast("array<float>")),
        dims) === 0)
    }
    val nulls = Seq((1L, null.asInstanceOf[Seq[Double]])).toDF("id", "v")
    assert(nulls.select(SimilaritySearch.binarySignCode(col("v"), 100))
      .head().getSeq[Long](0) === Seq(0L, 0L))
  }

  test("the driver-side query code equals the column code") {
    (0 until 50).foreach { _ =>
      val v = (0 until 100).map(_ => rnd.nextGaussian())
      val col0 = Seq(v).toDF("v")
        .select(SimilaritySearch.binarySignCode(col("v"), 100))
        .head().getSeq[Long](0)
      assert(SimilaritySearch.binarySignCodeLocal(v, 100) === col0)
    }
  }

  private def condition(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkThrowable if s.getCondition != null =>
        s.getCondition }
      .getOrElse(fail(s"no error condition in $e"))
  }

  test("a vector shorter than dims: the reference's ANSI error class, and " +
      "its cleared bits without ANSI") {
    val short = Seq((1L, vec(70).map(x => if (x == null) 1.0 else x.doubleValue)))
      .toDF("id", "v")
    Seq(short, short.repartition(2)).foreach { df =>
      val want = condition(df.select(reference(col("v"), 100)).collect())
      assert(want === "INVALID_ARRAY_INDEX_IN_ELEMENT_AT")
      assert(condition(df.select(SimilaritySearch.binarySignCode(col("v"),
        100)).collect()) === want)
    }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assert(mismatches(short, 100) === 0)
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
