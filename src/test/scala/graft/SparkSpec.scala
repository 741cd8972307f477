package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small core count — specs use tiny
  * literal frames; parallelism is tested at bench scale, not here). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // keep session for other suites

  /** Spark jobs `f` submits: counted by a listener on a job group of its
    * own, which threads `f` starts inherit, so a job of any other thread
    * on the shared session is not counted. */
  protected def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      f
      org.apache.spark.ListenerBusShim.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    jobs.get
  }
}

/** Deterministic ScalaCheck case driver shared by the *PropsSpec
  * suites: n generator draws from fixed per-index seeds (reproducible
  * across runs and suites; a failed draw is dropped rather than
  * retried, so keep generators total). */
trait PropsCases {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed
  protected def seedBase: Long = 42L
  protected def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seedBase + i)))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
