package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one round of a workload did. `opsMs` are the latencies of the
  * operations the workload's user waits for (one entry per batch run, or
  * one per request in a closed loop) and `opsS` the time spent running
  * them. `attempted`/`failed` count operations, the round's own output
  * checks included. */
final case class RoundOut(opsMs: Seq[Double], opsS: Double, rows: Long,
                          attempted: Int, failed: Int)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val tracer: Tracer, val cores: Int) {
  def dir(name: String): String = work.resolve(name).toString
  private val nAttempted = new java.util.concurrent.atomic.AtomicInteger()
  private val nFailed = new java.util.concurrent.atomic.AtomicInteger()
  def attempted: Int = nAttempted.get
  def failed: Int = nFailed.get

  /** Counts one output check; a false one is a failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    nAttempted.incrementAndGet()
    if (!ok) {
      nFailed.incrementAndGet()
      System.err.println(s"perfbench: check failed: $what")
    }
    ok
  }

  /** A fingerprint of this seed's output must equal the one an earlier
    * run at the same seed stored: same inputs, same results. */
  def sameAsEarlierRuns(workload: String, what: String, value: String): Boolean = {
    val f = work.getParent.getParent.resolve("fingerprints")
      .resolve(s"$workload-$seed-$what.txt")
    if (Files.exists(f)) check(Files.readString(f) == value,
      s"$what differs from an earlier run at seed $seed: ${Files.readString(f)} vs $value")
    else {
      Files.createDirectories(f.getParent)
      Files.writeString(f, value)
      check(true, "")
    }
  }
}

trait Workload {
  /** Input rows one round consumes. */
  def inputRows: Long
  /** Generates the seeded inputs and lands them, with whatever else the
    * program prepares before it serves. Runs several times; the last run's
    * state is what the rounds use. */
  def setup(): Unit
  /** One round of timed work. */
  def round(): RoundOut
  /** The untimed round that fills codegen, JIT and file-listing caches
    * before the timed ones. */
  def warmUp(): RoundOut = round()
  /** Output checks on the last round, outside the timed part. */
  def verify(): Unit
  /** Output checks over all of a run's rounds, once at its end. */
  def verifyRun(): Unit = ()
  /** Per-layer metrics from the spans of `rounds` traced rounds. */
  def layers(spans: Seq[Span], rounds: Int): Map[String, Double]
  /** Prefixes of the per-layer metrics of layers this workload does not
    * call; those, and only those, read 0 when not measured. */
  def notCalled: Seq[String]
  /** Work done once after the traced rounds to attribute Spark jobs to
    * concurrent operations (closed loops only). */
  def serialPass(): Map[String, Double] = Map.empty
  def close(): Unit = ()
  /** True when the workload's user pays JIT and codegen on every run (a
    * nightly batch starts a fresh JVM): then an untraced run measures one
    * cold round and warms nothing first. */
  def cold: Boolean = false
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Timed rounds a warm workload runs at least, however long they take. */
  val MinRounds = 1

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** Heap used after a full GC. Spark releases broadcast and shuffle
    * blocks only after a GC has cleared their last reference, so a second
    * GC after a pause measures what is really live. */
  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def codeCacheMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def session(cores: Int, build: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", build.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val ps = Files.walk(p)
      try ps.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally ps.close()
    }

  private val born = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%7.1f s  $msg")

  /** Exits the JVM either way: the HTTP server's executor threads are not
    * daemons and would keep it alive. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val name = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val build = Paths.get(opt("--build")).toAbsolutePath
    val cores = opt("--cores").toInt
    val work = build.resolve("work").resolve(name)
    deleteTree(work)
    Files.createDirectories(work)

    val spark = session(cores, build)
    val account = new SparkAccount
    spark.sparkContext.addSparkListener(account)
    val tracer = new Tracer(spark, account)
    val ctx = new Ctx(spark, seed, work, tracer, cores)
    progress("session up")
    val wl: Workload = name match {
      case "nightly_batch" => new NightlyBatch(ctx)
      case "online_serving" => new OnlineServing(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    progress("workload prepared")
    try {
      val setups = (1 to Setups).map { _ =>
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      progress(s"set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s")
      var heapPeak = liveHeapMb()
      final case class Timed(wallS: Double, out: RoundOut, traced: Boolean)
      val rounds = scala.collection.mutable.ArrayBuffer[Timed]()
      def timedRound(on: Boolean): Unit = {
        tracer.enabled = on
        val t0 = System.nanoTime()
        val out = tracer.span("round") { wl.round() }
        val wall = (System.nanoTime() - t0) / 1e9
        tracer.enabled = false
        rounds += Timed(wall, out, on)
        progress(f"round ${rounds.size} ${if (on) "traced" else "untraced"} $wall%.2f s")
        wl.verify()
        heapPeak = math.max(heapPeak, liveHeapMb())
      }
      // A traced run measures its own tracing overhead: after a warm-up it
      // alternates untraced and traced rounds, at least one untraced,
      // traced, traced, untraced cycle, so that a steady speed-up of the
      // warming JVM cancels. A cold workload affords one untraced and one
      // traced round only, and the later one gains from the warming.
      var warm = RoundOut(Nil, 0.0, 0L, 0, 0)
      if (!wl.cold || traced) {
        val w0 = System.nanoTime()
        warm = wl.warmUp(); wl.verify()
        progress(f"untimed round ${(System.nanoTime() - w0) / 1e9}%.2f s")
        heapPeak = math.max(heapPeak, liveHeapMb())
      }
      def nextTraced = traced && Seq(false, true, true, false)(rounds.size % 4)
      if (wl.cold) {
        timedRound(false)
        if (traced) timedRound(true)
      } else {
        val (window, least) = if (traced) (2 * seconds, 4) else (seconds, MinRounds)
        val start = System.nanoTime()
        while ((System.nanoTime() - start) / 1e9 < window || rounds.size < least)
          timedRound(nextTraced)
      }
      wl.verifyRun()

      def e2e(rs: Seq[Timed]): Map[String, Double] = {
        // a batch round is itself the one operation its user waits for
        def opsOf(r: Timed) = if (r.out.opsMs.isEmpty) Seq(r.wallS * 1000) else r.out.opsMs
        def opsTime(r: Timed) = if (r.out.opsMs.isEmpty) r.wallS else r.out.opsS
        val ops = rs.flatMap(opsOf)
        Map(
          "setup_s" -> median(setups),
          "wall_s" -> median(rs.map(_.wallS)),
          "rows_per_s" -> rs.map(_.out.rows).sum / rs.map(_.wallS).sum,
          "p50_ms" -> percentile(ops, 50),
          // the highest percentile with ten of a serving round's 32
          // operations beyond it
          "p70_ms" -> percentile(ops, 70),
          "ops_per_s" -> ops.size / rs.map(opsTime).sum,
          "peak_live_heap_mb" -> heapPeak)
      }
      val plain = rounds.filterNot(_.traced).toSeq
      val metrics: Map[String, Double] =
        if (!traced) e2e(plain)
        else {
          val spans = tracer.all
          val serial = { tracer.enabled = true; try wl.serialPass()
                         finally tracer.enabled = false }
          val roundSpans = spans.filter(_.name == "round")
          val n = roundSpans.size.toDouble
          val sc = roundSpans.map(_.spark)
            .reduceOption((a, b) => SparkCounters(a.jobs + b.jobs,
              a.stages + b.stages, a.tasks + b.tasks, a.taskMs + b.taskMs,
              a.gcMs + b.gcMs, a.shuffleReadB + b.shuffleReadB,
              a.shuffleWriteB + b.shuffleWriteB, a.spillB + b.spillB,
              a.busyMs + b.busyMs))
            .getOrElse(SparkCounters(0, 0, 0, 0, 0, 0, 0, 0, 0))
          val wallMs = roundSpans.map(_.ms).sum
          val (u, t) = (e2e(plain), e2e(rounds.filter(_.traced).toSeq))
          val comp = ManagementFactory.getCompilationMXBean
          Map(
            "spark.jobs" -> sc.jobs / n,
            "spark.stages" -> sc.stages / n,
            "spark.tasks" -> sc.tasks / n,
            "spark.task_ms" -> sc.taskMs / n,
            "spark.driver_ms" -> (wallMs - sc.busyMs) / n,
            "spark.busy_frac" -> sc.taskMs / (wallMs * cores),
            "spark.shuffle_read_mb" -> sc.shuffleReadB / n / 1048576.0,
            "spark.shuffle_write_mb" -> sc.shuffleWriteB / n / 1048576.0,
            "spark.spill_mb" -> sc.spillB / n / 1048576.0,
            "spark.gc_ms" -> sc.gcMs / n,
            "jvm.jit_ms" -> comp.getTotalCompilationTime.toDouble,
            "jvm.code_cache_mb" -> codeCacheMb(),
            "trace.overhead_wall_frac" -> (t("wall_s") / u("wall_s") - 1),
            "trace.overhead_p50_frac" -> (t("p50_ms") / u("p50_ms") - 1)) ++
            wl.layers(spans, roundSpans.size) ++ serial
        }
      tracer.write(build.resolve("traces").resolve(s"$name-$seed-${if (traced) 1 else 0}.jsonl"))

      val attempted = ctx.attempted + warm.attempted +
        rounds.map(_.out.attempted).sum
      val failed = ctx.failed + warm.failed + rounds.map(_.out.failed).sum
      println(f"# workload $name seed $seed cores $cores rounds ${rounds.size} " +
        f"(${plain.size} untraced) setups ${setups.map(s => f"$s%.3f").mkString(",")}")
      if (traced) println(s"# tracing overhead: ${rounds.count(_.traced)} traced against " +
        s"${plain.size} untraced rounds of this run")
      println(f"# error_frac ${failed.toDouble / math.max(1, attempted)}%.6f " +
        s"($failed of $attempted operations and checks failed)")
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(s"# $k ${Json.num(v)}")
      }
      val ms = metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val notCalled = if (!traced) "" else
        wl.notCalled.map(Json.str).mkString(""","not_called":[""", ",", "]")
      println(s"""perfbench-result {"correct":${failed == 0},"attempted":$attempted,""" +
        s""""failed":$failed,"metrics":$ms$notCalled}""")
    } finally {
      try wl.close() finally spark.stop()
    }
  }
}
