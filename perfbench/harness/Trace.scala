package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark counters. `busyMs` is the time during which at least
  * one job was running, so wall time minus its delta is the time the
  * driver spent planning, compiling and collecting between jobs. */
final case class SparkCounters(jobs: Long, stages: Long, tasks: Long,
                               taskMs: Long, gcMs: Long, shuffleReadB: Long,
                               shuffleWriteB: Long, spillB: Long,
                               busyMs: Long) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, busyMs - o.busyMs)
}

final class SparkAccount extends SparkListener {
  private var jobs, stages, tasks, taskMs, gcMs = 0L
  private var shR, shW, spill, busyMs = 0L
  private var active = 0
  private var activeSince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) activeSince = e.time
    active += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active = math.max(0, active - 1)
    if (active == 0) busyMs += e.time - activeSince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shR += m.shuffleReadMetrics.totalBytesRead
      shW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: SparkCounters = synchronized {
    val open = if (active > 0) System.currentTimeMillis() - activeSince else 0L
    SparkCounters(jobs, stages, tasks, taskMs, gcMs, shR, shW, spill,
      busyMs + open)
  }
}

/** One recorded span: name, wall interval, parent span, request id, the
  * Spark counters that moved inside it, and counts set by the caller. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, request: Long, spark: SparkCounters,
                      counts: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded in the harness around calls into each layer, kept in
  * memory and written out when the run ends. Disabled, `span` only runs
  * its body. Spark counters per span are exact for spans that run alone
  * (the batch workloads); concurrent spans share the listener, so the
  * closed loops attribute Spark work per route in a serial pass. */
final class Tracer(spark: SparkSession, val account: SparkAccount) {
  @volatile var enabled = false
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val counts = new ThreadLocal[scala.collection.mutable.Map[String, Double]]

  def drain(): Unit =
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)

  /** Adds `v` to counter `k` of the innermost open span on this thread. */
  def count(k: String, v: Double): Unit =
    Option(counts.get()).foreach(m =>
      m(k) = m.getOrElse(k, 0.0) + v)

  def span[A](name: String, request: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parentStack = stack.get()
      val outerCounts = counts.get()
      val mine = scala.collection.mutable.Map[String, Double]()
      stack.set(id :: parentStack)
      counts.set(mine)
      drain()
      val s0 = account.snapshot
      val t0 = System.nanoTime()
      try body
      finally {
        drain()
        val t1 = System.nanoTime()
        val sp = Span(id, name, t0, t1, parentStack.headOption.getOrElse(0),
          request, account.snapshot - s0, mine.toMap)
        spans.add(sp)
        stack.set(parentStack)
        counts.set(outerCounts)
      }
    }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toVector.sortBy(_.startNs)
  }

  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      val c = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"parent":${s.parent},""" +
        s""""request":${s.request},"jobs":${s.spark.jobs},"stages":${s.spark.stages},""" +
        s""""tasks":${s.spark.tasks},"task_ms":${s.spark.taskMs},""" +
        s""""busy_ms":${s.spark.busyMs},"shuffle_read_b":${s.spark.shuffleReadB},""" +
        s""""shuffle_write_b":${s.spark.shuffleWriteB},"spill_b":${s.spark.spillB},""" +
        s""""counts":$c}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
