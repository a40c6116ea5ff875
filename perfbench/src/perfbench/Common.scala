package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command line of the harness JVM (run.py passes all of it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    runDir: Path,
    sfDir: String,
    cpus: Int) {
  def scratch: Path = runDir.resolve("scratch")
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--run-dir")),
      m.getOrElse("--sf", ""), m.getOrElse("--cpus", "4").toInt)
  }
}

/** What a workload hands back: raw metrics by name, the operation count,
  * the failed-or-wrong count, and the wall-clock instant of the first
  * timed operation (the end of set-up). */
final case class Outcome(
    metrics: Map[String, Double],
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    firstOpEpochMs: Double,
    extra: Map[String, String] = Map.empty)

/** One clock for spans and Spark listener events: epoch nanoseconds,
  * advanced by `nanoTime` so intervals stay monotonic. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + base
  def fromNano(n: Long): Long = n + base
  def epochMs(n: Long): Double = (n + base) / 1e6
}

/** In-memory spans, written once at exit. Disabled tracing records
  * nothing, so the untraced run pays one branch per call site. */
final class Trace(val on: Boolean) {
  final case class Span(id: Long, var parent: Long, name: String,
      req: String, start: Long, end: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong

  /** Times are [[Clock]] epoch nanoseconds. */
  def span(name: String, req: => String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, req, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Make each `child` span a child of the `parent` span whose interval
    * contains the child's start (Spark jobs under queries). */
  def adopt(child: String, parent: String): Unit = if (on) {
    val ps = all.filter(_.name == parent).sortBy(_.start).toArray
    val starts = ps.map(_.start)
    all.filter(s => s.name == child && s.parent == 0L).foreach { c =>
      val i = java.util.Arrays.binarySearch(starts, c.start)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && c.start <= ps(k).end) c.parent = ps(k).id
    }
  }

  /** Self time per layer (the span name up to its first '.'), in s: a
    * span's duration minus the union of its children's intervals. */
  def selfSeconds: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        (s.end - s.start) - Stats.unionLength(kids)
      }.sum
      layer -> self / 1e9
    }
  }

  def write(path: Path): Unit = if (on) {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":"${Json.esc(s.req)}","start_ns":${s.start},""" +
        s""""end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample; NaN when empty. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Bytes of the regular files under a directory (0 if absent). */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.map { f =>
        try { if (Files.isRegularFile(f)) Files.size(f) else 0L }
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** A growable primitive buffer, so per-operation samples do not box. */
final class LongBuf(initial: Int = 1024) {
  private var a = new Array[Long](initial)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
  def toDoubles(scale: Double): Array[Double] = toArray.map(_ / scale)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}

object Host {
  /** `Thread.sleep(1)` p95 and `parkNanos(50us)` p95 in ms, as in
    * `graft.Bench.hostProbe`: a degraded co-tenant window shows here
    * before it shows in any latency figure. */
  def probe(n: Int = 300): (Double, Double) = {
    val sl = Array.fill(n) {
      val t = System.nanoTime(); Thread.sleep(1); (System.nanoTime() - t) / 1e6
    }
    val pk = Array.fill(n) {
      val t = System.nanoTime()
      java.util.concurrent.locks.LockSupport.parkNanos(50000)
      (System.nanoTime() - t) / 1e6
    }
    (Stats.pct(sl, 0.95), Stats.pct(pk, 0.95))
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(Double.NaN)
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}

/** Spark jobs, tasks and bytes as seen from a listener the benchmark
  * registers itself. Times are listener event times on the [[Clock]]
  * scale (ms resolution). */
final class JobTap extends SparkListener {
  final case class Job(id: Int, start: Long, end: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val connectorStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  final case class TaskRec(time: Long, connector: Boolean,
      inputRecords: Long, shuffleBytes: Long)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def ms(t: Long): Long = t * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, ms(e.time), Long.MaxValue))
    // a DataSourceRDD in a stage's lineage is a DSv2 scan: in this repo
    // that is the river connector (parquet goes through FileScanRDD)
    e.stageInfos.foreach { s =>
      if (s.rddInfos.exists(_.name.contains("DataSourceRDD")))
        connectorStages.add(s.stageId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = ms(e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(ms(e.taskInfo.finishTime),
      connectorStages.contains(e.stageId),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
  }

  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start < to)
      .toSeq.sortBy(_.start)
  def tasksIn(from: Long, to: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.time >= from && t.time < to).toSeq
  def openJobs: Int = jobs.values.asScala.count(_.end == Long.MaxValue)

  /** Listener delivery is asynchronous: wait until every started job
    * has ended (bounded), so windows closed just now are complete. */
  def settle(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(100)
    while (openJobs > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def traceJobs(t: Trace, from: Long, to: Long): Unit =
    jobsIn(from, to).foreach { j =>
      t.span("spark.job", s"job${j.id}", j.start, math.min(j.end, to))
    }
}

object Sessions {
  /** local[cpus] session with scratch inside the run directory. */
  def spark(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.scratch.resolve("spark-local").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        a.scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
