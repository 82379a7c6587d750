package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Thread-safe named samples and counters, reduced to quantiles at the end. */
final class Recorder {
  private val samples = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val errors = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val examples = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def add(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def count(name: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(n)
  /** A failed operation, counted under its error class; the first
    * message of each class is kept for the report. */
  def failure(cls: String, msg: String = ""): Unit = {
    count("failed")
    errors.computeIfAbsent(cls, _ => new LongAdder).increment()
    if (msg.nonEmpty) examples.putIfAbsent(cls, msg.take(300))
  }

  def values(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toVector).getOrElse(Vector.empty)
  def n(name: String): Long = Option(counters.get(name)).map(_.sum).getOrElse(0L)
  def quantile(name: String, q: Double): Double = Recorder.quantile(values(name), q)
  def sampleCounts: Map[String, Int] = samples.asScala.map { case (k, v) => k -> v.size }.toMap
  def errorClasses: Map[String, Long] = errors.asScala.map { case (k, v) => k -> v.sum }.toMap
  def errorExamples: Map[String, String] = examples.asScala.toMap
}

object Recorder {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Counts Spark jobs, tasks and shuffle writes, in total and per job
  * group (a thread-local property the replay sets around each
  * statement phase), and keeps each group's job intervals. Jobs of the
  * benchmark's own answer checks run under a group named with
  * [[JobListener.CheckPrefix]] and stay out of the totals. */
final class JobListener extends SparkListener {
  import JobListener.CheckPrefix
  final class Tally {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val shuffleRecords = new AtomicLong; val shuffleBytes = new AtomicLong
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  val total = new Tally
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Tally]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def group(g: String): Tally = groups.computeIfAbsent(g, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (!g.exists(_.startsWith(CheckPrefix))) total.jobs.incrementAndGet()
    g.foreach { name =>
      group(name).jobs.incrementAndGet()
      jobGroup.put(e.jobId, (name, e.time))
      e.stageIds.foreach(stageGroup.put(_, name))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (name, t0) =>
      group(name).intervals.add((t0, e.time))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val recs = m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L)
    val bytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    val g = Option(stageGroup.get(e.stageId))
    val tallies = (if (g.exists(_.startsWith(CheckPrefix))) Nil else Seq(total)) ++ g.map(group)
    tallies.foreach { t =>
      t.tasks.incrementAndGet(); t.shuffleRecords.addAndGet(recs); t.shuffleBytes.addAndGet(bytes)
    }
  }
}

object JobListener {
  val CheckPrefix = "check:"

  /** Runs `body` under a check job group on this thread, so its Spark
    * jobs are not counted as the workload's. */
  def checking[T](sc: org.apache.spark.SparkContext, what: String)(body: => T): T = {
    sc.setJobGroup(CheckPrefix + what, what)
    try body finally sc.clearJobGroup()
  }

  /** Milliseconds covered by the union of the intervals. */
  def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var covered = 0L; var end = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Spans recorded from the benchmark's side of each layer boundary:
  * name, start and end (ns, monotonic), parent span and request id.
  * Kept in memory; written as JSON lines when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val request = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val requests = new AtomicLong

  private val muted = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }

  /** Start a new request on this thread (its spans share the id);
    * `traced = false` records none of its spans, so one run can time
    * traced and untraced requests side by side. */
  def newRequest(traced: Boolean = true): Unit = if (enabled) {
    request.set(requests.incrementAndGet())
    muted.set(!traced)
  }

  private def on: Boolean = enabled && !muted.get()

  /** A span whose times were taken elsewhere, under the current span. */
  def record(name: String, start: Long, end: Long): Unit = if (on)
    spans.add(Span(ids.incrementAndGet(), name, start, end, current.get(), request.get()))

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, request.get()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toVector
  def names: Set[String] = all.map(_.name).toSet

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(Main.json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "request" -> s.req)))
      w.newLine()
    } finally w.close()
  }
}

/** Host stamp: CPU count, load average, and a fixed integer hash loop
  * timed single-threaded and on every CPU (the loop of graft's catalog
  * bench, re-implemented here), so a noisy host shows in the output. */
object Host {
  private val sink = new AtomicLong
  private def hashLoop(iters: Long): Long = {
    var h = 1469598103934665603L
    var i = 0L
    while (i < iters) { h ^= i; h *= 1099511628211L; h ^= (h >>> 33); i += 1 }
    h
  }
  /** (single-thread seconds, all-CPU seconds) for 1e8 iterations each. */
  def calibrate(cpus: Int): (Double, Double) = {
    val n = 100000000L
    val t0 = System.nanoTime()
    sink.addAndGet(hashLoop(n))
    val single = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ts = (0 until cpus).map(_ => new Thread(() => { sink.addAndGet(hashLoop(n)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (single, (System.nanoTime() - t1) / 1e9)
  }
  def loadAverage: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (collections, collection ms) summed over the JVM's collectors. */
  def gc: (Long, Long) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount).filter(_ > 0).sum, bs.map(_.getCollectionTime).filter(_ > 0).sum)
  }
  /** Heap in use after full collections, MB. The second collection
    * reclaims what Spark's cleaner released after the first. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
