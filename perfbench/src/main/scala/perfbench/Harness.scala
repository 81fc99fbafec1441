package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * line up with the job timestamps Spark's scheduler reports. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** One closed-loop operation: its class (the end-to-end metric family it
  * feeds), its phases, and what the traced run learned around it. */
final class OpRecord(val id: Int, val cls: String, val name: String) {
  var start = 0.0
  var end = 0.0
  var pausedMs = 0.0
  val phases = ArrayBuffer.empty[Span]
  var error: Option[String] = None
  // traced runs only, measured after the op outside its timing
  var replayMs = Double.NaN
  var commits = 0
  var partitions = 0
  var bytesDelta = 0L
  var filesDelta = 0L
  var reclaimed = 0L
  def wallMs: Double = end - start - pausedMs
  def ok: Boolean = error.isEmpty
}

/** Handle an op body uses to time its phases and check its results. */
final class Op(h: Harness, val rec: OpRecord) {
  private val spark = h.spark

  def phase[T](name: String)(body: => T): T = {
    val s = Clock.now
    try body finally rec.phases += Span(name, s, Clock.now)
  }

  /** Work done only in traced runs (storage walks between phases); its
    * time is taken out of the op's wall time. */
  def untimed(body: => Unit): Unit = if (h.trace) {
    val s = Clock.now
    body
    rec.pausedMs += Clock.now - s
  }

  /** A query in three phases: analysis (`spark.sql` returning), physical
    * planning (forcing `executedPlan`) and execution (`collect`). */
  def query(sql: String): Array[Row] = {
    val df = phase("resolve")(spark.sql(sql))
    phase("plan")(df.queryExecution.executedPlan)
    phase("exec")(df.collect())
  }

  /** A statement Spark runs eagerly (INSERT, MERGE, UPDATE, DELETE,
    * OPTIMIZE, VACUUM): one phase. */
  def command(phaseName: String, sql: String): Array[Row] =
    phase(phaseName)(spark.sql(sql).collect())

  def run(phaseName: String)(body: => Unit): Unit = phase(phaseName)(body)

  def expect(what: String, actual: Any, expected: Any): Unit =
    if (actual != expected && rec.error.isEmpty)
      rec.error = Some(s"$what: got $actual, expected $expected")
}

/** Spark jobs seen by the traced run, keyed by the op's job group. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long) {
    @volatile var end: Long = -1L
    @volatile var tasks = 0
    @volatile var taskMs = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val j = new Job(e.jobId, group, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    if (j != null && e.taskInfo != null) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
    }
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.end = e.time
    events += 1
  }

  /** The listener bus is asynchronous: wait until every started job has
    * ended and no event arrived for a while. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (last != events || jobs.values.asScala.exists(_.end < 0))) {
      last = events
      Thread.sleep(100)
    }
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
}

final case class Walk(bytes: Long, files: Long, entries: Long)

object Storage {
  /** Bytes and regular files under `root`, and every entry visited. */
  def walk(root: Path): Walk =
    if (!Files.exists(root)) Walk(0, 0, 0)
    else {
      var bytes, files, entries = 0L
      val s = Files.walk(root)
      try s.iterator().asScala.foreach { p =>
        entries += 1
        if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
      } finally s.close()
      Walk(bytes, files, entries)
    }
}

object Jvm {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Old-generation bytes in use after a full collection. Spark's
    * ContextCleaner frees broadcast and shuffle state of collected plans
    * asynchronously after a GC finds them unreachable, so a second GC once
    * it had time to run sees the live set. */
  def liveOldGen(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Runs ops in a closed loop (one client, the next op after the previous
  * one returns), keeps their records, and in traced runs attributes Spark
  * jobs to them through a per-op job group. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val listener: Option[JobListener] =
    if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  /** Traced runs: measured after every op (log replay, storage walk). */
  var probe: OpRecord => Unit = _ => ()
  var walks = 0L
  var walkEntries = 0L

  def walk(root: Path): Walk = {
    val w = Storage.walk(root)
    walks += 1
    walkEntries += w.entries
    w
  }

  def op(cls: String, name: String)(body: Op => Unit): OpRecord = {
    val rec = new OpRecord(ops.size, cls, name)
    if (trace) spark.sparkContext.setJobGroup(s"op-${rec.id}", name, interruptOnCancel = false)
    rec.start = Clock.now
    try body(new Op(this, rec))
    catch { case NonFatal(e) => rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    rec.end = Clock.now
    if (trace) {
      spark.sparkContext.clearJobGroup()
      try probe(rec)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] probe failed: $e") }
    }
    rec.error.foreach(e => System.err.println(s"[perfbench] op ${rec.id} ${rec.cls}/${rec.name} FAILED: $e"))
    ops += rec
    rec
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, never
    * below the median. */
  def tailQ(n: Int): Double = if (n <= 20) 0.5 else 1.0 - 10.0 / n

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Least-squares slope of y against x; 0 when x does not vary. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    if (pts.size < 2) 0.0
    else {
      val mx = mean(pts.map(_._1))
      val my = mean(pts.map(_._2))
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0.0 else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
