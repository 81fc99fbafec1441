package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.PartitionedTableVersion

/** Runs one workload: session start, [[Main.SetupReps]] set-ups (the last
  * one is kept), one untimed warm-up round, a timed closed loop of
  * `--seconds` / [[Main.RoundSeconds]] whole rounds, then the final-state
  * check. Prints one `PERFBENCH_RESULT` JSON line with the
  * end-to-end metrics (and, with `--trace 1`, the per-layer metrics); the
  * traced run also writes its spans and jobs to `--trace-file`.
  *
  * {{{
  *   perfbench.Main --workload ingest --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  */
object Main {
  val SetupReps = 3
  /** `--seconds` becomes a whole number of rounds, one per this many
    * seconds (about one warm round on 4 cores), so every run measures the
    * same op mix whatever its seed or speed. */
  val RoundSeconds = 5.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val initialDays = opts.get("initial-days").map(_.toInt).getOrElse(Ingest.InitialDays)
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.now
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.bench", "graft.spark.GraftTableCatalog")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", Analytics.AdvisoryBytes)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Clock.now - t0) / 1000

    try {
      val repS = ArrayBuffer.empty[Double]
      var w: Workload = null
      (0 until SetupReps).foreach { i =>
        if (w != null) deleteTree(w.dir)
        val s = Clock.now
        w = Workload(workload, spark, seed, work.resolve(s"rep$i"), initialDays)
        w.setup()
        repS += (Clock.now - s) / 1000
      }
      w.model()

      // one untimed round first: the JIT and Spark's lazily built state warm
      // up on every op kind, as in a long-running service
      val warmup = new Harness(spark, trace = false)
      w.cycle(warmup, 0)
      val heapAfterWarmup = Jvm.liveOldGen()

      val h = new Harness(spark, trace)
      if (trace) {
        var last = w.storageBytes(h) -> 0L
        h.probe = rec => {
          val s = Clock.now
          val tv = w.log.currentVersion(w.main.name)
          rec.replayMs = Clock.now - s
          rec.partitions = tv match {
            case PartitionedTableVersion(pvs) => pvs.size
            case _ => 1
          }
          rec.commits = w.log.updates(w.main.name).size
          val walks = w.tables.map(t => h.walk(Paths.get(t.location)))
          val now = walks.map(_.bytes).sum -> walks.map(_.files).sum
          rec.bytesDelta = now._1 - last._1
          rec.filesDelta = now._2 - last._2
          last = now
        }
      }

      val gc0 = Jvm.gcMs
      val start = Clock.now
      val rounds = math.max(1, math.ceil(seconds / RoundSeconds).toInt)
      (1 to rounds).foreach(r => w.cycle(h, r))
      val end = Clock.now
      val gcMs = Jvm.gcMs - gc0
      val timed = h.ops.toVector

      w.finalCheck(h)
      val heapAfterGc = Jvm.liveOldGen()
      val heapPeak = math.max(heapAfterWarmup, heapAfterGc)
      val total = w.storageBytes(h)
      val (liveBytes, liveFiles, livePartitions) = w.live(h)
      val logBytes = Storage.walk(w.dir.resolve("_log")).bytes

      val checked = warmup.ops ++ h.ops
      val failed = checked.count(!_.ok)
      val e2e = EndToEnd(timed, (end - start) / 1000, sessionS + Stats.median(repS.toSeq),
        total.toDouble / liveBytes, heapPeak / 1048576.0)

      val layers = h.listener.map { l =>
        l.drain()
        Layers(timed, l.all, gcMs, heapAfterGc, logBytes, total, liveBytes, liveFiles,
          livePartitions)
      }
      layers.foreach { _ =>
        writeTrace(Paths.get(opt("trace-file")), workload, seed, timed, h)
      }

      val result = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cpus" -> cpus, "rounds" -> rounds, "timed_s" -> (end - start) / 1000,
        "correct" -> (failed == 0), "attempted" -> checked.size, "failed" -> failed,
        "fail_ratio" -> failed.toDouble / checked.size,
        "session_s" -> sessionS, "setup_reps_s" -> repS.toSeq,
        "samples" -> timed.groupBy(_.cls).map { case (c, os) => c -> os.size },
        "tail_percentile" -> EndToEnd.tailPercentiles(timed),
        "metrics" -> e2e,
        "layers" -> layers.getOrElse(Map.empty),
        "walks" -> Map("count" -> h.walks, "entries" -> h.walkEntries))
      println("PERFBENCH_RESULT " + Json(result))
      System.out.flush()
      spark.stop()
      sys.exit(if (failed == 0) 0 else 1)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(2)
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def writeTrace(
      path: Path, workload: String, seed: Long, ops: Seq[OpRecord], h: Harness): Unit = {
    val jobs = h.listener.get.all
    val doc = Map(
      "workload" -> workload, "seed" -> seed,
      "ops" -> ops.map { o =>
        Map("id" -> o.id, "cls" -> o.cls, "name" -> o.name, "start" -> o.start,
          "end" -> o.end, "wall_ms" -> o.wallMs, "ok" -> o.ok,
          "phases" -> o.phases.map(p => Map("name" -> p.name, "start" -> p.start, "end" -> p.end)),
          "replay_ms" -> o.replayMs, "commits" -> o.commits, "partitions" -> o.partitions,
          "bytes_delta" -> o.bytesDelta, "files_delta" -> o.filesDelta,
          "reclaimed" -> o.reclaimed)
      },
      "jobs" -> jobs.map { j =>
        Map("id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
          "tasks" -> j.tasks, "task_ms" -> j.taskMs)
      })
    Files.createDirectories(path.getParent)
    Files.write(path, Json(doc).getBytes(StandardCharsets.UTF_8))
  }
}

/** The end-to-end metrics, from op wall times. */
object EndToEnd {
  val Classes = Seq("write", "read", "travel", "dml", "cdc", "maint")
  private val Tails = Seq("write", "read", "dml")

  private def ok(ops: Seq[OpRecord], cls: String): Seq[OpRecord] =
    ops.filter(o => o.cls == cls && o.ok)

  /** The median of each op kind (its name) in the class, combined by
    * geometric mean: every kind weighs the same, and the statistic never
    * falls between the modes of kinds that cost different amounts. */
  def p50(ops: Seq[OpRecord], cls: String): Double = {
    val medians = ok(ops, cls).groupBy(_.name).values.map(os => Stats.median(os.map(_.wallMs)))
    if (medians.isEmpty) Double.NaN
    else math.exp(medians.map(math.log).sum / medians.size)
  }

  def tailPercentiles(ops: Seq[OpRecord]): Map[String, Double] =
    Tails.map(c => c -> 100 * Stats.tailQ(ok(ops, c).size)).toMap

  def apply(ops: Seq[OpRecord], timedS: Double, setupS: Double, spaceAmp: Double,
      heapPeakMb: Double): Map[String, Double] = {
    val p50s = Classes.map(c => s"${c}_p50_ms" -> p50(ops, c))
    // below 21 samples no percentile has ten beyond it: the tail is the p50
    val tails = Tails.map { c =>
      val xs = ok(ops, c).map(_.wallMs)
      s"${c}_tail_ms" -> (if (xs.size <= 20) p50(ops, c) else Stats.quantile(xs, Stats.tailQ(xs.size)))
    }
    (p50s ++ tails ++ Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> ops.count(_.ok) / timedS,
      "space_amp" -> spaceAmp,
      "heap_peak_mb" -> heapPeakMb)).toMap
  }
}

/** The per-layer metrics of a traced run: op phases and the Spark jobs
  * carrying each op's job group. */
object Layers {
  def apply(
      ops: Seq[OpRecord], jobs: Seq[JobListener#Job], gcMs: Long, heapAfterGc: Long,
      logBytes: Long, bytesTotal: Long, bytesLive: Long, filesLive: Long,
      partitionsLive: Long): Map[String, Double] = {
    val byGroup = jobs.groupBy(_.group)
    def jobsOf(o: OpRecord) = byGroup.getOrElse(s"op-${o.id}", Nil)
    def jobUnion(o: OpRecord) = Stats.unionMs(jobsOf(o).map(j =>
      (math.max(j.start.toDouble, o.start), math.min(j.end.toDouble, o.end))))
    def of(cls: String) = ops.filter(o => o.cls == cls && o.ok)
    def phaseMs(cls: String, phase: String) =
      of(cls).flatMap(_.phases.filter(_.name == phase).map(_.ms))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def perOp(cls: String, f: OpRecord => Double) = med(of(cls).map(f))
    def meanOf(cls: String, f: OpRecord => Double) = Stats.mean(of(cls).map(f))
    def taskMs(o: OpRecord) = jobsOf(o).map(_.taskMs).sum.toDouble
    def jobsDuring(o: OpRecord, phase: String) = o.phases.filter(_.name == phase)
      .map(p => jobsOf(o).count(j => j.start >= p.start - 1 && j.start <= p.end + 1)).sum.toDouble

    val write = of("write")
    val reads = of("read")
    val timed = ops.filter(_.cls != "check")
    val n = math.max(timed.size, 1).toDouble
    val inOps = jobs.filter(j => j.group != null && j.group.startsWith("op-"))
    val allJobWall = Stats.unionMs(timed.flatMap(o => jobsOf(o).map(j =>
      (math.max(j.start.toDouble, o.start), math.min(j.end.toDouble, o.end)))))
    val replays = timed.filter(o => !o.replayMs.isNaN)

    Map(
      "core.replay_ms" -> med(replays.map(_.replayMs)),
      "core.replay_us_per_commit" ->
        1000 * Stats.slope(replays.map(o => (o.commits.toDouble, o.replayMs))),
      "core.log_bytes" -> logBytes.toDouble,
      "read.resolve_ms" -> med(phaseMs("read", "resolve")),
      "read.resolve_ms_per_partition" -> Stats.slope(reads.flatMap(o =>
        o.phases.filter(_.name == "resolve").map(p => (o.partitions.toDouble, p.ms)))),
      "read.plan_ms" -> med(phaseMs("read", "plan")),
      "read.exec_ms" -> med(phaseMs("read", "exec")),
      "read.jobs_per_op" -> meanOf("read", jobsDuring(_, "resolve")),
      "travel.resolve_ms" -> med(phaseMs("travel", "resolve")),
      "write.driver_ms" -> perOp("write", o => o.wallMs - jobUnion(o)),
      "write.job_ms" -> perOp("write", jobUnion),
      "write.task_ms" -> perOp("write", taskMs),
      "write.tasks_per_job" ->
        write.map(o => jobsOf(o).map(_.tasks).sum).sum.toDouble /
          math.max(write.map(o => jobsOf(o).size).sum, 1),
      "write.jobs_per_op" -> meanOf("write", o => jobsOf(o).size.toDouble),
      "write.files_added" -> meanOf("write", _.filesDelta.toDouble),
      "dml.job_ms" -> perOp("dml", jobUnion),
      "dml.driver_ms" -> perOp("dml", o => o.wallMs - jobUnion(o)),
      "dml.jobs_per_op" -> meanOf("dml", o => jobsOf(o).size.toDouble),
      "dml.task_ms" -> perOp("dml", taskMs),
      "dml.bytes_written" -> meanOf("dml", _.bytesDelta.toDouble),
      "cdc.resolve_ms" -> med(phaseMs("cdc", "resolve")),
      "cdc.exec_ms" -> med(phaseMs("cdc", "exec")),
      "maint.optimize_ms" -> med(phaseMs("maint", "optimize")),
      "maint.vacuum_ms" -> med(phaseMs("maint", "vacuum")),
      "maint.bytes_reclaimed" -> meanOf("maint", _.reclaimed.toDouble),
      "exec.jobs" -> inOps.size / n,
      "exec.tasks" -> inOps.map(_.tasks).sum / n,
      "exec.task_ms" -> inOps.map(_.taskMs).sum / n,
      "exec.job_wall_ms" -> allJobWall / n,
      "exec.driver_gap_ms" -> (timed.map(_.wallMs).sum - allJobWall) / n,
      "storage.bytes_total" -> bytesTotal.toDouble,
      "storage.bytes_live" -> bytesLive.toDouble,
      "storage.files_live" -> filesLive.toDouble,
      "storage.partitions_live" -> partitionsLive.toDouble,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_after_gc_mb" -> heapAfterGc / 1048576.0)
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
