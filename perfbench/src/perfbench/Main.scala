package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, GraftSession}

/** One closed-loop run (or one drain): the unit `run_s` and `cpu_s`
  * are medians of. */
final case class RunSample(runS: Double, cpuS: Double, stealS: Double)

/** What a timed phase measured: its completed runs, the runs it
  * attempted and how many of them failed, and workload-specific
  * per-layer numbers. */
final case class Phase(runs: Seq[RunSample], ops: Int, failed: Int,
    extra: Map[String, Double])

/** Output check: `attempted` checks, `failed` of them, and why. */
final case class Check(attempted: Int, failed: Int, notes: Seq[String])

trait Workload {
  /** Per set-up cycle, on a fresh session: read the inputs and publish
    * any reference state the workload serves from. */
  def prepare(spark: SparkSession, cycle: Int): Unit
  /** One untimed pass after set-up, so that the timed phase starts
    * with compiled code and filled file caches. */
  def warmup(spark: SparkSession): Unit
  /** The timed section: at least `minRuns` runs and `budgetS` seconds. */
  def measure(spark: SparkSession, budgetS: Double, minRuns: Int): Phase
  /** Per-layer numbers read after the traced phase, with listeners
    * detached, so that the reads are not charged to the phase. */
  def traceExtra(spark: SparkSession, ls: Listeners): Map[String, Double] = Map.empty
  def check(spark: SparkSession): Check
  /** Extra result fields for run.py (e.g. oracle SQL). */
  def report: Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. Builds the session and prepares the
  * workload several times (set-up), warms it up once, measures an
  * untraced phase, then (with --trace 1) a traced phase with spans and
  * listeners, checks the outputs and writes one result JSON file.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds>
  *   <trace 0|1> <resultFile> */
object Main {
  val SetupCycles = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Time `body` as one run: wall, process CPU and host steal. */
  def timed(body: => Unit): RunSample = {
    val (c0, s0, t0) = (Host.cpuNs, Host.stealS, System.nanoTime())
    Trace.span("bench", "run")(body)
    RunSample((System.nanoTime() - t0) / 1e9, (Host.cpuNs - c0) / 1e9, Host.stealS - s0)
  }

  /** Closed loop: repeat `body` until `budgetS` has passed and at
    * least `minRuns` runs are done, but never more than `maxRuns`. A
    * throwing run is counted and the loop goes on. */
  def closedLoop(budgetS: Double, minRuns: Int, maxRuns: Int = Int.MaxValue)(
      body: Int => Unit): (Seq[RunSample], Int) = {
    require(1 <= minRuns && minRuns <= maxRuns)
    val runs = mutable.ArrayBuffer.empty[RunSample]
    var failed = 0
    val t0 = System.nanoTime()
    var i = 0
    while (i < minRuns || (i < maxRuns && (System.nanoTime() - t0) / 1e9 < budgetS)) {
      Trace.run = i
      try {
        runs += timed(body(i))
        System.err.println(f"perfbench: run $i ${runs.last.runS}%.3f s")
      }
      catch { case t: Throwable =>
        failed += 1
        System.err.println(s"run $i failed: $t")
      }
      i += 1
    }
    (runs.toSeq, failed)
  }

  /** Persist through CacheScope and fill the cache now. */
  def materialize(df: DataFrame): DataFrame = {
    val p = CacheScope.persisted(df)
    p.count()
    CacheWatch.sample(df.sparkSession)
    p
  }

  def main(args: Array[String]): Unit = {
    val Array(name, input, work, secondsArg, traceArg, resultFile) = args
    val jvmStart = System.nanoTime()
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val w: Workload = name match {
      case "wallet_rebuild" => new WalletRebuild(input, work)
      case "stream_admit" => new StreamAdmit(input, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, several times: session build + inputs + reference
    // state; then one untimed warm-up pass of the workload
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (cycle <- 1 to SetupCycles) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(s"local[$cores]", cores)
      buildS += (System.nanoTime() - t0) / 1e9
      w.prepare(spark, cycle)
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: setup cycle $cycle ${setupS.last}%.2f s (session ${buildS.last}%.2f s)")
    }
    val ls = new Listeners
    if (traced) ls.attach(spark)
    val w0 = System.nanoTime()
    w.warmup(spark)
    CacheScope.releaseAll(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"perfbench: warm-up $warmupS%.2f s, at ${(System.nanoTime() - jvmStart) / 1e9}%.1f s")

    // ---- timed phases
    // untraced only: two runs at least; traced: one untraced run, for
    // the overhead, and one traced run
    val (budget, minRuns) = if (traced) (seconds / 2, 1) else (seconds, 2)
    val untraced = w.measure(spark, budget, minRuns)
    CacheScope.releaseAll(spark)
    var layers = Map.empty[String, Double]
    // runs of both phases count as operations: a traced run that throws
    // is a failure like an untraced one
    var (ops, failed) = (untraced.ops, untraced.failed)
    if (traced) {
      Trace.reset()
      CacheWatch.reset()
      val codegen0 = Codegen.snapshot
      val t = ls.counting(spark) {
        Trace.enabled = true
        try w.measure(spark, budget, minRuns) finally Trace.enabled = false
      }
      ls.detach(spark)
      val (compiles, compileMs) = Codegen.since(codegen0)
      ops += t.ops
      failed += t.failed
      Files.writeString(Paths.get(work, "spans.json"), Trace.toJson(Trace.all))
      layers = Layers.summarize(Trace.all, ls, t, untraced, cores) ++ t.extra ++
        w.traceExtra(spark, ls) ++
        Map("CacheScope.storage_memory_bytes" -> Bridge.maxStorageMemory.toDouble,
          "CacheScope.peak_bytes" -> CacheWatch.peakBytes.toDouble,
          "CacheScope.disk_bytes" -> CacheWatch.peakDisk.toDouble,
          "GraftSession.build_s" -> median(buildS.toSeq),
          "spark.codegen_compiles" -> compiles / math.max(1, t.runs.size),
          "spark.codegen_s" -> compileMs / 1e3 / math.max(1, t.runs.size),
          "bench.warmup_s" -> warmupS)
      CacheScope.releaseAll(spark)
    }

    System.err.println(f"perfbench: measured at ${(System.nanoTime() - jvmStart) / 1e9}%.1f s")
    val check = try w.check(spark) catch { case t: Throwable =>
      t.printStackTrace()
      Check(1, 1, Seq(s"check threw: $t"))
    }
    System.err.println(f"perfbench: checked at ${(System.nanoTime() - jvmStart) / 1e9}%.1f s")
    val result = Json.obj(
      "workload" -> name,
      "cores" -> cores,
      "setup_s" -> setupS.toSeq,
      "build_s" -> buildS.toSeq,
      "runs" -> untraced.runs.map(r => Map("run_s" -> r.runS, "cpu_s" -> r.cpuS, "steal_s" -> r.stealS)),
      "ops" -> ops,
      "failed_ops" -> failed,
      "extra" -> untraced.extra,
      "layers" -> layers,
      "check" -> Map("attempted" -> check.attempted, "failed" -> check.failed, "notes" -> check.notes),
      "peak_rss_mb" -> Host.peakRssMb,
      "storage_memory_bytes" -> Bridge.maxStorageMemory,
      "report" -> w.report)
    Files.writeString(Paths.get(resultFile), result + "\n")
    spark.stop()
  }
}

/** Whole-stage and expression code generation: classes compiled and
  * milliseconds spent compiling them (Spark's codegen metrics). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def snapshot: (Long, Double) = {
    val h = METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
  def since(s0: (Long, Double)): (Double, Double) = {
    val (n, ms) = snapshot
    ((n - s0._1).toDouble, ms - s0._2)
  }
}

/** Peak bytes of cached blocks (memory + disk, and disk alone),
  * sampled each time the benchmark fills a persisted intermediate. */
object CacheWatch {
  @volatile var peakBytes = 0L
  @volatile var peakDisk = 0L
  def reset(): Unit = { peakBytes = 0L; peakDisk = 0L }
  def sample(spark: SparkSession): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val disk = infos.map(_.diskSize).sum
    peakBytes = math.max(peakBytes, infos.map(_.memSize).sum + disk)
    peakDisk = math.max(peakDisk, disk)
  }
}

/** Per-layer numbers from the traced phase. Span-derived seconds are
  * per run; listener counts (`spark.*`, `plans.*`) are totals over the
  * traced phase. */
object Layers {
  import Main.median

  def summarize(spans: Seq[Span], ls: Listeners, t: Phase, untraced: Phase,
      cores: Int): Map[String, Double] = {
    val all = ls.perSpan.values.asScala
    val self = Trace.selfSeconds(spans)
    val layerNames = Seq("sources", "operators", "streaming", "CacheScope", "checks", "bench")
    val runsSpans = spans.filter(s => s.layer == "bench" && s.name == "run")
    val perRun = math.max(1, runsSpans.size).toDouble
    val selfM = layerNames.map(l => s"$l.self_s" -> self.getOrElse(l, 0.0) / perRun).toMap
    val wallS = t.runs.map(_.runS).sum
    val s = (f: Counts => java.util.concurrent.atomic.LongAdder) => all.map(f(_).sum().toDouble).sum
    val taskRunS = s(_.runNs) / 1e9
    val overhead = median(t.runs.map(_.runS)) - median(untraced.runs.map(_.runS))
    val stalled = (t.runs ++ untraced.runs).count(r => stallOf(r, cores))
    // every span kind's seconds per run: operators.profits_s, ...
    val spanS = spans.filterNot(_.layer == "bench").groupBy(x => s"${x.layer}.${x.name}_s")
      .map { case (k, xs) => k -> xs.map(_.seconds).sum / perRun }
    selfM ++ spanS ++ Map(
      "spark.jobs" -> s(_.jobs),
      "spark.stages" -> s(_.stages),
      "spark.tasks" -> s(_.tasks),
      "spark.task_failures" -> s(_.taskFailures),
      "spark.task_run_s" -> taskRunS,
      "spark.task_cpu_s" -> s(_.cpuNs) / 1e9,
      "spark.gc_s" -> s(_.gcMs) / 1e3,
      "spark.sched_delay_s" -> s(_.schedDelayMs) / 1e3,
      "spark.shuffle_write_bytes" -> s(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> s(_.shuffleRead),
      "spark.spill_bytes" -> s(_.spill),
      "spark.sort_s" -> s(_.sortNs) / 1e9,
      "spark.agg_s" -> s(_.aggNs) / 1e9,
      "spark.join_build_s" -> s(_.joinBuildNs) / 1e9,
      "spark.slot_busy_share" -> (if (wallS > 0) taskRunS / (wallS * cores) else 0.0),
      "plans.actions" -> s(_.actions),
      "plans.analysis_ms" -> s(_.analysisMs),
      "plans.optimization_ms" -> s(_.optimizationMs),
      "plans.physical_ms" -> s(_.planningMs),
      "plans.graft_rules_ms" -> s(_.graftRulesNs) / 1e6,
      "sources.bytes_written" -> s(_.bytesWritten),
      "sources.bytes_read" -> s(_.bytesRead),
      "bench.runs" -> runsSpans.size.toDouble,
      "bench.tracing_overhead_s" -> overhead,
      "bench.traced_run_s" -> median(t.runs.map(_.runS)),
      "host.steal_s" -> (t.runs ++ untraced.runs).map(_.stealS).sum,
      "host.cpu_util" -> {
        val all = t.runs ++ untraced.runs
        all.map(_.cpuS).sum / math.max(1e-9, all.map(_.runS).sum * cores)
      },
      "host.stalled_runs" -> stalled.toDouble)
  }

  /** A run is stalled when the host stole more than a tenth of the
    * machine's CPU time during it, or the process got less than a
    * tenth of one core on average. On quiet runs of this benchmark on a
    * 4-core VM steal stays under 2 % and the process keeps 2.5 to 3
    * cores busy. */
  def stallOf(r: RunSample, cores: Int): Boolean =
    r.runS > 0 && (r.stealS / (r.runS * cores) > 0.1 || r.cpuS / r.runS < 0.1)
}
