package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: times every SparkEntry query at the configured
  * scale factor and emits one compact JSON line for the driver, plus a
  * complete per-query artifact (`BENCH_DETAIL.json`) on disk — the
  * driver keeps only a ~2 KB tail of stdout, which a 100-query
  * three-map line overflows (r11–r13 recorded `parsed: null`).
  *
  * A failing query is a bench FAILURE, not a fast run: its error is
  * recorded, surfaced on stderr, and the process exits nonzero so a
  * broken operator can never bench as "0 seconds". The timed action is
  * `collect()` — materializing the actual result values — not
  * `count()`, which for aggregates can plan a slightly cheaper query.
  *
  * Besides wall time, every query records its process-CPU and GC time
  * deltas (`cpu_sec` / `gc_sec` maps) plus top-level `cpu_util`
  * (process-CPU ÷ wall ÷ cores) and the host 1-min load average
  * sampled before the first query (`load_start`), after EVERY query
  * (max kept as `load_max`), and after the last (`load_end`). A
  * contended host starves this process of cycles, so wall inflates
  * while the per-query CPU delta does not. Three rounds of polluted
  * artifacts slipped through a start-only load check because the
  * driver keeps only the TAIL of this JSON line — so the contention
  * evidence now (a) comes from mid-run samples, not just the start,
  * and (b) is emitted compactly at the END of the line: a
  * `"slowest"` map (top-10 by wall, each with wall+cpu — wall ≈ cpu
  * on a 32-core-parallel query proves starvation directly), a
  * `"starved"` list, `"load_max"` / `"ext_load_max"`, and
  * `"contended"`.
  *
  * The raw 1-min load average counts this benchmark's OWN runnable
  * threads — a heavy parallel query pushes it past cores/2 on an
  * otherwise-idle host, which falsely flagged clean runs. Each
  * sample is therefore discounted by the process's own trailing-60s
  * CPU rate (its expected contribution to a 1-min load average,
  * interpolated from cumulative-CPU readings at query boundaries):
  * `ext_load` ≈ demand from OTHER processes. A query is `starved`
  * when it burned real CPU (> 1 s), its wall exceeded ~3× the
  * perfectly-parallel floor (cpu/cores), AND the external load showed
  * competing demand for over half the cores. `contended` requires
  * positive evidence — a starved query, sustained ext_load above half
  * the cores, or a calibration collapse; raw `load_max` alone is
  * informational.
  *
  * Load- and starvation-based detection is still blind to SMT
  * co-tenancy and cgroup throttling, which inflate CPU-seconds along
  * with wall. `cal_mops_start` / `cal_mops_end` measure effective core
  * throughput directly (all-core fixed spin loop, ~400 ms); a drop vs
  * other rounds' artifacts on the same host is pollution proof even
  * when every load/starvation signal stays quiet, and an intra-run
  * collapse (end < 0.6 × start) flips `contended` by itself.
  *
  * The run SELF-HEALS: queries whose boundary samples show
  * contamination (starved, or external demand above half the cores)
  * are re-queued once at run end and replaced by their rerun when it
  * comes back clean or faster; `"requeued"` lists what was retried and
  * `"dirty"` what stayed contaminated — every per-query entry in the
  * artifact is clean-or-flagged, with no prose needed to interpret it.
  * `"warmup_failed"` flags a skipped warmup (its JIT cost lands on the
  * first query of the affected family, which would otherwise read as a
  * regression).
  *
  * The run also GATES on the start-of-run calibration probe: it
  * retries (with delay) until the probe clears the host's pollution
  * floor, because a run that STARTS polluted inflates its first-third
  * timings without tripping any per-query signal — drift recovery is
  * not per-query contamination. A run that never clears is flagged
  * (`cal_below_floor`) and reads as contended.
  */
object Bench {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Cumulative process CPU time in seconds (-1 → NaN if unsupported). */
  private def processCpuSec(): Double = osBean match {
    case b: com.sun.management.OperatingSystemMXBean =>
      val t = b.getProcessCpuTime
      if (t < 0) Double.NaN else t / 1e9
    case _ => Double.NaN
  }

  /** Cumulative stop-the-world GC time in seconds, summed over collectors. */
  private def gcSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** JIT code-cache occupancy in MB, summed over the CodeHeap /
    * CodeCache memory pools. 185 codegen-heavy gates generate
    * thousands of janino classes; when occupancy approaches the
    * reserve (-XX:ReservedCodeCacheSize), the sweeper starts flushing
    * warm nmethods and hot loops bounce between compiled and
    * interpreted execution — CPU-real per-gate inflation of 10–30× on
    * byte-identical code with NO "CodeCache is full" warning (that
    * only prints when flushing is off or flushing cannot keep up).
    * Sampled at every query boundary so the artifact shows exactly
    * when the cache saturates. */
  private def codeCacheUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Total reserved code-cache capacity in MB (the exhaustion ceiling
    * occupancy is judged against). */
  private def codeCacheMaxMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getMax).filter(_ > 0).sum / 1048576.0
  }

  /** Cumulative JIT compilation time in seconds (what the compiler
    * threads burned; -1 → NaN if unsupported). A query whose boundary
    * delta here is large paid for (re)compilation — churn when the
    * code it runs was already hot earlier in the suite. */
  private def jitSec(): Double = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b == null || !b.isCompilationTimeMonitoringSupported) Double.NaN
    else b.getTotalCompilationTime / 1e3
  }

  /** Linear interpolation of a cumulative-CPU series at time `t`:
    * `points` is (elapsed-sec, cpu-sec) in increasing time order;
    * values clamp to the first/last point outside the recorded range.
    * Pure — extracted so the trailing-rate math is unit-testable (an
    * off-by-one here silently disabled starvation detection for >60 s
    * queries once already). */
  private[graft] def cpuAt(points: IndexedSeq[(Double, Double)], t: Double): Double =
    points.lastIndexWhere(_._1 <= t) match {
      case -1 => points.head._2
      case i if i == points.length - 1 => points(i)._2
      case i =>
        val (t0, c0) = points(i); val (t1, c1) = points(i + 1)
        c0 + (c1 - c0) * (t - t0) / (t1 - t0)
    }

  /** The process's average CPU rate (cores) over the trailing 60 s
    * ending at `now`: its expected contribution to a 1-min load
    * average. `points` must include the current instant as its last
    * entry. */
  private[graft] def trailingRate(points: IndexedSeq[(Double, Double)], now: Double): Double = {
    val horizon = math.max(0.0, now - 60.0)
    val window = now - horizon
    if (window <= 0) 0.0
    else math.max(0.0, (points.last._2 - cpuAt(points, horizon)) / window)
  }

  /** A query starved when it burned real CPU (> 1 s), its wall
    * exceeded ~3× the perfectly-parallel floor, and the EXTERNAL load
    * showed competing demand for over half the host's cores. The
    * floor divides by the SESSION's worker-thread count, not the host
    * core count: a query running under local[4] on a 32-core host
    * cannot wall faster than cpu/4, and a cores-denominator floor
    * would mark every normally-executing query as inflated. */
  private[graft] def isStarved(
      wall: Double, cpu: Double, extLoad: Double,
      workers: Int, hostCores: Int): Boolean =
    !cpu.isNaN && cpu > 1.0 && wall > 3.0 * cpu / workers &&
      !extLoad.isNaN && extLoad > hostCores / 2.0

  /** A query's timing is CONTAMINATED when it starved, or when the
    * boundary sample right after it showed external demand for over
    * half the cores (the timing may be inflated even if the query's
    * own shape didn't trip the starvation test). Contaminated queries
    * are re-queued once at run end; ones still dirty after the rerun
    * are flagged in the artifact so a reader never has to guess which
    * per-query numbers to trust. */
  private[graft] def isDirty(
      wall: Double, cpu: Double, extLoad: Double,
      workers: Int, hostCores: Int): Boolean =
    isStarved(wall, cpu, extLoad, workers, hostCores) ||
      (!extLoad.isNaN && extLoad > hostCores / 2.0)

  /** One recert rerun with FAILURE CAPTURE: runs `run(name)`; if the
    * rerun failed — it threw, or the error registry gained `name` —
    * the first-pass measurement stands, the error is cleared from the
    * registry, the failure is recorded as (name, first line of the
    * error) so the ARTIFACT carries it, and None is returned. The r17
    * and r18 driver tails both showed a swallowed recert failure
    * visible only as a stderr stack trace — the artifact's
    * `recert_failed` field exists so a flaky recert is data, not a
    * log archaeology exercise. Pure control flow — unit-tested in
    * BenchMathSpec with a forced-failure run. */
  private[graft] def recertAttempt[R](
      name: String,
      run: String => R,
      errorOf: String => Option[String],
      clearError: String => Unit,
      failed: scala.collection.mutable.Buffer[(String, String)]): Option[R] = {
    def firstLine(msg: String): String =
      String.valueOf(msg).linesIterator.take(1).mkString
    val attempt =
      try Right(run(name))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    (attempt, errorOf(name)) match {
      case (Right(r), None) => Some(r)
      case (_, registered) =>
        registered.foreach(_ => clearError(name))
        failed += name -> firstLine(attempt.left.toOption.orElse(registered).getOrElse(""))
        System.err.println(s"[bench] recert rerun of $name failed; keeping first-pass result")
        None
    }
  }

  /** Minimal JSON string escaping for artifact fields that carry
    * free-form error text. */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Effective-core-throughput calibration: every core spins a fixed
    * integer mixer for ~400 ms; returns aggregate Mops/s. This is the
    * contention signal the load/starvation detectors CANNOT provide:
    * SMT co-tenancy and cgroup throttling inflate CPU-seconds along
    * with wall (the round-9 artifact burned 1.85× the CPU of a quiet
    * run at load_max 12 — wall ≫ cpu/cores never triggers), but they
    * cut ops/s on a fixed workload directly. Compare across rounds on
    * the same host, and start-vs-end within a run. */
  private def calibrateMops(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    val durNs = 400L * 1000 * 1000
    val total = new java.util.concurrent.atomic.AtomicLong
    val sink = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until cores).map { i =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var ops = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < durNs) {
          var j = 0
          while (j < 4096) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29; j += 1 }
          ops += 4096
        }
        sink.addAndGet(x) // keep the mixer live past the JIT
        total.addAndGet(ops); ()
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    total.get / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** Memory-STREAMING calibration: every core sweeps a private 16 MB
    * long[] (sequential sum) for ~300 ms; returns aggregate GB/s.
    * This is the contention signal the register-only spin probe
    * CANNOT provide: the spin mixer never touches memory, so a
    * co-tenant saturating the LLC / memory controllers leaves it
    * near-nominal while memory-bound Spark work (columnar scans,
    * hash maps, shuffles) inflates its CPU-seconds severalfold —
    * exactly the CPU-real per-gate inflation observed across r19–r21
    * on runs whose spin probes certified clean. Compare start-vs-end
    * within a run and across runs on the same host; recorded (not
    * gated) until a quiet band for this host is established. */
  private def calibrateMemBw(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    val words = 2 << 20 // 16 MB per thread: far past L2, spills the shared LLC across cores
    val durNs = 300L * 1000 * 1000
    val totalBytes = new java.util.concurrent.atomic.AtomicLong
    val sink = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until cores).map { i =>
      new Thread(() => {
        val a = new Array[Long](words)
        java.util.Arrays.fill(a, 0x9E3779B97F4A7C15L + i)
        var s = 0L
        var bytes = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < durNs) {
          var j = 0
          while (j < words) { s += a(j); j += 1 }
          bytes += words.toLong * 8
        }
        sink.addAndGet(s)
        totalBytes.addAndGet(bytes); ()
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    totalBytes.get / ((System.nanoTime() - t0) / 1e9) / 1e9
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Sampled before this process does any parallel work: a 1-min load
    // average near/above the core count here means OTHER processes own
    // the cores and the wall times below are not comparable.
    val loadStart = osBean.getSystemLoadAverage
    // The own-CPU series starts BEFORE calibration and warmup: both
    // burn real CPU whose contribution is still decaying out of the
    // 1-min load average at the first query boundaries, and
    // ownTrailingRate can only discount CPU recorded after its first
    // sample — starting it later would misread warmup leftovers as
    // external demand and re-create the self-load false positive.
    val runStart = System.nanoTime()
    val cpuPoints = scala.collection.mutable.ArrayBuffer((0.0, processCpuSec()))
    // Calibrate BEFORE warmup (cold JIT is fine — the spin loop JITs in
    // its first milliseconds) and again after the last query.
    //
    // The start-of-run probe is a GATE, not just a recording: the
    // round-11 artifact started at 9,986 Mops — below the ~10,000
    // pollution floor this host's quiet runs establish — and the
    // per-query self-healing never fired because drift RECOVERY isn't
    // per-query contamination (unchanged early-alphabet queries read
    // 2–3× hot while late ones ran clean). A run that begins polluted
    // produces per-query numbers unusable as next-round baselines, so:
    // retry the probe with a delay until it clears the floor or the
    // retry budget runs out; a run that never clears is flagged
    // (`cal_below_floor`) and counts as positive contention evidence.
    // The floor is env-tunable for other hosts; 0 disables the gate.
    //
    // Floor calibration. The rule: the floor sits at the BOTTOM EDGE
    // of the host's quiet warm band, re-derived when multi-day
    // evidence shows the band itself moved (a floor above the band
    // flags every clean run; one below admits polluted ones).
    //  - Round 12 (first derivation): quiet warm band ~12.5–14k → floor
    //    12,500. Same-day A/B: a run admitted at 10,759 Mops measured
    //    the shared query set 1.43× hot; one gated to 13,168 measured
    //    1.05×.
    //  - Rounds 13–15 (re-base): the band shifted down ~5% and STAYED
    //    there — r13 runs probed 11.7–11.8k all evening, r14's four
    //    runs 11.58–12.2k across 8-attempt retry loops, and r15's
    //    quiet-host probe series (no Spark running) read 11.7–12.2k
    //    with start-probes 12.26–12.33k. Host drift, not transient
    //    load: no run in three rounds ever saw the old 12.5k+ band.
    //    Floor re-based to the new bottom edge — 11,500 — so a quiet
    //    run certifies again while a 10.7k-grade polluted start (the
    //    r12 1.43× case) still gates.
    val calFloor = sys.env.get("SPARK_GRAFT_CAL_FLOOR").flatMap(_.toDoubleOption)
      .getOrElse(11500.0)
    // Memory-bandwidth quiet-band floor (GB/s), gated alongside the
    // spin floor since r22: the pair (spin OK, membw LOW) is the
    // signature of memory-side co-tenancy — the one pollution mode
    // every load/starvation/spin signal is blind to, and the
    // direct mechanism behind the r19–r21 CPU-real per-gate inflation.
    // Band evidence on this host: certified-clean runs probe 115–280
    // GB/s (r21 8-core driver run 116/246, r22 baseline 151/278); the
    // r21 32-core driver run that burned 3.1× CPU probed 14.5, and the
    // r21 builder run with visible inflation probed 72–89. Floor at
    // the bottom edge of the clean band: 110. 0 disables. NOTE the
    // gate is necessary, not sufficient — the r22 baseline cleared
    // both probes and still carried CPU-real inflation on heavy gates
    // (see flapper_cpu_hot below for the per-gate residual signal).
    val membwFloor = sys.env.get("SPARK_GRAFT_MEMBW_FLOOR").flatMap(_.toDoubleOption)
      .getOrElse(110.0)
    // One discarded warm-up probe first: the cold probe reads ~20% low
    // (thread-start + OSR lag), which sits BELOW the floor on a quiet
    // host — gating on it would buy a 15 s retry every clean run. The
    // recorded cal_mops_start is therefore a WARM reading; quiet-host
    // reference ~12–14k, vs historical cold starts ~10–11k.
    calibrateMops()
    var calStart = calibrateMops()
    var calMembwStart = calibrateMemBw()
    var calAttempts = 1
    val calMaxAttempts = 8
    while ((calStart < calFloor || calMembwStart < membwFloor) &&
        calAttempts < calMaxAttempts) {
      System.err.println(
        f"[bench] cal probe $calAttempts%d read $calStart%.0f Mops / " +
          f"$calMembwStart%.1f GB/s < floors $calFloor%.0f / $membwFloor%.1f — " +
          "host busy; retrying in 15 s")
      Thread.sleep(15000)
      calStart = calibrateMops()
      calMembwStart = calibrateMemBw()
      calAttempts += 1
    }
    val calBelowFloor = calStart < calFloor
    val membwBelowFloor = calMembwStart < membwFloor

    // Warmup failures are RECORDED in the artifact, not just stderr: a
    // failed streaming warmup lands ~2.5 s of micro-batch-stack JIT on
    // whichever streaming gate runs first, and without the flag that
    // first-query inflation is indistinguishable from a regression.
    val warmupFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Warmup: pay JVM/codegen/parquet-footer costs once, outside timing.
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case e: Throwable =>
      warmupFailed += "parquet"
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // Warmup 2: the micro-batch streaming stack (incremental planner,
    // state store, offset/commit logs, memory sink) JITs on first use —
    // ~2.5 s that would otherwise land on whichever streaming gate the
    // alphabet puts first. Three 2-batch replays cover the three
    // stateful codepaths the suite uses (flatMapGroupsWithState,
    // streaming dropDuplicates, watermarked windowed aggregation with
    // its no-data flush batch).
    try {
      import graft.streaming.{StreamDedup, StreamProfiler}
      import spark.implicits._
      SparkEntry.replayToMemory(spark, "warmup_drift", Seq(
        Seq(StreamProfiler.BatchMoments("w", 20, 0.0, 1.0)),
        Seq(StreamProfiler.BatchMoments("w", 20, 10.0, 1.0))))(
        ds => StreamProfiler.meanDriftFromMoments(ds).toDF()).collect()
      SparkEntry.replayToMemory(spark, "warmup_dedup", Seq(
        Seq(("alpha", 1L)), Seq(("beta", 2L))))(
        ds => StreamDedup.dropExactDuplicates(ds.toDF("text", "batch"), "text")).collect()
      SparkEntry.replayToMemory(spark, "warmup_window", Seq(
        Seq((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), "k", Some(1.0))),
        Seq((java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "k", Option.empty[Double]))),
        noDataBatches = true)(
        ds => StreamProfiler.windowedCompleteness(ds.toDF("ts", "event_type", "value"),
          "ts", "event_type", "1 day", watermarkDelay = Some("0 seconds"),
          valueCols = Seq("value"))).collect()
      ()
    } catch { case e: Throwable =>
      warmupFailed += "streaming"
      System.err.println(s"[bench] stream warmup failed: ${e.getMessage}")
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Sorted by name: an unordered Map would hash-shuffle the timing
    // order between builds, landing residual JIT/IO warmup cost on a
    // nondeterministic first query and adding cross-round noise.
    // Optional positional args narrow the run to the named queries —
    // for timing one operator in isolation; the driver passes none.
    // Unknown names are a hard error (a typo must not bench as an
    // empty, 0-second run).
    val unknown = args.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.contains).toMap
    // Cumulative (elapsed-sec, process-CPU-sec) at every query
    // boundary: the process's own expected contribution to a 1-min
    // load average is its CPU rate over the trailing 60 s,
    // interpolated from these points (CPU is assumed uniform within a
    // segment — boundaries are the only cheap sample sites). The
    // series opened before calibration/warmup; this boundary closes
    // that pre-run segment so its heavy CPU isn't smeared into the
    // first queries.
    cpuPoints += (((System.nanoTime() - runStart) / 1e9, processCpuSec()))
    def ownTrailingRate(): Double = {
      val now = (System.nanoTime() - runStart) / 1e9
      val cpuNow = processCpuSec()
      // No process-CPU bean → the self-load discount is UNKNOWN, not
      // zero: returning 0 would report the raw load average as
      // external demand and let a clean heavy run flip `contended`.
      // NaN propagates through the subtraction and max into extLoad,
      // which every consumer already filters.
      if (cpuNow.isNaN) return Double.NaN
      // Recorded boundaries PLUS a virtual point at (now, cpuNow):
      // without it, a query walled past 60 s would read the CPU at its
      // own start as "the CPU 60 s ago" and attribute its whole delta
      // to one minute — overestimating the own rate (and
      // underestimating external load) by ~wall/60×, exactly on the
      // long inflated queries starvation detection is for.
      trailingRate((cpuPoints :+ ((now, cpuNow))).toIndexedSeq, now)
    }
    final case class QueryResult(name: String, wall: Double, cpu: Double,
        gc: Double, load: Double, extLoad: Double,
        jit: Double, codeCacheMb: Double)
    def runQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): QueryResult = {
      val t0 = System.nanoTime()
      val cpu0 = processCpuSec()
      val gc0 = gcSec()
      val jit0 = jitSec()
      try { fn(spark, sfDir).collect(); () }
      catch { case e: Throwable =>
        errors += name -> String.valueOf(e.getMessage)
        System.err.println(s"[bench] $name FAILED: $e")
      }
      // 1-min load sampled right after the query — a mid-run
      // contention signature the start-of-run sample cannot provide —
      // and the same sample net of this process's own trailing CPU
      // rate: the demand from OTHER processes.
      val load = osBean.getSystemLoadAverage
      val extLoad = if (load < 0) Double.NaN else math.max(0.0, load - ownTrailingRate())
      cpuPoints += (((System.nanoTime() - runStart) / 1e9, processCpuSec()))
      val r = QueryResult(name, (System.nanoTime() - t0) / 1e9, processCpuSec() - cpu0,
        gcSec() - gc0, load, extLoad,
        jitSec() - jit0, codeCacheUsedMb())
      // Live per-query progress on stderr: lets an external profiler
      // (thread-CPU sampler, perf) align its timeline with query
      // boundaries, and makes a hung query identifiable mid-run.
      System.err.println(f"[bench] ${r.name}%s ${r.wall}%.2fs cpu=${r.cpu}%.1f " +
        f"jit=${r.jit}%.1f cc=${r.codeCacheMb}%.0fMB")
      r
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val workers = cpus.toIntOption.getOrElse(cores)
    def dirty(r: QueryResult): Boolean =
      isDirty(r.wall, r.cpu, r.extLoad, workers, cores)
    val firstPass = selected.toSeq.sortBy(_._1).map { case (name, fn) => runQuery(name, fn) }
    // Self-healing: queries whose boundary samples showed contamination
    // are re-run ONCE at the end of the run (by which point a transient
    // co-tenant has often finished). The rerun replaces the original
    // when it is clean or faster; anything still dirty afterwards is
    // flagged in the artifact rather than silently recorded. Failed
    // queries are not re-queued — an error is not contamination.
    // (name, first error line) of heal/recert reruns that FAILED — the
    // first-pass result is kept, but the artifact must say so
    // (`recert_failed`): the r17/r18 driver tails carried these
    // failures only as stderr stack traces.
    val recertFailed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val (toRequeue, clean) = firstPass.partition(r => dirty(r) && !errors.contains(r.name))
    val healed = toRequeue.map { r =>
      System.err.println(f"[bench] requeue ${r.name}: boundary ext_load ${r.extLoad}%.1f")
      // The query SUCCEEDED on the first pass — a failed healing
      // attempt must not replace that valid measurement (rerun.wall <
      // r.wall is trivially true for a fast failure) nor flip the
      // whole run to exit 1; it is recorded in `recert_failed`.
      recertAttempt(r.name, n => runQuery(n, selected(n)),
          n => errors.get(n), n => errors -= n, recertFailed) match {
        case Some(rerun) if !dirty(rerun) || rerun.wall < r.wall => rerun
        case _ => r
      }
    }
    var results = (clean ++ healed).sortBy(_.name)
    val requeued = toRequeue.map(_.name).sorted
    // End-probe re-certification: a run can START certified and still
    // absorb a co-tenant mid-run — the r14/r15 driver artifacts both
    // carried clean start probes and a collapsed END probe, with the
    // damage concentrated in the documented CPU-heavy flappers. So the
    // end probe is now a GATE like the start probe: if it reads below
    // the floor, wait for the host to recover (same retry/delay
    // budget); once it re-certifies, re-run the flapper set plus
    // anything starved-or-still-dirty ONCE on the now-quiet host and
    // keep the faster measurement. The artifact records the recovery
    // attempts and what was re-timed (`end_recert`) — a committed
    // artifact therefore self-certifies: start AND end probes above
    // floor, or the flags say exactly why not.
    val knownFlappers = Seq(
      "txt_repetition", "ll15_pipeline", "ll16_stream_near_dup", "txt_pattern_counts",
      // r20: CPU-real full-suite flaps with byte-identical code and
      // clean probes (r19 driver run 3.1×/3.6× vs their isolated
      // re-pins) — JVM-neighborhood sensitivity, see BASELINE.md
      // "Round-20 notes".
      "ll13_component_ids", "ll14_capped_block_keys")
    // Pre-recert contamination snapshot: feeds the recert suspect set.
    // The ARTIFACT's `dirty` list is recomputed from the FINAL results
    // below, so a query whose recert rerun came back clean is no longer
    // reported dirty.
    val dirtyPreRecert = healed.filter(dirty).map(_.name).sorted
    var calEnd = calibrateMops()
    var calEndAttempts = 1
    // `endRecertTimed` records EVERY name the recert phase re-timed;
    // `endRecert` only those whose rerun replaced the first-pass
    // measurement. The replacement rule is one-sided (keep the faster),
    // so a recert round is NOT methodologically like-for-like with a
    // single-shot round — `recert_round` flags it so baselines compare
    // same-methodology artifacts.
    val endRecert = scala.collection.mutable.ArrayBuffer.empty[String]
    val endRecertTimed = scala.collection.mutable.ArrayBuffer.empty[String]
    val recertCpuRegressed = scala.collection.mutable.ArrayBuffer.empty[String]
    if (calFloor > 0 && calEnd < calFloor) {
      while (calEnd < calFloor && calEndAttempts < calMaxAttempts) {
        System.err.println(
          f"[bench] end cal probe $calEndAttempts%d read $calEnd%.0f Mops < floor $calFloor%.0f — waiting for host to recover")
        Thread.sleep(15000)
        calEnd = calibrateMops()
        calEndAttempts += 1
      }
      if (calEnd >= calFloor) {
        val suspect = (knownFlappers ++ dirtyPreRecert ++
          results.filter(r => isStarved(r.wall, r.cpu, r.extLoad, workers, cores)).map(_.name))
          .distinct.filter(selected.contains).filterNot(errors.contains)
        val recertified = suspect.flatMap { name =>
          // Keep the valid first-pass time on any rerun failure; the
          // failure lands in the artifact's `recert_failed` field.
          recertAttempt(name, n => runQuery(n, selected(n)),
              n => errors.get(n), n => errors -= n, recertFailed)
            .map { rerun => endRecertTimed += name; rerun }
        }
        // Same replacement rule as the self-heal pass: a clean rerun
        // replaces a dirty first-pass even when slower (honest, not
        // min-of-two) or a clean-and-faster one replaces a clean
        // first-pass; a DIRTY rerun may only replace an equally dirty
        // original (never a clean measurement — a contaminated-but-
        // faster rerun would otherwise slip into the artifact unflagged).
        val replaced = recertified.filter { rerun =>
          results.find(_.name == rerun.name).exists { orig =>
            if (!dirty(rerun)) dirty(orig) || rerun.wall < orig.wall
            else dirty(orig) && rerun.wall < orig.wall
          }
        }
        // CPU-seconds secondary signal (the flapper blind spot): the
        // keep-the-faster-wall rule could mask a REAL regression whose
        // wall flapped low once while its CPU stayed doubled — the r19
        // incident inflated both. A replacement whose kept measurement
        // still burned >1.5× the CPU of BOTH observations' minimum is
        // impossible to distinguish here, but one whose kept (faster)
        // rerun burned >1.5× the first pass's CPU is flagged so the
        // artifact reader re-judges it against the committed CPU pin.
        recertCpuRegressed ++= replaced
          .filter { rerun =>
            results.find(_.name == rerun.name).exists { orig =>
              !rerun.cpu.isNaN && !orig.cpu.isNaN && orig.cpu > 1.0 &&
                rerun.cpu > 1.5 * orig.cpu
            }
          }
          .map(_.name).sorted
        results = (results.filterNot(r => replaced.exists(_.name == r.name)) ++ replaced)
          .sortBy(_.name)
        endRecert ++= replaced.map(_.name).sorted
        // The reruns themselves burn CPU; re-probe so the recorded end
        // calibration reflects the post-recert instant.
        calEnd = calibrateMops()
      }
    }
    val calEndBelowFloor = calFloor > 0 && calEnd < calFloor
    val calMembwEnd = calibrateMemBw()
    val membwEndBelowFloor = membwFloor > 0 && calMembwEnd < membwFloor
    // Flapper CPU-seconds secondary signal: for the knownFlappers set,
    // compare the artifact's CPU-seconds against committed pins —
    // catches the blind spot where a flapper's WALL reads plausibly
    // while its CPU burned a multiple (memory co-tenancy inflates
    // CPU-real work; both probes can certify clean around it).
    // Env-overridable ("name:sec,name:sec"). Pins = the MINIMUM
    // CPU-seconds observed across the r22 full-suite runs (the bottom
    // edge of the known band, so a hit means "worse than anything this
    // code has measured"): ll13/ll15 re-based DOWN after the r22
    // candidate-frame materialization cut their CPU (37.8→24.7,
    // 45.6→33.1); the rest match their r21/r22 floors.
    val flapperCpuPins: Map[String, Double] =
      sys.env.get("SPARK_GRAFT_FLAPPER_CPU_PINS")
        .map(_.split(',').flatMap { kv =>
          kv.split(':') match {
            case Array(n, v) => v.toDoubleOption.map(n.trim -> _)
            case _ => None
          }
        }.toMap)
        .getOrElse(Map(
          "txt_repetition" -> 16.5, "ll15_pipeline" -> 33.1,
          "ll16_stream_near_dup" -> 10.2, "txt_pattern_counts" -> 9.8,
          "ll13_component_ids" -> 24.7, "ll14_capped_block_keys" -> 14.6))
    val flapperCpuHot = results
      .filter(r => flapperCpuPins.get(r.name).exists(pin =>
        !r.cpu.isNaN && r.cpu > 1.5 * pin))
      .map(_.name).sorted
    // Recomputed from the FINAL per-query results (post-recert), over
    // every name whose measurement was ever suspect (first-pass
    // requeues AND recert replacements): a query counts as dirty only
    // if the measurement actually in the artifact is contaminated.
    val everSuspect = (requeued ++ endRecert).distinct
    val stillDirty = results
      .filter(r => everSuspect.contains(r.name) && dirty(r) && !errors.contains(r.name))
      .map(_.name).sorted
    val recertRound = endRecertTimed.nonEmpty
    // JSON has no NaN literal: an unsupported CPU bean reports -1.
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else f"$v%.3f"
    def jmap(f: QueryResult => Double): String =
      results.map { r => "\"" + r.name + "\":" + num(f(r)) }
        .mkString("{", ",", "}")
    val qs = jmap(_.wall)
    val cpuQs = jmap(_.cpu)
    val gcQs = jmap(_.gc)
    val total = results.map(_.wall).sum
    val cpuTotal = results.map(_.cpu).sum
    val gcTotal = results.map(_.gc).sum
    // Whole-run core utilization — diagnostic context for the per-query
    // cpu_sec map (a CPU-bound query whose wall ≫ cpu was starved).
    val util = if (total > 0 && !cpuTotal.isNaN) cpuTotal / (total * cores) else Double.NaN
    val loadEnd = osBean.getSystemLoadAverage
    val loadSamples = (loadStart +: results.map(_.load)).filterNot(_.isNaN)
    val loadMax = if (loadSamples.nonEmpty) loadSamples.max else Double.NaN
    val extSamples = results.map(_.extLoad).filterNot(_.isNaN)
    val extLoadMax = if (extSamples.nonEmpty) extSamples.max else Double.NaN
    // Raw load would count this run's own threads (a clean heavy run
    // drove load to 12 on an idle 32-core host) and false-positive
    // inherently driver-heavy queries like the streaming replay —
    // isStarved therefore tests the self-load-discounted extLoad, with
    // the session's worker count as the parallel floor.
    val starved = results
      .filter(r => isStarved(r.wall, r.cpu, r.extLoad, workers, cores))
      .map(_.name)
    val starvedJson = starved.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Top-10 by wall, each with wall+cpu: the compact starvation proof
    // (wall ≈ cpu on a parallel query ⇒ it got ~1 core's cycles).
    val slowest = results.sortBy(-_.wall).take(10)
      .map(r => "\"" + r.name + "\":{\"w\":" + num(r.wall) + ",\"c\":" + num(r.cpu) + "}")
      .mkString("{", ",", "}")
    // Contended requires positive evidence: per-query starvation, an
    // intra-run calibration collapse, or SUSTAINED external demand for
    // over half the cores. Sustained means 3+ samples: ext_load
    // discounts only the process's CPU rate, not its runnable-but-
    // unscheduled or D-state threads, and a single boundary sample can
    // catch a transient blip — neither should condemn a whole run, but
    // demand that persists across several query boundaries is real.
    val calRatio = if (calStart > 0) calEnd / calStart else Double.NaN
    val extHot = results.count(r => !r.extLoad.isNaN && r.extLoad > cores / 2.0)
    // A start probe that never cleared the pollution floor is positive
    // evidence by itself: the first-third timings are hot even when no
    // per-query signal fires (drift recovery isn't contamination).
    val contended = starved.nonEmpty || (!calRatio.isNaN && calRatio < 0.6) ||
      extHot >= 3 || calBelowFloor || calEndBelowFloor ||
      membwBelowFloor || membwEndBelowFloor
    // The driver's artifact keeps only the last ~2000 chars of this
    // process's output, and sbt's own "[success] Total time" banner
    // eats ~80 of them. Three rounds of artifacts (r11–r13) recorded
    // `parsed: null` because the full per-query line (3 maps × 100+
    // queries ≈ 8 KB) never fit — the "0.000" values a reader sees in
    // those tails are the gc_sec map, not wall times. So the output is
    // now SPLIT: the COMPLETE artifact (full wall/cpu/gc maps, full
    // flag lists) goes to a repo file the round snapshot commits, and
    // stdout gets ONE compact line — a fixed headline-query map
    // (stable keys, so rounds compare like-for-like), run totals, and
    // the contention evidence — engineered to fit the tail budget.
    val jitQs = jmap(_.jit)
    val ccQs = jmap(_.codeCacheMb)
    val jitTotal = results.map(_.jit).sum
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
      s""""cpu_sec":$cpuQs,"gc_sec":$gcQs,""" +
      s""""jit_sec":$jitQs,"code_cache_mb":$ccQs,""" +
      s""""jit_total":${num(jitTotal)},"code_cache_max_mb":${num(codeCacheMaxMb())},""" +
      s""""cpu_total":${num(cpuTotal)},"gc_total":${num(gcTotal)},"cpu_util":${num(util)},""" +
      s""""cores":$cores,"load_start":${num(loadStart)},"load_end":${num(loadEnd)},""" +
      s""""load_max":${num(loadMax)},"ext_load_max":${num(extLoadMax)},""" +
      s""""cal_mops_start":${num(calStart)},"cal_mops_end":${num(calEnd)},""" +
      s""""cal_membw_start":${num(calMembwStart)},"cal_membw_end":${num(calMembwEnd)},""" +
      s""""cal_attempts":$calAttempts,"cal_below_floor":$calBelowFloor,""" +
      s""""membw_below_floor":$membwBelowFloor,"membw_end_below_floor":$membwEndBelowFloor,""" +
      s""""flapper_cpu_hot":${flapperCpuHot.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""cal_end_attempts":$calEndAttempts,"cal_end_below_floor":$calEndBelowFloor,""" +
      s""""end_recert":${endRecert.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""end_recert_timed":${endRecertTimed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""recert_failed":${recertFailed.map { case (n, e) =>
        s"""{"q":${jstr(n)},"err":${jstr(e)}}""" }.mkString("[", ",", "]")},""" +
      s""""recert_cpu_regressed":${recertCpuRegressed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""recert_round":$recertRound,""" +
      s""""slowest":$slowest,"starved":$starvedJson,""" +
      s""""warmup_failed":${warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""requeued":${requeued.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""dirty":${stillDirty.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""contended":$contended}"""
    // A NARROWED run (positional args) writes its detail to a separate
    // default path: a 2-query targeted re-bench once clobbered the
    // committed full-suite BENCH_DETAIL.json, losing the per-query
    // history the warm-band/floor re-basing reads. Only an unfiltered
    // run may claim the canonical file (env override still wins).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT",
      if (args.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL_partial.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: ${e.getMessage}")
    }
    // Fixed headline set: one representative per expensive family
    // (scale profile, composed pipeline, LSH core + capped variants,
    // streaming replays, exact profiler passes, text, ANN, SQL,
    // report). Stable keys make the compact map baseline-able across
    // rounds; everything else is in the detail file (and in `value`,
    // which still totals ALL queries).
    val headlineSet = Seq(
      "scale_profile_lineitem", "ll15_pipeline", "ll11_dedup_components",
      "ll2_near_dup_pairs", "ll14_capped_block_keys", "ll16_stream_near_dup",
      "ll18_incremental_near_dups", "ev_mean_drift", "ev_mean_drift_raw",
      "p3_distinct_counts", "p5_numeric_stats", "p13_anomaly_detection",
      "txt_repetition", "txt_top_ngrams", "ll3_ann_topk",
      "ll20_semantic_near_dups", "sql_join_revenue", "rpt_source_mix",
      // round-17 families: learned BPE and perceptual media hashing
      "txt_bpe_tokens", "mm6_image_dhash")
    def compactLine(headline: Seq[QueryResult], slowN: Int): String = {
      val hq = headline.map(r => "\"" + r.name + "\":" + num(r.wall))
        .mkString("{", ",", "}")
      val slow = results.sortBy(-_.wall).take(slowN)
        .map(r => "\"" + r.name + "\":{\"w\":" + num(r.wall) + ",\"c\":" + num(r.cpu) + "}")
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$hq,"sf":"$sfDir",""" +
        s""""n_queries":${results.size},"cpu_total":${num(cpuTotal)},"gc_total":${num(gcTotal)},""" +
        s""""jit_total":${num(jitTotal)},"code_cache_max_mb":${num(codeCacheMaxMb())},""" +
        s""""cpu_util":${num(util)},"cores":$cores,""" +
        s""""load_max":${num(loadMax)},"ext_load_max":${num(extLoadMax)},""" +
        s""""cal_mops_start":${num(calStart)},"cal_mops_end":${num(calEnd)},""" +
        s""""cal_membw_start":${num(calMembwStart)},"cal_membw_end":${num(calMembwEnd)},""" +
        s""""cal_attempts":$calAttempts,"cal_below_floor":$calBelowFloor,""" +
        s""""membw_below_floor":$membwBelowFloor,"membw_end_below_floor":$membwEndBelowFloor,""" +
        s""""flapper_cpu_hot_n":${flapperCpuHot.size},""" +
        s""""cal_end_attempts":$calEndAttempts,"cal_end_below_floor":$calEndBelowFloor,""" +
        s""""end_recert_n":${endRecert.size},"end_recert_timed_n":${endRecertTimed.size},""" +
        s""""recert_failed":${recertFailed.map(f => jstr(f._1)).mkString("[", ",", "]")},""" +
        s""""recert_round":$recertRound,"slowest":$slow,""" +
        s""""starved_n":${starved.size},"warmup_failed_n":${warmupFailed.size},""" +
        s""""requeued_n":${requeued.size},"dirty_n":${stillDirty.size},""" +
        s""""contended":$contended,"detail":"$detailPath"}"""
    }
    val headlineHits = results.filter(r => headlineSet.contains(r.name))
    // A narrowed run (positional args) may miss the headline set
    // entirely — show its own slowest queries instead of an empty map.
    val headline = if (headlineHits.nonEmpty) headlineHits
      else results.sortBy(-_.wall).take(8)
    val line = compactLine(headline, 5)
    // Defensive: a narrowed run (positional args) or future growth must
    // never re-create the truncation bug — fall back to top-8 by wall.
    println(if (line.length <= 1800) line
      else compactLine(results.sortBy(-_.wall).take(8), 3))
    spark.stop()
    val errs = errors.toMap
    if (errs.nonEmpty) {
      System.err.println(s"[bench] ${errs.size} queries failed: ${errs.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
