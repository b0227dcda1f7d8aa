package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Benchmark entry point for one workload and seed.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --pins <pins.json> [--cores <n>]
  * Main --pin <seed,seed,...> --work <dir> [--cores <n>]
  * }}}
  *
  * A run generates and stages the world three times (fresh directories each
  * time), runs warm-up jobs ([[WarmupJobs]], [[WarmupSeconds]]), then times
  * jobs for `seconds`, checking each job's row count and key hash against
  * the pinned value for the seed. An unpinned seed is checked against the
  * first warm-up job instead, and that output is cross-checked against
  * another code path of the engine. With `--trace 1` it sets up once,
  * alternates untraced and traced jobs, and runs the per-layer probes. The result is one
  * line starting with `RESULT ` followed by a JSON object.
  *
  * `--pin` prints the pins of the given seeds for every workload. */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = osBean.getProcessCpuTime

  def drainListeners(spark: SparkSession): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  /** Untimed jobs before timing starts, at least this many and for at least
    * this long: every job loads newly generated classes, and the JIT keeps
    * compiling for the first dozen or so seconds of jobs (job time falls
    * by a third over that span). */
  val WarmupJobs = 4
  val WarmupSeconds = 15.0
  /** Longest a single job may take before it counts as failed. */
  val JobTimeoutS = 100L
  /** A run stops starting jobs after this long, whatever `--seconds` says. */
  val RunBudgetS = 100.0

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = opts.get("cores").map(_.toInt).getOrElse(4)
    Files.createDirectories(Paths.get(work))
    val spark = Session.start(cores, work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      opts.get("pin") match {
        case Some(seeds) => Pins.print(spark, work, seeds.split(',').map(_.toLong).toSeq)
        case None =>
          val result = run(spark, cores, work, sessionS, Workloads.named(opt("workload")),
            opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
            Pins.load(opt("pins")))
          println("RESULT " + result)
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, cores: Int, work: String, sessionS: Double, wl: Workload,
                  seed: Long, seconds: Double, trace: Boolean, pins: Pins): String = {
    val started = System.nanoTime()
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, tracer)
    val problems = mutable.ArrayBuffer.empty[String]
    def problem(msg: String): Unit = { log(s"FAIL: $msg"); problems += msg }
    val w = wl.world(seed)
    val pinned = pins.output(wl.name, seed)
    val pinnedInput = pins.input(wl.side, seed)

    // set-up: generate, stage and hash the world, repeated into fresh
    // directories (the last copy is measured), then the warm-up jobs
    val setups = if (trace) 1 else 3
    var inputs: Inputs = null
    val setupTimes = (0 until setups).map { i =>
      if (inputs != null) Workloads.rmTree(Paths.get(s"$work/setup-${i - 1}"))
      val t0 = System.nanoTime()
      inputs = Workloads.stage(spark, w, s"$work/setup-$i/world")
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $i: $s%.3f s (input ${inputs.inputHash})")
      s
    }
    pinnedInput.filter(_ != inputs.inputHash).foreach { p =>
      problem(s"input change: world hash ${inputs.inputHash} != pinned $p for seed $seed")
    }
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Outcome]
    while (warm.size < WarmupJobs || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
      warm += wl.job(ctx, inputs, s"$work/warmup-${warm.size}")
      Workloads.rmTree(Paths.get(s"$work/warmup-${warm.size - 1}"))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up: ${warm.size} jobs, $warmS%.3f s (${warm.head})")
    val exp = pinned.getOrElse(warm.head)
    warm.filter(_ != exp).foreach(o => problem(s"warm-up output $o != expected $exp"))
    val setupS = sessionS + median(setupTimes) + warmS

    val census = new PlanCensus
    if (trace) spark.listenerManager.register(census)
    val pool = Executors.newSingleThreadExecutor()
    var attempted, failed = 0
    var timedOut = false
    /** Timed job loop; returns (traced, wall seconds, process CPU seconds,
      * JIT compile seconds) of the jobs whose output matched. */
    def loop(window: Double)(traced: Int => Boolean): Seq[(Boolean, Double, Double, Double)] = {
      val ok = mutable.ArrayBuffer.empty[(Boolean, Double, Double, Double)]
      val t0 = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (!timedOut && (elapsed < window || ok.size < 2) &&
             (System.nanoTime() - started) / 1e9 < RunBudgetS) {
        val jobDir = s"$work/job-$i"
        val tag = if (traced(i)) "traced" else "untraced"
        if (traced(i)) tracer.start() else tracer.pause()
        census.active = traced(i)
        tracer.setTrace(s"${wl.name}/$i")
        val c0 = processCpuNs()
        val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
        val j0 = System.nanoTime()
        val f = pool.submit(() => tracer.span("job") { wl.job(ctx, inputs, jobDir) })
        val res = Try(f.get(JobTimeoutS, TimeUnit.SECONDS))
        val wall = (System.nanoTime() - j0) / 1e9
        val jit = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
        val cpu = (processCpuNs() - c0) / 1e9
        tracer.pause()
        if (census.active) { drainListeners(spark); census.active = false }
        attempted += 1
        log(f"job $i ($tag): $wall%.3f s wall, $cpu%.2f s cpu, $jit%.2f s jit")
        res match {
          case Success(o) if o == exp => ok += ((traced(i), wall, cpu, jit))
          case Success(o) => failed += 1; problem(s"job $i output $o != expected $exp")
          case Failure(e) =>
            failed += 1
            problem(s"job $i failed: $e")
            if (e.isInstanceOf[TimeoutException]) {
              timedOut = true
              spark.sparkContext.cancelAllJobs()
              f.cancel(true)
            }
        }
        Try(Workloads.rmTree(Paths.get(jobDir)))
        i += 1
      }
      ok.toSeq
    }

    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    if (!trace) {
      val jobs = loop(seconds)(_ => false)
      val jobS = median(jobs.map(_._2))
      log(f"${jobs.size} jobs, median $jobS%.3f s")
      metrics += (("setup_s", setupS, "s"))
      metrics += (("job_s", jobS, "s"))
      metrics += (("items_per_s", wl.items(inputs, exp) / jobS, "1/s"))
    } else {
      // traced and untraced jobs alternate, so both see the same JIT and
      // cache state and their difference is the tracing overhead
      val jobs = loop(seconds)(_ % 2 == 1)
      drainListeners(spark)
      val (traced, untraced) = jobs.partition(_._1)
      metrics ++= Report.perJob(tracer, census.drain(), cores, traced.size)
      metrics += (("trace.overhead_s", median(traced.map(_._2)) - median(untraced.map(_._2)), "s"))
      metrics += (("jvm.cpu_s", median(jobs.map(_._3)), "s"))
      metrics += (("jvm.jit_s", median(jobs.map(_._4)), "s"))
      tracer.setTrace("probes")
      tracer.start()
      val layers = new Layers(ctx, wl, inputs, s"$work/layers")
      Seq[(String, () => Unit)]("core" -> (() => layers.core()), "functions" -> (() => layers.functions()),
          "pipeline" -> (() => layers.pipeline()), "tables" -> (() => layers.tables()),
          "SparkEntry" -> (() => layers.sparkEntry())).foreach { case (name, probe) =>
        Try(probe()).failed.foreach(e => problem(s"$name probe failed: $e"))
      }
      metrics ++= layers.metrics.map(m => (m.name, m.value, m.unit))
      metrics ++= Report.selfTimes(tracer, traced.size)
      tracer.write(s"$work/trace.jsonl")
    }
    pool.shutdownNow()

    // an unpinned seed has no stored answer: cross-check the output
    // against another code path of the engine (untimed)
    if (pinned.isEmpty) Try(wl.reference(ctx, inputs, s"$work/reference")) match {
      case Success(o) if o == exp =>
      case Success(o) => problem(s"reference path output $o != job output $exp")
      case Failure(e) => problem(s"reference path failed: $e")
    }
    if (attempted == 0) problem("no job attempted")

    Json.obj(
      "correct" -> problems.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }: _*)),
      "workload" -> wl.name, "seed" -> seed, "pinned" -> pinned.isDefined,
      "rows" -> exp.rows, "hash" -> exp.hash, "input_hash" -> inputs.inputHash,
      "setup_runs_s" -> setupTimes, "session_s" -> sessionS, "warmup_s" -> warmS, "problems" -> problems.toSeq)
  }
}
