package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** Per-layer figures derived from the traced jobs' spans and plans. */
object Report {
  type M = (String, Double, String)

  /** Spark scheduler figures per traced job (medians over the jobs) and the
    * plan figures of every query the traced jobs ran (per job). */
  def perJob(tr: Tracer, plans: Seq[PlanRecord], cores: Int, jobs: Int): Seq[M] = {
    val spans = tr.all.filter(_.name == "job")
    def med(f: (Counters, Double) => Double) =
      Main.median(spans.map(s => f(tr.inclusive(s), tr.seconds(s))))
    val mb = 1024.0 * 1024.0
    def perJobSum(f: PlanRecord => Double) = plans.map(f).sum / math.max(1, jobs)
    Seq(
      ("spark.jobs", med((c, _) => c.jobs.toDouble), "count"),
      ("spark.stages", med((c, _) => c.stages.toDouble), "count"),
      ("spark.tasks", med((c, _) => c.tasks.toDouble), "count"),
      ("spark.busy_share", med((c, w) => c.runMs / (cores * w * 1000.0)), "ratio"),
      ("spark.task_skew", med((c, _) => c.worstSkew), "ratio"),
      ("spark.executor_cpu_s", med((c, _) => c.cpuNs / 1e9), "s"),
      ("spark.shuffle_write_mb", med((c, _) => c.shuffleWriteBytes / mb), "MB"),
      ("spark.spill_mb", med((c, _) => c.spillBytes / mb), "MB"),
      ("spark.gc_s", med((c, _) => c.gcMs / 1e3), "s"),
      ("spark.input_mb", med((c, _) => c.inputBytes / mb), "MB"),
      ("trace.job_s", Main.median(spans.map(tr.seconds)), "s"),
      ("plans.queries", perJobSum(_ => 1.0), "count"),
      ("plans.optimize_ms", perJobSum(_.optimizeMs.toDouble), "ms"),
      ("plans.planning_ms", perJobSum(_.planningMs.toDouble), "ms"),
      ("plans.pip_bbox.effective_runs", perJobSum(_.pipBboxRuns.toDouble), "count"),
      ("plans.pip_bbox.ms", perJobSum(_.pipBboxNs / 1e6), "ms"),
      ("plans.cell_cover.effective_runs", perJobSum(_.cellCoverRuns.toDouble), "count"),
      ("plans.cell_cover.ms", perJobSum(_.cellCoverNs / 1e6), "ms"),
      ("plans.exchanges", perJobSum(_.exchanges.toDouble), "count"),
      ("plans.broadcasts", perJobSum(_.broadcasts.toDouble), "count"),
      ("plans.smj", perJobSum(_.smj.toDouble), "count"),
      ("plans.bhj", perJobSum(_.bhj.toDouble), "count"),
      ("plans.codegen_stages", perJobSum(_.codegen.toDouble), "count"))
  }

  /** Self time per layer: inside the traced jobs (per job) for the job root,
    * the pipeline call and Spark execution of its result; inside the probes
    * (one pass) for each module probed. */
  def selfTimes(tr: Tracer, jobs: Int): Seq[M] = {
    val spans = tr.all
    def self(l: String, probes: Boolean) = spans
      .filter(s => (s.traceId == "probes") == probes && (s.name == l || s.name.startsWith(l + ".")))
      .map(tr.selfSeconds).sum
    Seq("job", "pipeline", "spark").map { l =>
      (s"trace.job_self_s.$l", self(l, probes = false) / math.max(1, jobs), "s")
    } ++ Seq("core", "functions", "pipeline", "tables", "SparkEntry").map { l =>
      (s"trace.probe_self_s.$l", self(l, probes = true), "s")
    } :+ (("trace.spans", spans.size.toDouble, "count"))
  }
}

/** Pinned inputs and outputs per seed: the world content hash per world
  * side, and the row count and key hash per workload. */
final class Pins(inputs: Map[(Int, Long), String], outputs: Map[(String, Long), Outcome]) {
  def input(side: Int, seed: Long): Option[String] = inputs.get((side, seed))
  def output(workload: String, seed: Long): Option[Outcome] = outputs.get((workload, seed))
}

object Pins {
  def load(path: String): Pins = {
    val root = Json.read(path)
    def entries(n: String) = root.get(n).fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    val inputs = for ((side, bySeed) <- entries("inputs"); e <- bySeed.fields().asScala)
      yield (side.toInt, e.getKey.toLong) -> e.getValue.asText()
    val outputs = for ((wl, bySeed) <- entries("outputs"); e <- bySeed.fields().asScala)
      yield (wl, e.getKey.toLong) -> Outcome(e.getValue.get("rows").asLong(), e.getValue.get("hash").asLong())
    new Pins(inputs.toMap, outputs.toMap)
  }

  /** Computes the pins of `seeds` (each output cross-checked against the
    * workload's reference path) and prints them as one `PINS {...}` line. */
  def print(spark: SparkSession, work: String, seeds: Seq[Long]): Unit = {
    val ctx = Ctx(spark, new Tracer(spark.sparkContext))
    val inputs = scala.collection.mutable.Map.empty[String, Map[String, String]].withDefaultValue(Map.empty)
    val outputs = scala.collection.mutable.Map.empty[String, Map[String, Any]].withDefaultValue(Map.empty)
    for (seed <- seeds; (side, wls) <- Workloads.all.groupBy(_.side).toSeq.sortBy(_._1)) {
      val dir = s"$work/pin-$side-$seed"
      val in = Workloads.stage(spark, wls.head.world(seed), s"$dir/world")
      inputs(side.toString) += seed.toString -> in.inputHash
      wls.foreach { wl =>
        val o = wl.job(ctx, in, s"$dir/${wl.name}")
        val ref = wl.reference(ctx, in, s"$dir/${wl.name}-reference")
        Workloads.check(o == ref, s"${wl.name} seed $seed: job $o != reference $ref")
        Main.log(s"pinned ${wl.name} seed $seed: $o")
        outputs(wl.name) += seed.toString -> Json.Raw(Json.obj("rows" -> o.rows, "hash" -> o.hash))
      }
      Workloads.rmTree(Paths.get(dir))
    }
    println("PINS " + Json.obj("inputs" -> inputs.toMap, "outputs" -> outputs.toMap))
  }
}
