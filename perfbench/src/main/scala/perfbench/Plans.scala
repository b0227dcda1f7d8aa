package perfbench

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Optimizer and physical-plan figures of one executed query: planning
  * phase times, the metering of the engine's two optimizer rules, and a
  * census of the executed (final adaptive) plan. */
final case class PlanRecord(optimizeMs: Long, planningMs: Long,
                            pipBboxRuns: Long, pipBboxNs: Long,
                            cellCoverRuns: Long, cellCoverNs: Long,
                            exchanges: Int, broadcasts: Int, smj: Int, bhj: Int, codegen: Int)

/** Records a [[PlanRecord]] for every query that completes while `active`;
  * that covers queries run inside the engine's own functions (stage
  * commits, sinks), not only the benchmark's. */
final class PlanCensus extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var active = false
  private val records = new ConcurrentLinkedQueue[PlanRecord]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) records.add(record(qe))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def record(qe: QueryExecution): PlanRecord = {
    val phases = qe.tracker.phases
    def phaseMs(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rules = qe.tracker.rules
    def rule(suffix: String) = rules.collect { case (n, s) if n.endsWith(suffix) => s }
    val pip = rule("PipBboxPushdown")
    val cover = rule("CellCoverPushdown")
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    PlanRecord(phaseMs("optimization"), phaseMs("planning"),
      pip.map(_.numEffectiveInvocations).sum, pip.map(_.totalTimeNs).sum,
      cover.map(_.numEffectiveInvocations).sum, cover.map(_.totalTimeNs).sum,
      n(_.isInstanceOf[ShuffleExchangeLike]), n(_.isInstanceOf[BroadcastExchangeLike]),
      n(_.isInstanceOf[SortMergeJoinExec]), n(_.isInstanceOf[BroadcastHashJoinExec]),
      n(_.isInstanceOf[WholeStageCodegenExec]))
  }

  def drain(): Seq[PlanRecord] = {
    val out = records.asScala.toSeq
    records.clear()
    out
  }
}
