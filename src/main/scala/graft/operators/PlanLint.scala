package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Static plan auditor for the anti-patterns that kill a plan at 100 TB.
  *
  * A plan that "works" at sf0.1 can hide a quadratic join or a
  * whole-dataset single-task funnel that only shows up at three orders of
  * magnitude more data. `audit` walks the PHYSICAL plan (post-AQE where
  * available) and reports:
  *
  *  - `cartesian-product`  — CartesianProductExec: |L|·|R| row expansion.
  *  - `nested-loop-join`   — BroadcastNestedLoopJoinExec: per-row scan of
  *    the broadcast side; fine for tiny sides, a wall for anything else
  *    (usually a non-equi condition that should be bucketed, cf. q62).
  *  - `single-partition-window` — WindowExec with an empty partitionSpec:
  *    every row moves through ONE task (the q74 lesson — use the two-phase
  *    PrefixSum instead).
  *  - `single-partition-exchange` — a shuffle INTO one partition feeding a
  *    sort or window: the whole dataset serializes through one task.
  *
  * Findings are advisory: a deliberate 20-row aggregate doesn't care that
  * its window is unpartitioned (q208 does exactly that on |sources| rows).
  * The value is making the decision VISIBLE — ExplainMain prints findings
  * next to the plan, and tests pin "no findings" on the hot-path queries
  * where any of these would be a regression.
  */
object PlanLint {

  final case class Finding(rule: String, node: String) {
    override def toString: String = s"[$rule] $node"
  }

  def audit(df: DataFrame): Seq[Finding] = audit(df.queryExecution.executedPlan)

  /** Every node of `plan`, pre-order. AQE wraps subtrees in
    * AdaptiveSparkPlanExec / QueryStageExec whose inner plans are not
    * `children` — both are unwrapped so a collect sees the real tree. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => plan +: nodes(a.executedPlan)
    case q: QueryStageExec        => plan +: nodes(q.plan)
    case _                        => plan +: plan.children.flatMap(nodes)
  }

  def audit(plan: SparkPlan): Seq[Finding] = {
    val all = nodes(plan)
    def head(p: SparkPlan): String = p.simpleStringWithNodeId().take(120)
    // under AQE a consumer's child is a ShuffleQueryStageExec wrapping the
    // exchange, not the exchange itself — unwrap before identity checks
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec        => unwrap(q.plan)
      case other                    => other
    }

    all.flatMap {
      case c: CartesianProductExec =>
        Some(Finding("cartesian-product", head(c)))
      case j: BroadcastNestedLoopJoinExec =>
        Some(Finding("nested-loop-join", head(j)))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Some(Finding("single-partition-window", head(w)))
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        // only flag when real per-row work sits on top (sort/window);
        // a final single-partition exchange under a global agg is benign
        val consumers = all.filter(_.children.exists(c => unwrap(c) eq e))
        val hot = consumers.exists {
          case _: SortExec | _: WindowExec => true
          case _ => false
        }
        if (hot) Some(Finding("single-partition-exchange", head(e))) else None
      case _ => None
    }
  }

  /** The broadcast side's row count for every BroadcastNestedLoopJoin in
    * `plan` — the number the "reviewer says the side is tiny" sign-off
    * asserts instead of trusting. Already-executed plans answer from the
    * exchange's populated `numOutputRows` metric; unexecuted ones execute
    * the build-side subtree directly (stripped of its exchange), bounded
    * at `probeLimit + 1` rows so an unexpectedly fat side costs one probe,
    * not a full materialization. `None` means the count could not be
    * determined — callers must treat that as a FAILURE (fail-closed), or
    * an unverifiable allow-map entry silently becomes a trusted one. */
  def broadcastSideRows(plan: SparkPlan, probeLimit: Int): Seq[Option[Long]] = {
    // codegen'd plans interpose InputAdapter/WholeStageCodegen between the
    // join and its broadcast exchange — transparent for this purpose
    def findExchange(p: SparkPlan): Option[BroadcastExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec                         => findExchange(a.executedPlan)
      case q: QueryStageExec                                => findExchange(q.plan)
      case r: ReusedExchangeExec                            => findExchange(r.child)
      case i: org.apache.spark.sql.execution.InputAdapter   => findExchange(i.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => findExchange(w.child)
      case e: BroadcastExchangeExec                         => Some(e)
      case _                                                => None
    }
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec                         => strip(a.executedPlan)
      case q: QueryStageExec                                => strip(q.plan)
      case r: ReusedExchangeExec                            => strip(r.child)
      case i: org.apache.spark.sql.execution.InputAdapter   => strip(i.child)
      case e: BroadcastExchangeExec                         => strip(e.child)
      case other                                            => other
    }
    nodes(plan).collect { case j: BroadcastNestedLoopJoinExec =>
      val side = j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
      val fromMetrics = findExchange(side)
        .flatMap(_.metrics.get("numOutputRows"))
        .map(_.value)
        .filter(_ > 0) // an unexecuted metric reads 0 — indistinguishable
      fromMetrics.orElse {
        try {
          // an AQE broadcast subtree carries NO columnar transitions (they
          // are inserted at stage materialization, which we bypass) — its
          // batched parquet scan would surface ColumnarBatch where a row
          // is expected. Re-insert ColumnarToRow above every columnar node.
          def rowify(p: SparkPlan): SparkPlan = {
            val c =
              if (p.children.isEmpty) p
              else p.withNewChildren(p.children.map(rowify))
            if (c.supportsColumnar)
              org.apache.spark.sql.execution.ColumnarToRowExec(c)
            else c
          }
          Some(rowify(strip(side)).executeTake(probeLimit + 1).length.toLong)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }
}
