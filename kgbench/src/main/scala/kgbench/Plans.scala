package kgbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Row counts read from the SQL metrics of an executed (cached) plan. */
object Plans {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Verified pairs / banded candidates of a forced, cached
    * `MinHashBlocking.candidatePairs` frame: the candidates are the rows the
    * band-bucket self-join emitted (its two sides carry `_sh_a` / `_sh_b`). */
  def pairsYield(pairs: DataFrame, verified: Long): Double = {
    val candidates = nodes(pairs.queryExecution.executedPlan).collect {
      case j: BaseJoinExec if j.output.exists(_.name == "_sh_a") &&
        j.output.exists(_.name == "_sh_b") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    if (candidates == 0) 0.0 else verified.toDouble / candidates
  }
}
