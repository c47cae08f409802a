package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

import graft.functions.DecodeBlock

/** Work counts read from a query's executed plan after it was collected:
  * the SQL metrics of the decode generator and the per-document score
  * aggregation. */
final case class QueryWork(blocks: Long, postings: Long, docsScored: Long)

object Plans {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def outRows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Rows entering `p`: the output count of the nearest descendant that
    * keeps one (projections inside a codegen stage do not). */
  private def inRows(p: SparkPlan): Long =
    p.children.headOption.map(c => outRows(c).getOrElse(inRows(c))).getOrElse(0L)

  private def groupsByDoc(a: BaseAggregateExec): Boolean =
    a.groupingExpressions.exists(_.name == "doc_id") &&
      a.aggregateExpressions.nonEmpty &&
      a.aggregateExpressions.forall(e => e.mode == Final || e.mode == Complete)

  /** Blocks fed to DecodeBlock, postings it emitted, and rows out of the
    * final per-document aggregation (docs scored, summed over queries). */
  def work(df: DataFrame): QueryWork = {
    val ns = nodes(df.queryExecution.executedPlan)
    val gens = ns.collect {
      case g: GenerateExec if g.generator.isInstanceOf[DecodeBlock] => g
    }
    val docAggs = ns.collect { case a: BaseAggregateExec if groupsByDoc(a) => a }
    QueryWork(
      gens.map(inRows).sum,
      gens.flatMap(outRows).sum,
      docAggs.flatMap(outRows).sum)
  }
}
