package graft.plans

import org.apache.spark.sql.{Column, DataFrame}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Plans [[TopKPerGroup]] as partial-heap → (EnsureRequirements-
  * inserted hash exchange) → final-heap. Registered lazily by
  * [[TopK.topKPerGroup]] through `spark.experimental.extraStrategies`
  * — the public extension hook, so callers need no session config and
  * sessions built anywhere (an embedder's, a harness's) plan it. */
object TopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, partial = false,
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level entry point. */
object TopK {
  /** Retain the k FIRST rows per group under `orderCols` (use `.desc`
    * for largest-first; include a unique tie-breaker for
    * engine-portable results). Bare columns default to ascending. */
  def topKPerGroup(
      df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    // Harvest RESOLVED catalyst expressions by running the analyzer on
    // throwaway sort/select plans over the same child: Spark 4 Columns
    // wrap backend-agnostic column NODES, which only become (resolved,
    // serializable) catalyst expressions through analysis.
    val analyzedChild = df.queryExecution.analyzed
    val ordering = df.sort(orderCols: _*).queryExecution.analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
      case other => throw new IllegalArgumentException(
        s"topKPerGroup: could not resolve ordering from ${other.nodeName}")
    }
    val groupExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      df.select(groupCols: _*).queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.projectList
        case other => throw new IllegalArgumentException(
          s"topKPerGroup: could not resolve group keys from ${other.nodeName}")
      }
    val node = TopKPerGroup(groupExprs, ordering, k, analyzedChild)
    DatasetBridge.ofRows(spark, node)
  }
}
