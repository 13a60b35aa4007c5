package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Join, LeafNode, Window}
import org.apache.spark.sql.execution.LogicalRDD

/** The precondition of an operator that reads its input several times
  * and relies on the caller having materialized it: the input must be
  * a checkpoint seen through map-only operators. Checked on the
  * analyzed plan alone, so it runs no Spark job.
  */
object Materialized {

  /** Returns `df` if every leaf of its analyzed plan is a LogicalRDD (a
    * checkpoint) and no Join, Aggregate, Window or Distinct sits above
    * one; otherwise throws, naming `what` and the offending operator.
    */
  def require(df: DataFrame, what: String): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case _: LogicalRDD => ()
      case leaf: LeafNode =>
        throw new IllegalArgumentException(
          s"$what must be materialized: it reads ${leaf.nodeName}, not a checkpoint")
      case op @ (_: Join | _: Aggregate | _: Window | _: Distinct | _: Deduplicate) =>
        throw new IllegalArgumentException(
          s"$what must be materialized: ${op.nodeName} above its checkpoint")
      case _ => ()
    }
    df
  }
}
