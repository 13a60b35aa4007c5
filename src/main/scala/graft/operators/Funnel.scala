package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-funnel conversion: for each user, the first `from` event and
  * the first `to` event strictly after it — the product-analytics
  * primitive behind conversion-rate and time-to-convert dashboards.
  *
  * Scale shape: two aggregates and one join, ALL keyed by the user
  * column — the first groupBy establishes a hash partitioning on user
  * that the join and the second groupBy reuse (no re-shuffle of the
  * event stream beyond its one partition-by-user exchange; AQE coalesces
  * the rest). Per-user state is two timestamps, never a buffered event
  * list, so a power user with millions of events costs the same as
  * anyone else.
  */
object Funnel {

  /** One row per converted user: userCol, first_view = min ts of
    * `from` events, first_purchase-style min ts of `to` events after
    * it, microseconds between the two.
    */
  def firstConversion(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      from: String, to: String): DataFrame = {
    val first = events
      .filter(col(typeCol) === from)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("first_" + from))
    events
      .filter(col(typeCol) === to)
      .select(col(userCol), col(tsCol))
      .join(first, userCol)
      .filter(col(tsCol) > col("first_" + from))
      .groupBy(col(userCol), col("first_" + from))
      .agg(min(col(tsCol)).as("first_" + to))
      .withColumn(
        "us_to_convert",
        unix_micros(col("first_" + to)) - unix_micros(col("first_" + from)))
  }
}
