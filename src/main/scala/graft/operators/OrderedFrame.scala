package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** A frame under one global order, which moves its whole input into one
  * task: every unpartitioned window of the engine is built here, under a
  * named [[OrderedFrame.Budget]]. A global order is allowed over one row
  * per value of a bounded domain (a day, a time bucket, a check, a top-k
  * survivor), never per document. Such a budget's limit is
  * [[OrderedFrame.OneTask]] rows, held without a pass of its own:
  * [[OrderedFrame.bounded]] requires a bound known on the driver, or the
  * operator filters the one-row aggregate it already broadcasts with
  * [[within]] on its count of the frame. A frame that grows with the
  * corpus (a vocabulary, the id gaps, an arbitrary column's values) has a
  * budget with no limit and still sorts in one task: an open hazard
  * (ROADMAP direction 3). A corpus-sized frame takes the two-level form:
  * [[Packing.globalOffsets]] gives each task one range partition, and at a
  * cost of 1 per row a row's rank is its offset + 1 ([[Mixing.shuffleIndependence]]). */
private[graft] final class OrderedFrame(val rows: DataFrame, val window: WindowSpec,
                                        budget: OrderedFrame.Budget, operator: String) {
  /** `rows` with each row's position (from 1) in the column `name`. */
  def numbered(name: String): DataFrame = rows.withColumn(name, row_number().over(window))

  /** `agg` over the rows strictly before this one (NULL on the first). */
  def before(agg: Column): Column = agg.over(window.rowsBetween(Window.unboundedPreceding, -1))

  /** Σ `value` over the rows strictly before this one (0 on the first). */
  def sumBefore(value: Column): Column = coalesce(before(sum(value)), lit(0L))

  /** Σ `value` over the rows up to and including this one. */
  def sumThrough(value: Column): Column =
    sum(value).over(window.rowsBetween(Window.unboundedPreceding, 0))

  /** `true` while `size`, the frame's row count, is within the budget. */
  def within(size: Column): Column = coalesce(assert_true(size <= budget.maxRows,
    lit(budget.exceeded(operator))).cast("boolean"), lit(true))
}

private[graft] object OrderedFrame {
  final case class Budget(name: String, maxRows: Long, why: String) {
    def exceeded(operator: String): String =
      s"$operator: the ordered frame exceeds the $maxRows-row $name budget ($why)"
  }

  /** 2²² narrow rows: one task sorts and ranks them in 2.8-4.6 s on a shared
    * 4-vCPU VM; [[Profile.massWeightedPercentiles]]' `maxDistinct` defaults to it. */
  val OneTask: Long = 1L << 22
  val DateDays: Long = 3652059L // 0001-01-01 through 9999-12-31: a DATE's range

  val CardinalityContract = Budget("distinct-value cardinality contract", OneTask,
    "pre-bin a continuous column or raise maxDistinct")
  val Days = Budget("days", OneTask, "one row per day")
  val Buckets = Budget("buckets", OneTask, "one row per time bucket; widen them")
  val Checks = Budget("checks", OneTask, "one row per check, never per data row")
  val TopK = Budget("top-k", OneTask, "one row per top-k survivor; lower k")
  // no limit: these grow with the corpus
  val DistinctValues = Budget("distinct values", Long.MaxValue, "one row per value")
  val Groups = Budget("groups", Long.MaxValue, "one row per group")
  val Vocabulary = Budget("vocabulary", Long.MaxValue, "one row per word or shingle")
  val IdBuckets = Budget("id buckets", Long.MaxValue, "one row per bucket of ids")
  val Gaps = Budget("id gaps", Long.MaxValue, "one row per hole in the ids")

  /** `frame` under `order`; a limited budget needs `within` on its count. */
  def apply(frame: DataFrame, budget: Budget, operator: String)(order: Column*): OrderedFrame =
    new OrderedFrame(frame, Window.orderBy(order: _*), budget, operator)

  /** `frame`, of at most `atMost` rows, under `order`, checked on the driver. */
  def bounded(frame: DataFrame, atMost: Long, budget: Budget,
              operator: String)(order: Column*): OrderedFrame = {
    require(atMost <= budget.maxRows, budget.exceeded(operator))
    apply(frame, budget, operator)(order: _*)
  }
}
