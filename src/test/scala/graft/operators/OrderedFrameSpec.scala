package graft.operators

import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, row_number}

import graft.SparkSpec

/** The size budget of an [[OrderedFrame]], held in the query (a count on a
  * broadcast one-row aggregate) or on the driver (a known row bound): a
  * frame of exactly its limit keeps its rows and running sums; one row
  * more fails, naming the budget and the operator. */
class OrderedFrameSpec extends SparkSpec {
  import spark.implicits._

  val fiveRows = OrderedFrame.Budget("test rows", 5L, "a budget for the test")

  def walk(n: Long): Seq[(Long, Int, Long, Long, Option[Long])] = {
    val vs = (1L to n).toDF("v")
    val f = OrderedFrame(vs.crossJoin(broadcast(vs.agg(count(lit(1)).as("__n")))),
      fiveRows, "OrderedFrameSpec.walk")(col("v").desc)
    f.rows.where(f.within(col("__n"))).withColumn("pos", row_number().over(f.window))
      .select(col("v"), col("pos"), f.sumBefore(col("v")), f.sumThrough(col("v")),
        f.before(max(col("v"))))
      .as[(Long, Int, Long, Long, Option[Long])].collect().sortBy(_._2).toSeq
  }

  def top(atMost: Long): Long =
    OrderedFrame.bounded((1L to atMost).toDF("v"), atMost, fiveRows,
      "OrderedFrameSpec.top")(col("v")).numbered("pos").count()

  def messages(err: Throwable): String = Iterator.iterate(err)(_.getCause)
    .takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("a frame of exactly its budget passes, with its positions and running sums") {
    assert(walk(5L) === Seq(
      (5L, 1, 0L, 5L, None),
      (4L, 2, 5L, 9L, Some(5L)),
      (3L, 3, 9L, 12L, Some(5L)),
      (2L, 4, 12L, 14L, Some(5L)),
      (1L, 5, 14L, 15L, Some(5L))))
    assert(top(5L) === 5L)
  }

  test("one row past the budget fails, naming the budget and the operator") {
    for ((operator, run) <- Seq("OrderedFrameSpec.walk" -> (() => walk(6L)),
        "OrderedFrameSpec.top" -> (() => top(6L)))) {
      val seen = messages(intercept[Exception](run()))
      assert(seen.contains(operator), seen)
      assert(seen.contains("5-row test rows budget"), seen)
    }
  }
}
