package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** doc_id-uniqueness enforcement via a salted two-level hash aggregate
  * (north-star requirement, BASELINE.json; no reference instance — the
  * pandas app never checks key uniqueness).
  *
  * Scale analysis (10^12 rows):
  *  - Catalyst already runs partial (map-side) + final hash aggregation
  *    for `groupBy(key).count`, so a hot key collapses to ≤1 row per map
  *    partition before the shuffle — the explicit salt below adds a
  *    second pre-shuffle level for the adversarial case where one key's
  *    partials alone would skew a reducer (e.g. a key occupying most of
  *    many partitions), and documents the two-level shape the north rule
  *    asks for.
  *  - Shuffle volume is O(distinct keys), not O(rows); with AQE enabled
  *    (`spark.sql.adaptive.enabled`) skewed partitions re-split at run
  *    time.
  *  - For a cheap probabilistic pre-check at full scale, compare
  *    `count(*)` against HLL++ `approx_count_distinct(key)` in the same
  *    fused profile pass (see [[Profile]]) and only run the exact
  *    duplicate extraction when the estimate signals duplicates.
  */
object Uniqueness {

  /** Exact duplicate keys and their multiplicities.
    * Two-level: groupBy(key, salt) partial counts → groupBy(key) final.
    * @param saltBuckets number of salt buckets (second pre-shuffle level) */
  def duplicates(df: DataFrame, keyCol: String, saltBuckets: Int = 64): DataFrame = {
    val salted = df
      .groupBy(col(keyCol), pmod(spark_partition_id(), lit(saltBuckets)).as("__salt"))
      .agg(count(lit(1)).as("__partial"))
    salted
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as("n_occurrences"))
      .where(col("n_occurrences") > 1)
  }

  /** Plain single-shuffle variant (Catalyst partial agg is the first
    * level); preferred when keys are not adversarially skewed. */
  def duplicatesSimple(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") > 1)

  /** Probabilistic uniqueness check in one aggregate: rows vs HLL++
    * estimate. `maybeDuplicates=false` is a certificate of uniqueness up
    * to HLL error only when the estimate ≈ rows; callers gate the exact
    * pass on it. */
  def probabilisticCheck(df: DataFrame, keyCol: String, rsd: Double = 0.01): (Long, Long, Boolean) = {
    val row = df.agg(
      count(lit(1)).as("n_rows"),
      approx_count_distinct(col(keyCol), rsd).as("n_distinct")).head()
    val nRows = row.getLong(0)
    val nDistinct = row.getLong(1)
    (nRows, nDistinct, nDistinct < (nRows * (1.0 - 3 * rsd)).toLong)
  }

  /** Violation rows (carryCols…, doc_id, rule_id, offending_value) for
    * duplicated keys, shaped like [[ValidationPass.seqViolations]] with the
    * same `carryCols` so the two union by name into one check suite: one
    * row per occurrence of a key that occurs more than once among the
    * rows with the same `carryCols` values, with
    * `offending_value = "n_occurrences=N"`. A NULL key never violates.
    * So the carried columns scope the key: carrying `part_bucket` makes it
    * unique per partition (an embedded uniqueness constraint), and a
    * partition's verdict does not depend on the other partitions checked
    * with it; with no carried column the key is unique over the frame.
    *
    * The validate modes and `runChecks` do not call it: they check
    * uniqueness inside [[ValidationPass.seqViolationsUnique]], which
    * shares one exchange with the other checks. This stand-alone form is
    * that builder's differential oracle in the tests, and serves callers
    * that want the duplicates alone (the `pipeline` demo).
    *
    * One narrow exchange and no join: the rows with a key are projected
    * to (carryCols…, key), and `count(1) over (partition by carryCols…,
    * key)` counts each key's occurrences, so the shuffle moves those
    * columns, never whole rows.
    *
    * The object's scale notes are [[duplicates]]'s and do not hold here:
    * this exchange moves one narrow row per occurrence, O(rows) and not
    * O(distinct keys), and every occurrence of a key lands in one window
    * task, which AQE cannot split. On a fully duplicated table (4M rows,
    * one doc_id, `local[4]`) it took 7.6 s against 7.2 s for the join to
    * [[duplicatesSimple]] it replaced, medians of 4 runs; a hot key too
    * large for one task is unmeasured. */
  def violations(df: DataFrame, keyCol: String, ruleId: String = "R_UNIQUE_DOCID",
                 carryCols: Seq[String] = Nil): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select((carryCols :+ keyCol).map(col): _*)
      .withColumn("n_occurrences",
        count(lit(1)).over(Window.partitionBy((carryCols :+ keyCol).map(col): _*)))
      .where(col("n_occurrences") > 1)
      .select(carryCols.map(col) ++ Seq(col(keyCol).as("doc_id"), lit(ruleId).as("rule_id"),
        concat(lit("n_occurrences="), col("n_occurrences").cast("string"))
          .as("offending_value")): _*)
}
