package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity check of a fact column against an allowlist
  * dimension via broadcast hash anti-join (north-star requirement;
  * reference analogue is the `isin` vocabulary membership at
  * /root/reference/utils/validate_core.py:272,298, which is semantically
  * a broadcast left-semi join against a literal vocabulary).
  *
  * The dimension is metadata-sized (an allowlist), so `broadcast()` pins
  * `BroadcastHashJoinExec` — zero shuffle of the fact table at any scale.
  */
object Referential {

  /** Rows of `fact` whose `factCol` has no match in `dim.dimCol`. */
  def orphans(fact: DataFrame, factCol: String, dim: DataFrame, dimCol: String): DataFrame = {
    val allow = dim.select(col(dimCol).as(factCol)).distinct()
    fact.join(broadcast(allow), Seq(factCol), "left_anti")
  }

  /** Violation rows (idCol as doc_id, rule_id, offending_value) against a
    * dimension-table allowlist: a join, so no [[ValidationPass.SeqConstraint]]
    * (a literal allowlist is one — cli.Main's R_REF_SOURCE). */
  def violations(
      fact: DataFrame, idCol: String, factCol: String,
      dim: DataFrame, dimCol: String,
      ruleId: String = "R_REF_SOURCE"): DataFrame =
    orphans(fact, factCol, dim, dimCol).select(
      col(idCol).cast("string").as("doc_id"),
      lit(ruleId).as("rule_id"),
      col(factCol).cast("string").as("offending_value"))

  /** Join-key containment pre-flight — the "will this join silently
    * drop 40 % of my rows" measurement BEFORE the 10-hour join (the
    * match-rate complement of [[graft.operators.SkewJoin.joinSizeEstimate]],
    * which prices the output; this prices the LOSS). One row:
    * left row/null counts, distinct key counts on both sides, shared
    * keys, left rows whose key matches, and the two fractions —
    * key_containment (shared / left keys) and row_coverage (matched /
    * non-null rows). [[orphans]] then enumerates the offenders;
    * this is the cheap summary that decides whether to bother.
    *
    * Scale shape: per-key row counts collapse map-side on each side;
    * the only join is distinct-keys ⋈ distinct-keys (narrow frames);
    * payloads never move. NULL keys are counted, never matched —
    * consistent with SQL join semantics. */
  def keyContainment(left: DataFrame, leftKey: String,
                     right: DataFrame, rightKey: String): DataFrame = {
    val lRows = left.agg(count(lit(1)).as("n_left_rows"),
      count(col(leftKey)).as("n_left_nonnull"))
    val lk = left.select(col(leftKey).as("__k"))
      .where(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
    val rk = right.select(col(rightKey).as("__k"))
      .where(col("__k").isNotNull).distinct()
    val lKeys = lk.agg(count(lit(1)).as("n_left_keys"))
    val rKeys = rk.agg(count(lit(1)).as("n_right_keys"))
    val shared = lk.join(rk, Seq("__k"))
      .agg(count(lit(1)).as("n_shared_keys"),
        coalesce(sum(col("__c")), lit(0L)).as("n_left_rows_matched"))
    lRows.crossJoin(lKeys).crossJoin(rKeys).crossJoin(shared)
      .select(col("n_left_rows"), col("n_left_nonnull"),
        col("n_left_keys"), col("n_right_keys"), col("n_shared_keys"),
        col("n_left_rows_matched"),
        when(col("n_left_keys") > 0,
          round(col("n_shared_keys").cast("double") /
            col("n_left_keys").cast("double"), 6)).as("key_containment"),
        when(col("n_left_nonnull") > 0,
          round(col("n_left_rows_matched").cast("double") /
            col("n_left_nonnull").cast("double"), 6)).as("row_coverage"))
  }
}
