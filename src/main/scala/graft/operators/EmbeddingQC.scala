package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Embedding-column validation — the north-star constraint pass
  * (BASELINE.json: declarative predicates → sparse violations Dataset)
  * extended to `array<float>` payloads. The checks a 10^11-vector
  * embedding table needs before training or ANN indexing:
  *
  *  - R_EMB_DIM       — dimension != the declared model dimension
  *                      (truncated/concatenated rows poison ANN math);
  *  - R_EMB_NONFINITE — NaN/Inf/null elements (one bad vector saturates
  *                      every cosine it touches);
  *  - R_EMB_ZERO      — all-zero vectors (cosine undefined; the 1e-30
  *                      floor in [[graft.functions.CosineSimilarity]]
  *                      maps them to 0 silently, so they must be CAUGHT
  *                      here, not downstream);
  *  - R_EMB_NORM      — L2 norm outside caller bounds (optional; e.g.
  *                      unnormalized rows in a unit-norm table).
  *
  * All four predicates read ONE [[graft.functions.VecStats]] evaluation
  * per row (single vector traversal; the struct is projected once and is
  * non-cheap + multi-referenced, so CollapseProject keeps the
  * projection — same SPARK-36718 discipline as TextAnalysis.analyze).
  * Clean rows pay only the codegen'd boolean prefilter; only violating
  * rows materialize the array-of-structs (the violations-are-rare
  * two-tier shape of ValidationPass.seqViolations).
  */
object EmbeddingQC {

  /** Per-row health stats: (idCol, dim, n_nonfinite, all_zero, l2_norm —
    * rounded to 4 dp for cross-engine reproducibility). */
  def stats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), VectorExpressions.vecStats(col(vecCol)).as("__vs"))
      .select(col(idCol),
        col("__vs.dim").as("dim"),
        col("__vs.n_nonfinite").as("n_nonfinite"),
        col("__vs.all_zero").as("all_zero"),
        round(col("__vs.l2_norm"), 4).as("l2_norm"))

  /** Sparse violations (idCol, rule_id, offending_value). `normBounds`
    * checks the 4-dp-rounded L2 norm so the rule is exactly reproducible
    * (same convention as the TextProfile-derived scores). A NULL verdict
    * is no violation here, unlike [[ValidationPass.SeqConstraint]]: a NULL
    * vector is R_EMB_NULL's alone, not one hit per rule. */
  def violations(df: DataFrame, idCol: String, vecCol: String, expectedDim: Int,
                 normBounds: Option[(Double, Double)] = None): DataFrame = {
    val vs = VectorExpressions.vecStats(col(vecCol))
    val withVs = df.select(col(idCol), vs.as("__vs"))
    val dim = col("__vs.dim")
    val nonf = col("__vs.n_nonfinite")
    val zero = col("__vs.all_zero")
    val norm = round(col("__vs.l2_norm"), 4)

    val checks: Seq[(String, Column, Column)] = Seq(
      // NULL whole-vector rows would otherwise sail through silently:
      // VecStats returns a null struct, every when(!valid, …) cell below
      // evaluates to null and is filtered out (round-3 ADVICE). `valid`
      // must be a real boolean here — `__vs.isNotNull` — not a
      // null-struct-derived predicate.
      ("R_EMB_NULL", col("__vs").isNotNull, lit("null_embedding")),
      ("R_EMB_DIM", dim === expectedDim,
        concat(lit("dim="), dim.cast("string"))),
      ("R_EMB_NONFINITE", nonf === 0,
        concat(lit("n_nonfinite="), nonf.cast("string"))),
      ("R_EMB_ZERO", !zero, lit("all_zero"))) ++
      normBounds.map { case (lo, hi) =>
        ("R_EMB_NORM", norm.between(lo, hi),
          concat(lit("l2_norm="), norm.cast("string")))
      }

    val cells = checks.map { case (ruleId, valid, off) =>
      when(!valid, struct(lit(ruleId).as("rule_id"),
        off.cast("string").as("offending_value")))
    }
    // No boolean prefilter here, unlike ValidationPass.seqViolations: a
    // Filter above the __vs projection gets the struct INLINED into the
    // pushed predicate (once per referenced field — 3+ vector traversals
    // per clean row). explode() already drops clean rows' empty arrays,
    // and the per-row array-of-3-nulls allocation is noise next to the
    // 64-float traversal the single __vs projection saves.
    withVs
      .select(col(idCol), explode(filter(array(cells: _*), _.isNotNull)).as("v"))
      .select(col(idCol), col("v.rule_id"), col("v.offending_value"))
  }

  /** Whole-table verdict in ONE partial-aggregating pass (shuffle =
    * O(partitions) rows): row count, per-rule violation counts, distinct
    * dims seen, and the norm profile. `normAvg` is rounded AFTER the
    * global merge. */
  def summary(df: DataFrame, vecCol: String, expectedDim: Int): DataFrame =
    df.select(VectorExpressions.vecStats(col(vecCol)).as("__vs"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("__vs").isNull, 1L).otherwise(0L)).as("n_null_rows"),
        sum(when(col("__vs.dim") =!= expectedDim, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("__vs.n_nonfinite") > 0, 1L).otherwise(0L)).as("n_nonfinite_rows"),
        sum(when(col("__vs.all_zero"), 1L).otherwise(0L)).as("n_zero_rows"),
        round(min(col("__vs.l2_norm")), 4).as("norm_min"),
        round(max(col("__vs.l2_norm")), 4).as("norm_max"),
        round(avg(col("__vs.l2_norm")), 4).as("norm_avg"))

  /** Per-group embedding dispersion: mean and minimum cosine of each
    * vector to its GROUP CENTROID — the semantic-diversity dial for
    * mixture design (a label whose vectors hug their centroid is
    * near-duplicate mass SemDeDup will crush; a low minimum flags
    * outliers/mislabels worth auditing). Returns (groupCol, n_vectors,
    * n_scored, avg_cos 6dp, min_cos 6dp); zero vectors (or a zero
    * centroid) are unscorable and excluded from the cosines but
    * counted in n_vectors − n_scored — loud, not silent.
    *
    * Scale shape: centroid means come from one (group, dim) aggregate
    * (exchange bounded by |groups|·dim); per-vector dot/norm sums from
    * a second exploded aggregate keyed (group, id) joined against the
    * broadcast-small centroid frame; the final fold is |groups|-
    * bounded. Two corpus passes, no window, no driver collect. */
  def dispersion(df: DataFrame, idCol: String, vecCol: String,
                 groupCol: String): DataFrame = {
    val exploded = df.select(col(groupCol), col(idCol),
      posexplode(col(vecCol)).as(Seq("__dim", "__v")))
    val centroid = exploded.groupBy(col(groupCol), col("__dim"))
      .agg(avg(col("__v").cast("double")).as("__c"))
    val perVec = exploded
      .join(broadcast(centroid), Seq(groupCol, "__dim"))
      .groupBy(col(groupCol), col(idCol))
      .agg(sum(col("__v").cast("double") * col("__c")).as("__vc"),
        sum(col("__v").cast("double") * col("__v").cast("double"))
          .as("__vv"),
        sum(col("__c") * col("__c")).as("__cc"))
      .select(col(groupCol),
        when(col("__vv") > 0 && col("__cc") > 0,
          col("__vc") / sqrt(col("__vv") * col("__cc"))).as("__cos"))
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vectors"))
    counts.join(
      perVec.groupBy(col(groupCol))
        .agg(count(col("__cos")).as("n_scored"),
          round(avg(col("__cos")), 6).as("avg_cos"),
          round(min(col("__cos")), 6).as("min_cos")),
      Seq(groupCol), "left_outer")
  }

  /** Embedding centroid drift between two snapshots, per group — the
    * embedding-space companion of the histogram drift pass
    * ([[Drift]]): when the encoder, preprocessing, or upstream corpus
    * shifts, each group's MEAN vector rotates away from its previous
    * position long before per-row QC notices anything. Reports, per
    * `groupCol`: row counts in both snapshots and the cosine between
    * the two snapshot centroids (1 ≈ stable, small/negative = the
    * group moved; NULL when either side is empty or a zero vector).
    *
    * Scale shape: ONE aggregate over the exploded (group, dim) grid —
    * both snapshot means per dimension come from conditional `avg`s in
    * the same grouped pass (map-side partial combine; the exchange
    * carries (group, dim, partial sums), bounded by |groups|·dim, never
    * by rows) — then a second |groups|·dim → |groups| aggregate folds
    * the dot/norm sums. No driver collect, no window, no join between
    * snapshot halves. Doubles accumulate in merge order, so the cosine
    * is rounded (6dp) for cross-engine comparison.
    *
    * `snapCol` must be an integer 0 (baseline) / 1 (current); rows with
    * other values are ignored (callers derive it from a snapshot id or
    * partition date). */
  def centroidDrift(df: DataFrame, vecCol: String, groupCol: String,
                    snapCol: String): DataFrame = {
    val snap = col(snapCol).cast("int")
    val counts = df
      .groupBy(col(groupCol))
      .agg(
        sum(when(snap === 0, 1L).otherwise(0L)).as("n_base"),
        sum(when(snap === 1, 1L).otherwise(0L)).as("n_cur"))
    val means = df
      .where(snap.isin(0, 1))
      .select(col(groupCol), snap.as("__snap"),
        posexplode(col(vecCol)).as(Seq("__dim", "__v")))
      .groupBy(col(groupCol), col("__dim"))
      .agg(
        avg(when(col("__snap") === 0, col("__v").cast("double"))).as("__a"),
        avg(when(col("__snap") === 1, col("__v").cast("double"))).as("__b"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__a") * col("__b")).as("__ab"),
        sum(col("__a") * col("__a")).as("__aa"),
        sum(col("__b") * col("__b")).as("__bb"))
    counts.join(means, Seq(groupCol), "left_outer")
      .select(col(groupCol), col("n_base"), col("n_cur"),
        when(col("__aa") > 0 && col("__bb") > 0,
          round(col("__ab") / sqrt(col("__aa") * col("__bb")), 6))
          .as("centroid_cos"))
  }
}
