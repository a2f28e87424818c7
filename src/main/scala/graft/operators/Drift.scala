package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HistogramAgg
import graft.round6

/** Distribution-drift detection of `n_tok` and `source` frequencies
  * against a stored baseline profile (north-star requirement; no
  * reference instance). Sketches are built distributed, statistics are
  * computed on the driver from the merged (metadata-sized) sketches:
  *
  *  - numeric column → fixed-bin histogram via the custom
  *    [[graft.functions.HistogramAgg]] Catalyst aggregate (bins fixed from
  *    the baseline so partition sketches merge associatively —
  *    SURVEY.md §7.4); ECDF-from-histogram → two-sample KS statistic.
  *    KS on binned ECDFs is exact at bin edges — a lower bound of the
  *    unbinned statistic with error ≤ max per-bin mass; tolerance
  *    documented on [[ksStatistic]].
  *  - categorical column → frequency map via `groupBy(col).count`
  *    (partial agg → shuffle of O(categories) rows) → Pearson chi-square.
  */
object Drift {

  final case class HistogramProfile(lo: Double, hi: Double, counts: Array[Long]) {
    def total: Long = counts.sum
    /** cumulative distribution at each internal bin edge (underflow bin
      * folded into the first step, overflow into the last). */
    def ecdf: Array[Double] = {
      val t = total.toDouble.max(1.0)
      val cum = counts.scanLeft(0L)(_ + _).drop(1)
      cum.map(_ / t)
    }
  }

  final case class CategoricalProfile(freq: Map[String, Long]) {
    def total: Long = freq.values.sum
  }

  final case class DriftVerdict(
      ksStatistic: Double, ksCritical: Double, ksDrifted: Boolean,
      chiSquare: Double, chiSquareDf: Int, chiSquareCritical: Double, chiDrifted: Boolean)

  /** Build a numeric histogram sketch in one distributed aggregate. */
  def numericHistogram(df: DataFrame, field: String, lo: Double, hi: Double, nBins: Int): HistogramProfile = {
    val row = df.agg(HistogramAgg.histogram(col(field), lo, hi, nBins).as("h")).head()
    HistogramProfile(lo, hi, row.getAs[scala.collection.Seq[Long]]("h").toArray)
  }

  /** Per-group KS drift verdicts in ONE grouped sketch aggregation —
    * the per-partition pass/fail pattern at sketch cost: `groupBy(group)
    * .agg(histogram)` partial-aggregates per partition, so the shuffle
    * carries O(partitions × groups) count arrays (never rows), and the
    * per-group KS-vs-baseline decisions run driver-side over
    * metadata-sized sketches, exactly like [[check]] does globally.
    * Returns (group, n, ks_stat, ks_critical, ks_drifted) for groups of
    * dimension-like cardinality (sources, partitions, shards). */
  def ksByGroup(df: DataFrame, groupCol: String, field: String,
                baseline: HistogramProfile, alpha: Double = 0.01): DataFrame = {
    val spark = df.sparkSession
    val nBins = baseline.counts.length - 2
    val perGroup = df.groupBy(Categorical.key(col(groupCol)).as("g"))
      .agg(HistogramAgg.histogram(col(field), baseline.lo, baseline.hi, nBins).as("h"))
      .collect()
    import spark.implicits._
    perGroup.map { r =>
      val p = HistogramProfile(baseline.lo, baseline.hi,
        r.getAs[scala.collection.Seq[Long]]("h").toArray)
      val stat = ksStatistic(p, baseline)
      val crit = ksCritical(p.total, baseline.total, alpha)
      (r.getString(0), p.total,
        round6(stat),
        round6(crit),
        stat > crit)
    }.toSeq.toDF(groupCol, "n", "ks_stat", "ks_critical", "ks_drifted")
  }

  /** Per-group Wasserstein-1 (earth-mover) drift vs a baseline
    * histogram — [[ksByGroup]]'s integral companion: KS reads the WORST
    * vertical CDF gap (sharp location shifts), W1 reads the AREA
    * between the CDFs in VALUE units (how far mass actually moved — a
    * fat tail that barely moves the sup-norm integrates here, and the
    * number is directly interpretable: "mean token count moved ~W1").
    * Same aligned [[graft.functions.HistogramAgg]] sketches as
    * [[ksByGroup]] (one grouped aggregate; the shuffle carries
    * O(partitions × groups) count arrays, never rows; statistics
    * driver-side over metadata-sized sketches). With underflow mass
    * folded to the first interior bin and overflow to the last (the
    * sketch clamps support to [lo, hi]),
    * W1 = binWidth · Σ_{j ≤ nBins−2} |cumG_j − cumB_j| — exact for the
    * binned distributions, error ≤ binWidth vs the unbinned statistic.
    * Cumulative masses divide ONCE from exact integer cumulative
    * counts, so the SQL window-cumsum replica is bit-compatible.
    * Returns (group, n, w1). */
  def wasserstein1ByGroup(df: DataFrame, groupCol: String, field: String,
                          baseline: HistogramProfile): DataFrame = {
    val spark = df.sparkSession
    val nBins = baseline.counts.length - 2
    require(nBins >= 2, "need at least 2 interior bins")
    val w = (baseline.hi - baseline.lo) / nBins
    def folded(counts: Array[Long]): Array[Long] = {
      val m = counts.slice(1, nBins + 1)
      m(0) += counts(0); m(nBins - 1) += counts(nBins + 1); m
    }
    val bm = folded(baseline.counts)
    val bTot = math.max(bm.sum, 1L).toDouble
    val perGroup = df.groupBy(Categorical.key(col(groupCol)).as("g"))
      .agg(HistogramAgg.histogram(col(field), baseline.lo, baseline.hi,
        nBins).as("h"))
      .collect()
    import spark.implicits._
    perGroup.toSeq.map { r =>
      val gm = folded(r.getAs[scala.collection.Seq[Long]]("h").toArray)
      val gTot = math.max(gm.sum, 1L).toDouble
      var cgL = 0L; var cbL = 0L; var acc = 0.0; var j = 0
      while (j < nBins - 1) {
        cgL += gm(j); cbL += bm(j)
        acc += math.abs(cgL / gTot - cbL / bTot)
        j += 1
      }
      (r.getString(0), gm.sum,
        round6(acc * w))
    }.toDF(groupCol, "n", "w1")
  }

  /** Holt linear (double-exponential) smoothing over a daily count
    * series — [[ewmaChart]]'s trend-aware sibling: EWMA tracks a LEVEL
    * and flags sustained shifts, Holt additionally carries a TREND
    * state, so a steady ingest ramp reads as trend (expected) instead
    * of a perpetual out-of-control level. Standard recursions
    * (Holt 1957): ŷ_t = ℓ_{t−1} + b_{t−1},
    * ℓ_t = α·y_t + (1−α)·(ℓ_{t−1} + b_{t−1}),
    * b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}, initialized ℓ₁ = y₁,
    * b₁ = y₂ − y₁ (b₁ = 0 for a one-day series), ŷ₁ = y₁. Returns per
    * day (day, y, level, trend, fitted) plus ONE horizon row
    * (day = null, y = null, fitted = ℓ_T + b_T) — the one-step
    * forecast the volume-anomaly gate compares tomorrow against.
    *
    * The recursion is inherently sequential, so it folds driver-side
    * over the aggregated daily frame (the [[ewmaChart]] convention:
    * O(days) rows — metadata-sized at any corpus scale; the corpus
    * itself is touched by exactly one count aggregate). Expression
    * shapes mirror the SQL recursive-CTE replica term for term, so
    * the doubles are bit-compatible. */
  def holtLinear(df: DataFrame, tsCol: String, alpha: Double = 0.5,
                 beta: Double = 0.25): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    val spark = df.sparkSession
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getDate(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    import spark.implicits._
    if (daily.isEmpty)
      return Seq.empty[(Option[java.sql.Date], Option[Long], Option[Double],
          Option[Double], Option[Double])]
        .toDF("day", "y", "level", "trend", "fitted")
    val ys = daily.map(_._2.toDouble)
    var level = ys(0)
    var trend = if (ys.length >= 2) ys(1) - ys(0) else 0.0
    val rows = daily.zipWithIndex.map { case ((day, y), i) =>
      if (i == 0)
        (Option(day), Option(y), Option(round6(level)), Option(round6(trend)),
          Option(round6(ys(0))))
      else {
        val fitted = level + trend
        val lNew = alpha * ys(i) + (1 - alpha) * (level + trend)
        trend = beta * (lNew - level) + (1 - beta) * trend
        level = lNew
        (Option(day), Option(y), Option(round6(level)), Option(round6(trend)),
          Option(round6(fitted)))
      }
    }
    val horizon = (Option.empty[java.sql.Date], Option.empty[Long],
      Option.empty[Double], Option.empty[Double], Option(round6(level + trend)))
    (rows :+ horizon).toSeq.toDF("day", "y", "level", "trend", "fitted")
  }

  /** Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg
    * 1995) over a battery of p-values — the multiple-testing answer a
    * validation engine running HUNDREDS of drift/constraint checks per
    * snapshot needs: at raw α, 288 independent checks false-alarm
    * ~every snapshot; BH bounds the EXPECTED FALSE-DISCOVERY FRACTION
    * at q instead. Rank p ascending (key breaks ties), threshold_i =
    * i·q/m over the m non-null p-values, and reject every rank ≤
    * k* = max{i : p_(i) ≤ i·q/m} — the step-up rule, which rejects
    * MORE than the naive per-row compare whenever a passing rank
    * shelters earlier failures. NULL p-values are excluded from m and
    * carry a NULL verdict (an unscored check is not evidence either
    * way). Returns (key, p, rank, bh_threshold, reject).
    *
    * Scale shape: the battery frame is O(#checks) — metadata-sized by
    * construction (one row per rule/slice, never per data row), so the
    * unpartitioned rank window is the [[graft.operators.TextAnalysis.zipfFit]]
    * convention: a total sort of a tiny frame, plus one 1-row k* agg
    * broadcast back. */
  def benjaminiHochberg(df: DataFrame, keyCol: String, pCol: String,
                        q: Double = 0.05): DataFrame = {
    require(q > 0.0 && q < 1.0, "q must be in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val scored = df.where(col(pCol).isNotNull)
      .select(col(keyCol), col(pCol).cast("double").as("p"))
    // m rides the plan as a broadcast 1-row scalar — a driver count()
    // was a SECOND full derivation of the battery frame (exchange reuse
    // never crosses a job boundary); same IEEE arithmetic: (rank·q)/m
    val mAgg = scored.agg(count(lit(1)).cast("double").as("__m"))
    val w = Window.orderBy(col("p"), col(keyCol))
    val ranked = scored.crossJoin(broadcast(mAgg))
      .withColumn("rank", row_number().over(w))
      .withColumn("bh_threshold",
        round(col("rank") * q / col("__m"), 6))
      .withColumn("__hit", col("p") <= col("rank") * q / col("__m"))
    val kStar = ranked.agg(
      max(when(col("__hit"), col("rank")).otherwise(lit(0))).as("__k"))
    val verdicts = ranked.crossJoin(broadcast(kStar))
      .select(col(keyCol), round(col("p"), 6).as("p"), col("rank"),
        col("bh_threshold"),
        (col("rank") <= col("__k")).as("reject"))
    val nulls = df.where(col(pCol).isNull)
      .select(col(keyCol), lit(null: java.lang.Double).as("p"),
        lit(null: java.lang.Integer).as("rank"),
        lit(null: java.lang.Double).as("bh_threshold"),
        lit(null: java.lang.Boolean).as("reject"))
    verdicts.unionByName(nulls).orderBy(col("rank").asc_nulls_last)
  }

  /** Two-proportion z-test of each group's SUCCESS RATE vs its
    * complement — [[welchT]]'s categorical-outcome sibling, and the
    * significance readout for curation-gate pass rates ("src7's keep
    * rate is 3 points below the rest — noise or signal?"): with
    * pooled p̂ = K/N, z = (p₁ − p₂)/√(p̂(1−p̂)(1/n₁ + 1/n₂)). ONE
    * sufficient-stats aggregate (per-group n and successes), grand
    * totals from their sum — complements are free (grand − group, the
    * welchT discipline) — and the z arithmetic runs on the O(groups)
    * frame. Degenerate cases keep NULL z (single group → empty
    * complement; pooled rate 0 or 1 → zero variance): a gate that
    * passes everything is not "insignificant", it is untestable.
    * Returns (group, n, n_success, rate, z). */
  def twoProportionZ(df: DataFrame, groupCol: String,
                     success: Column): DataFrame = {
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("k"))
    val tot = per.agg(sum(col("n")).as("__N"), sum(col("k")).as("__K"))
    val n2 = col("__N") - col("n")
    val k2 = col("__K") - col("k")
    val p1 = col("k").cast("double") / col("n")
    val p2 = k2.cast("double") / n2
    val pool = col("__K").cast("double") / col("__N")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n") + lit(1.0) / n2))
    // duckRound: rate/z can land on a .5 tie at 6 decimals for data the
    // builder never sees (the round-5 driver red was tie-triggered by
    // the driver's own data); DuckDB-formula rounding is tie-proof
    // against the oracle's round() regardless of where the data falls
    import graft.functions.DuckRound.duckRound
    per.crossJoin(broadcast(tot))
      .select(col("__g").as(groupCol), col("n"), col("k").as("n_success"),
        duckRound(p1, 6).as("rate"),
        when(n2 === 0 || pool <= 0.0 || pool >= 1.0,
          lit(null: java.lang.Double))
          .otherwise(duckRound((p1 - p2) / se, 6)).as("z"))
      .orderBy(col(groupCol))
  }

  /** Two-proportion power analysis per group — [[twoProportionZ]]'s
    * PROSPECTIVE sibling: before a curation-gate change or data-mix
    * experiment ships, how many rows per arm does each group need for
    * the detector to SEE a `relLift` relative change in its success
    * rate? Standard normal-approximation sample size with
    * p₂ = p₁(1+relLift), p̄ = (p₁+p₂)/2:
    * n = (z_{α/2}·√(2p̄(1−p̄)) + z_β·√(p₁(1−p₁)+p₂(1−p₂)))² / (p₂−p₁)².
    * The z constants are LITERALS (defaults: two-sided α=0.05 →
    * 1.9599639845400545, power 0.8 → 0.8416212335729143) — neither
    * engine has an inverse normal CDF, and pinning them keeps the
    * oracle exact. `sufficient` answers the planning question
    * directly: does the group's CURRENT volume already power the test?
    * Degenerate rates (p₁ = 0 or ≥ 1 after lift clamping impossible —
    * p₁ ≥ 1 means zero variance) yield NULL n_required: an
    * always-pass gate is untestable, not "cheap to test". One
    * sufficient-stats aggregate, all arithmetic on the O(groups)
    * frame. Returns (group, n, n_success, rate, target_rate,
    * n_required, sufficient). */
  def powerAnalysis(df: DataFrame, groupCol: String, success: Column,
                    relLift: Double = 0.05,
                    zAlpha: Double = 1.9599639845400545,
                    zBeta: Double = 0.8416212335729143): DataFrame = {
    require(relLift != 0.0, "relLift must be nonzero")
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("k"))
    val p1 = col("k").cast("double") / col("n")
    val p2 = p1 * lit(1.0 + relLift)
    val pbar = (p1 + p2) / lit(2.0)
    val numer = pow(
      lit(zAlpha) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
        lit(zBeta) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2)),
      lit(2.0))
    val nReq = ceil(numer / pow(p2 - p1, lit(2.0)))
    per.select(col("__g").as(groupCol), col("n"),
        col("k").as("n_success"), round(p1, 6).as("rate"),
        when(p1 <= 0.0 || p1 >= 1.0 || p2 >= 1.0 || p2 <= 0.0,
          lit(null: java.lang.Double)).otherwise(round(p2, 6))
          .as("target_rate"),
        when(p1 <= 0.0 || p1 >= 1.0 || p2 >= 1.0 || p2 <= 0.0,
          lit(null: java.lang.Long))
          .otherwise(nReq.cast("long")).as("n_required"))
      .withColumn("sufficient",
        when(col("n_required").isNull, lit(null: java.lang.Boolean))
          .otherwise(col("n") >= col("n_required")))
      .orderBy(col(groupCol))
  }

  /** CUPED variance reduction (controlled-experiment using
    * pre-experiment data): given a per-unit frame with a covariate
    * measured BEFORE the experiment (`preCol`) and the experiment
    * metric (`postCol`), θ = cov(pre, post) / var(pre) is the
    * adjustment coefficient and ρ² = cov² / (var_pre · var_post) is
    * the variance fraction the adjusted metric
    * y′ = y − θ·(x − x̄) removes — equivalently, how much smaller the
    * [[powerAnalysis]] sample size gets for free from data already
    * collected. The experimentation tier's third leg: powerAnalysis
    * plans the test, [[sprtGate]] runs it sequentially, cuped shrinks
    * it.
    *
    * Exactness discipline ([[Profile.spearman]]'s): inputs cast
    * per-row to decimal(38,6) (deterministic per value, no
    * merge-order dependence), sufficient statistics accumulate as
    * exact decimals, and θ / ρ² derive through one fixed IEEE
    * expression — bit-exact in SQL where a streaming covar_pop is
    * merge-order-dependent. Rows with a NULL side are excluded (n is
    * surfaced); NULL θ when the covariate is constant, NULL ρ² when
    * either side is. Returns one row: (n, theta, var_reduction). */
  def cuped(perUnit: DataFrame, preCol: String,
            postCol: String): DataFrame = {
    val dec = "decimal(38,6)"
    val base = perUnit.select(col(preCol).cast(dec).as("__x"),
        col(postCol).cast(dec).as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val agg = base.agg(count(lit(1)).as("n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    val n = col("n").cast("decimal(38,0)")
    val cov = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val vx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val vy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    agg.select(col("n"),
      when(vx > 0, round(cov / vx, 6)).as("theta"),
      when(vx > 0 && vy > 0, round(cov * cov / (vx * vy), 6))
        .as("var_reduction"))
  }

  /** Sequential probability ratio test (Wald SPRT) per group —
    * [[powerAnalysis]]'s STREAMING sibling: instead of fixing n up
    * front, accumulate the log-likelihood ratio of H₁: p = p₀(1+δ)
    * against H₀: p = p₀ and stop the moment it crosses a boundary.
    * llr = k·ln(p₁/p₀) + (n−k)·ln((1−p₁)/(1−p₀)), accept H₁ at
    * llr ≥ ln((1−β)/α), accept H₀ at llr ≤ ln(β/(1−α)), else keep
    * collecting — on average far fewer rows than the fixed-n test for
    * the same (α, β). p₀ is the POOLED rate over all groups (the
    * complement-free spelling: each group is tested against the
    * corpus-wide baseline). Degenerate baselines (pooled rate 0, or
    * p₁ ≥ 1) yield NULL llr and verdict 'untestable'. ONE
    * sufficient-stats aggregate + broadcast totals; all arithmetic on
    * the O(groups) frame. Returns (group, n, n_success, rate, llr,
    * lower, upper, verdict). */
  def sprtGate(df: DataFrame, groupCol: String, success: Column,
               relLift: Double = 0.05, alpha: Double = 0.05,
               beta: Double = 0.2): DataFrame =
    sprtGateFromCounts(
      df.groupBy(Categorical.key(col(groupCol)).as(groupCol))
        .agg(count(lit(1)).as("n"),
          sum(when(success, 1L).otherwise(0L)).as("k")),
      groupCol, relLift, alpha, beta)

  /** [[sprtGate]] on PRE-AGGREGATED per-group sufficient statistics
    * (group, n, k) — the spelling a streaming deployment uses: a
    * complete-mode `groupBy().agg(count, sum(success))` accumulates
    * (n, k) per micro-batch, and this verdict projection runs on the
    * O(groups) state table after each trigger (the two-frame
    * crossJoin is not streamable inside one query, and does not need
    * to be — the state IS the sufficient statistic). StreamingSpec
    * pins stream-accumulated verdicts == batch [[sprtGate]]. */
  def sprtGateFromCounts(per: DataFrame, groupCol: String,
                         relLift: Double = 0.05, alpha: Double = 0.05,
                         beta: Double = 0.2): DataFrame = {
    require(relLift > 0, "sprtGate: relLift must be positive")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "sprtGate: alpha and beta must be in (0,1)")
    val tot = per.agg(sum(col("n")).as("__N"), sum(col("k")).as("__K"))
    val p0 = col("__K").cast("double") / col("__N")
    val p1 = p0 * lit(1.0 + relLift)
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val llr = col("k").cast("double") * log(p1 / p0) +
      (col("n") - col("k")).cast("double") *
        log((lit(1.0) - p1) / (lit(1.0) - p0))
    val degenerate = p0 <= 0.0 || p1 >= 1.0
    per.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"),
        col("k").as("n_success"),
        round(col("k").cast("double") / col("n"), 6).as("rate"),
        when(degenerate, lit(null: java.lang.Double))
          .otherwise(round(llr, 6)).as("llr"),
        round(lit(lower), 6).as("lower"), round(lit(upper), 6).as("upper"),
        // verdicts compare the ROUNDED values on both sides so the
        // SQL oracle's boundary arithmetic can't flip a knife-edge
        when(degenerate, lit("untestable"))
          .when(round(llr, 6) >= round(lit(upper), 6), lit("accept_h1"))
          .when(round(llr, 6) <= round(lit(lower), 6), lit("accept_h0"))
          .otherwise(lit("continue")).as("verdict"))
      .orderBy(col(groupCol))
  }

  /** Recency-weighted (exponentially decayed) volume per group: each
    * event contributes 0.5^(age_days / halfLifeDays) with age measured
    * back from the CORPUS'S OWN newest day (deterministic — never
    * wall-clock `now()`, which would make the metric unreproducible
    * and the oracle impossible). The freshness-honest source ranking:
    * raw counts rank a dead feed with a big archive above a live one —
    * decayed mass ranks what is ACTUALLY still producing. Returns
    * (group, n_events, decayed_mass, freshness = decayed/n) with
    * freshness ∈ (0, 1]: 1.0 = everything arrived today, → 0 = dead
    * archive. One max-day aggregate broadcast back + one grouped
    * sum — O(groups) result rows, corpus seen once. */
  def decayedVolume(df: DataFrame, tsCol: String, groupCol: String,
                    halfLifeDays: Double = 7.0): DataFrame = {
    require(halfLifeDays > 0, "halfLifeDays must be positive")
    val base = df.where(col(tsCol).isNotNull)
      .select(Categorical.key(col(groupCol))
        .as("__g"), to_date(col(tsCol)).as("__d"))
    val ref = base.agg(max(col("__d")).as("__ref"))
    base.crossJoin(broadcast(ref))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_events"),
        sum(pow(lit(0.5),
          datediff(col("__ref"), col("__d")).cast("double")
            / halfLifeDays)).as("__mass"))
      .select(col("__g").as(groupCol), col("n_events"),
        round(col("__mass"), 6).as("decayed_mass"),
        round(col("__mass") / col("n_events"), 6).as("freshness"))
      .orderBy(col(groupCol))
  }

  /** Hoeffding trust radii for per-group rate estimates: with n
    * observations of a bounded [0,1] quantity (a gate pass rate, a
    * violation rate), the true rate lies within ε = √(ln(2/δ)/(2n))
    * of the observed one with probability ≥ 1 − δ — distribution-free,
    * no normality assumption, valid at ANY n (the z-interval's small-n
    * failure mode is exactly where data QC operates). Emits each
    * group's observed rate with its 95 % and 99 % radii: a dashboard
    * that shows "src7: 0.83 ± 0.19" stops people acting on noise.
    * One sufficient-stats aggregate; arithmetic on the O(groups)
    * frame. Returns (group, n, rate, eps_95, eps_99). */
  def hoeffdingBounds(df: DataFrame, groupCol: String,
                      success: Column): DataFrame = {
    val ln95 = math.log(2.0 / 0.05)
    val ln99 = math.log(2.0 / 0.01)
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("__k"))
    per.select(col("__g").as(groupCol), col("n"),
        round(col("__k").cast("double") / col("n"), 6).as("rate"),
        round(sqrt(lit(ln95) / (lit(2.0) * col("n"))), 6).as("eps_95"),
        round(sqrt(lit(ln99) / (lit(2.0) * col("n"))), 6).as("eps_99"))
      .orderBy(col(groupCol))
  }

  /** Empirical-Bernstein trust radii — [[hoeffdingBounds]]'s
    * variance-adaptive upgrade for Bernoulli gate rates: Hoeffding
    * pays for the worst case (variance ¼ at p = ½); when a gate
    * passes 2 % or 98 % the observed variance is 20× smaller and
    * Bernstein's ε = √(2·V̂·ln(3/δ)/n) + 3·ln(3/δ)/n shrinks with
    * it — the difference between "±0.19, unusable" and "±0.03,
    * actionable" at the same n. V̂ is the unbiased sample variance,
    * exact from the integer counts (k(n−k)/(n(n−1)) for 0/1
    * outcomes — no FP accumulation). Radii at both the Hoeffding and
    * Bernstein bounds side by side, so the dashboard shows what the
    * variance bought. One sufficient-stats aggregate, O(groups)
    * arithmetic. Returns (group, n, rate, eps_hoeffding, eps_bernstein)
    * at δ = 0.05; NULL Bernstein radius at n = 1 (variance undefined). */
  def empiricalBernsteinBounds(df: DataFrame, groupCol: String,
                               success: Column,
                               delta: Double = 0.05): DataFrame = {
    require(delta > 0 && delta < 1, "delta must be in (0,1)")
    val ln2 = math.log(2.0 / delta)
    val ln3 = math.log(3.0 / delta)
    val per = df.groupBy(Categorical.key(col(groupCol)).as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("__k"))
    val n = col("n").cast("double")
    val k = col("__k").cast("double")
    // greatest(n-1, 1): the n = 1 row's radius is NULLed by the guard
    // below, but ANSI mode faults the division itself before the
    // conditional can discard it
    val v = k * (n - k) / (n * greatest(n - lit(1.0), lit(1.0)))
    per.select(col("__g").as(groupCol), col("n"),
        round(k / n, 6).as("rate"),
        round(sqrt(lit(ln2) / (lit(2.0) * n)), 6).as("eps_hoeffding"),
        when(col("n") > 1,
          round(sqrt(lit(2.0) * v * lit(ln3) / n) +
            lit(3.0) * lit(ln3) / n, 6)).as("eps_bernstein"))
      .orderBy(col(groupCol))
  }

  /** Day-jackknife standard error of a ratio metric Σx/Σy — the
    * metrology for CLUSTERED data a row-level bootstrap gets wrong:
    * events within a day are correlated, so resampling rows
    * understates the SE; leave-one-DAY-out respects the cluster
    * structure. R₍ᵢ₎ comes from the complements (grand totals minus
    * day i — the welchT discipline: one O(days) frame, no rescans),
    * SE = √((d−1)/d · Σ(R₍ᵢ₎ − R̄)²). Numerator x accumulates as
    * decimal(38,6) cast per row (exact, merge-order-free); y is a
    * count. Returns one row: (n_days, ratio, se_jackknife); NULL SE
    * below 2 days. */
  def jackknifeRatio(df: DataFrame, tsCol: String, xCol: Column): DataFrame = {
    val dec = "decimal(38,6)"
    val days = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(sum(xCol.cast(dec)).as("__x"), count(lit(1)).as("__y"))
    val tot = days.agg(sum(col("__x")).as("__tx"), sum(col("__y")).as("__ty"),
      count(lit(1)).as("n_days"))
    val withTot = days.crossJoin(broadcast(tot))
    // try_divide: the single-day frame's leave-one-out divisor is 0;
    // its NULL replica is discarded by the n_days > 1 guard, but ANSI
    // mode faults a plain division before the guard can
    val ri = try_divide((col("__tx") - col("__x")).cast("double"),
      (col("__ty") - col("__y")).cast("double"))
    val loo = withTot.select(col("n_days"), col("__tx"), col("__ty"),
      ri.as("__ri"))
    val d = col("n_days").cast("double")
    loo.groupBy(col("n_days"), col("__tx"), col("__ty"))
      .agg(avg(col("__ri")).as("__rbar"),
        sum(col("__ri") * col("__ri")).as("__rsq"))
      .select(col("n_days"),
        round(col("__tx").cast("double") / col("__ty").cast("double"), 6)
          .as("ratio"),
        // greatest(0, ·): Σri² − d·r̄² is ≥ 0 mathematically but can
        // land at −1e-18 in FP — sqrt(NaN) would poison the row
        when(col("n_days") > 1, round(sqrt(greatest(lit(0.0),
          (d - lit(1.0)) / d *
            (col("__rsq") - d * col("__rbar") * col("__rbar")))), 6))
          .as("se_jackknife"))
  }

  /** Categorical frequency profile of the [[Categorical.key]]s of
    * `field` (tiny shuffle: O(categories)). */
  def categoricalFreq(df: DataFrame, field: String): CategoricalProfile = {
    val rows: Array[Row] = df.groupBy(Categorical.key(col(field)).as("k"))
      .agg(count(lit(1)).as("n")).collect()
    CategoricalProfile(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Two-sample KS statistic on aligned histogram sketches.
    * Approximation error ≤ max(per-bin mass); with ≥64 bins over the
    * data range this is well under the decision threshold in practice. */
  def ksStatistic(a: HistogramProfile, b: HistogramProfile): Double = {
    require(a.counts.length == b.counts.length && a.lo == b.lo && a.hi == b.hi,
      "sketches must share bin edges (fix bins from the baseline profile)")
    a.ecdf.zip(b.ecdf).map { case (x, y) => math.abs(x - y) }.max
  }

  /** Asymptotic two-sample KS critical value at significance alpha. */
  def ksCritical(n1: Long, n2: Long, alpha: Double = 0.01): Double = {
    val c = math.sqrt(-0.5 * math.log(alpha / 2.0))
    c * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2.toDouble))
  }

  /** Pearson chi-square of observed counts vs the counts the baseline
    * proportions expect, over the [[Categorical.aligned]] walk. The
    * expectation scales by the observed total as it is (no floor).
    * Categories absent from the baseline get a pseudo-expected 0.5 count
    * (standard continuity floor) so novel categories register as drift. */
  def chiSquare(observed: CategoricalProfile, baseline: CategoricalProfile): (Double, Int) = {
    val n = observed.total.toDouble
    val bTotal = baseline.total.toDouble.max(1.0)
    val cells = Categorical.aligned(observed, baseline)
    val stat = cells.iterator.map { case (_, obs, base) =>
      val exp = math.max(base.toDouble / bTotal * n, 0.5)
      (obs - exp) * (obs - exp) / exp
    }.sum
    (stat, math.max(cells.size - 1, 1))
  }

  /** Population stability index of observed vs baseline category
    * proportions: Σ (p_obs − p_base)·ln(p_obs / p_base) over the
    * [[Categorical.shares]], with a floor of `eps` on each proportion
    * so categories empty on one side contribute a large-but-finite term
    * instead of ∞. Industry reading: < 0.1 stable, 0.1–0.25 moderate
    * shift, > 0.25 drifted. */
  def psi(observed: CategoricalProfile, baseline: CategoricalProfile,
          eps: Double = 1e-4): Double =
    Categorical.shares(observed, baseline, eps).map { case (_, po, pb) =>
      (po - pb) * math.log(po / pb)
    }.sum

  /** Per-category PSI contribution breakdown — the ACTIONABLE
    * companion to [[psi]]'s single number: which categories carry the
    * drift, ranked. Every PSI term (p_obs − p_base)·ln(p_obs/p_base)
    * is ≥ 0 (the factors share a sign), so `share` = term / Σterms is
    * a clean attribution: "0.81 of the drift is the collapse of
    * src_7". The triage step between "PSI > 0.25 fired" and knowing
    * what to do about it. Rows ordered by contribution (rounded term
    * desc, then category — deterministic).
    * Returns (category, p_obs, p_base, psi_term, share); share NULL
    * when total PSI is 0 (identical distributions). */
  def psiBreakdown(spark: org.apache.spark.sql.SparkSession,
                   observed: CategoricalProfile,
                   baseline: CategoricalProfile,
                   eps: Double = 1e-4): DataFrame = {
    import spark.implicits._
    val terms = Categorical.shares(observed, baseline, eps).map {
      case (k, po, pb) => (k, po, pb, (po - pb) * math.log(po / pb))
    }
    val total = terms.map(_._4).sum
    terms.map { case (k, po, pb, t) =>
      (k, round6(po), round6(pb), round6(t),
        if (total > 0.0) Some(round6(t / total)) else None)
    }.sortBy { case (k, _, _, t, _) => (-t, k) }
      .toDF("category", "p_obs", "p_base", "psi_term", "share")
  }

  /** Jensen–Shannon divergence between two categorical profiles over
    * their [[Categorical.shares]] (natural log; bounded [0, ln 2],
    * symmetric, defined without a proportion floor because the mixture
    * m is nonzero wherever either side is — the property that makes JSD
    * the robust companion to [[psi]], whose eps floor dominates when a
    * category exists on only one side). A zero share contributes 0
    * (the p·ln p → 0 limit). */
  def jsd(a: CategoricalProfile, b: CategoricalProfile): Double =
    Categorical.shares(a, b).iterator.map { case (_, pa, pb) =>
      val m = (pa + pb) / 2.0
      def term(p: Double) = if (p > 0.0) p * math.log(p / m) else 0.0
      (term(pa) + term(pb)) / 2.0
    }.sum

  /** Total variation distance — ½·Σ|p_k − q_k| over the
    * [[Categorical.shares]]: the TIGHT drift bound the PSI/JSD pair
    * lacks an interpretation for (TV is exactly the largest possible
    * difference in probability either distribution assigns to ANY
    * event — "no downstream rate can move by more than TV"), and the
    * metric that stays finite and floor-free on novel/vanished
    * categories. */
  def totalVariation(a: CategoricalProfile,
                     b: CategoricalProfile): Double =
    Categorical.shares(a, b).iterator.map { case (_, pa, pb) =>
      math.abs(pa - pb)
    }.sum / 2.0

  /** PSI over aligned histogram sketches (numeric flavor: bins are the
    * categories). Same proportion floor as the categorical form. */
  def psiHistogram(observed: HistogramProfile, baseline: HistogramProfile,
                   eps: Double = 1e-4): Double = {
    require(observed.counts.length == baseline.counts.length &&
      observed.lo == baseline.lo && observed.hi == baseline.hi,
      "sketches must share bin edges (fix bins from the baseline profile)")
    val no = observed.total.toDouble.max(1.0)
    val nb = baseline.total.toDouble.max(1.0)
    observed.counts.zip(baseline.counts).map { case (o, b) =>
      val po = math.max(o / no, eps)
      val pb = math.max(b / nb, eps)
      (po - pb) * math.log(po / pb)
    }.sum
  }

  /** Wilson–Hilferty approximation of the chi-square quantile — good to
    * a few percent for df ≥ 3, driver-side, dependency-free. */
  def chiSquareCritical(df: Int, alpha: Double = 0.01): Double = {
    val z = inverseNormalCdf(1.0 - alpha)
    val k = df.toDouble
    k * math.pow(1.0 - 2.0 / (9.0 * k) + z * math.sqrt(2.0 / (9.0 * k)), 3)
  }

  /** Acklam's rational approximation of the standard normal quantile. */
  def inverseNormalCdf(p: Double): Double = {
    require(p > 0 && p < 1)
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val pLow = 0.02425
    if (p < pLow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pLow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Full drift check of (numericField, categoricalField) vs baseline. */
  def check(
      df: DataFrame,
      numericField: String, numericBaseline: HistogramProfile,
      categoricalField: String, categoricalBaseline: CategoricalProfile,
      alpha: Double = 0.01): DriftVerdict = {
    val hist = numericHistogram(df, numericField,
      numericBaseline.lo, numericBaseline.hi, numericBaseline.counts.length - 2)
    val ks = ksStatistic(hist, numericBaseline)
    val ksCrit = ksCritical(hist.total, numericBaseline.total, alpha)
    val freq = categoricalFreq(df, categoricalField)
    val (chi, dof) = chiSquare(freq, categoricalBaseline)
    val chiCrit = chiSquareCritical(dof, alpha)
    DriftVerdict(ks, ksCrit, ks > ksCrit, chi, dof, chiCrit, chi > chiCrit)
  }

  // --- baseline persistence -------------------------------------------
  //
  // The north-star flow checks each snapshot against a STORED baseline
  // profile, computed once on a reference corpus and reused across runs
  // (and across the streaming path, which takes the same profiles).
  // Profiles are metadata-sized (nBins+2 longs / one row per category),
  // so they persist as tiny parquet tables — readable by any engine,
  // no bespoke serialization. Layout:
  //   <path>/histogram: (bin_idx int, count long, lo double, hi double)
  //   <path>/freq:      (value string, count long)

  def saveHistogram(spark: SparkSession, path: String, p: HistogramProfile): Unit = {
    import spark.implicits._
    p.counts.zipWithIndex
      .map { case (c, i) => (i, c, p.lo, p.hi) }.toSeq
      .toDF("bin_idx", "count", "lo", "hi")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/histogram")
  }

  def loadHistogram(spark: SparkSession, path: String): HistogramProfile = {
    val rows = spark.read.parquet(s"$path/histogram")
      .orderBy("bin_idx").collect()
    require(rows.nonEmpty, s"empty histogram baseline at $path")
    HistogramProfile(rows.head.getDouble(2), rows.head.getDouble(3),
      rows.map(_.getLong(1)))
  }

  def saveFreq(spark: SparkSession, path: String, p: CategoricalProfile): Unit = {
    import spark.implicits._
    p.freq.toSeq.sortBy(_._1).toDF("value", "count")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/freq")
  }

  def loadFreq(spark: SparkSession, path: String): CategoricalProfile =
    CategoricalProfile(spark.read.parquet(s"$path/freq")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** Ingest-volume anomaly detection — the time-axis complement of the
    * distribution drift checks above: a crawler stall, a duplicated
    * delivery, or an upstream schema break shows up FIRST as an hourly
    * volume spike/crater per source, before any content statistic
    * moves. Buckets events per (`groupCol`, hour), scores each bucket
    * against the trailing `trailing` buckets of the SAME group
    * (current excluded — a spike must not inflate its own baseline):
    * z = (n − μ_trailing) / σ_trailing, flagged when |z| ≥ `zThreshold`.
    * z is NULL (never flagged) until the trailing window has ≥ 2
    * buckets and σ > 0 — cold starts and perfectly flat history are
    * "no evidence", not anomalies.
    *
    * Scale shape: one map-side-combined count aggregate down to
    * O(groups × hours) rows, then a window partitioned BY GROUP with a
    * bounded ROWS frame — state per task is `trailing` longs, and no
    * SinglePartition sort ever appears (each source's hourly series
    * sorts within its own partition). */
  def volumeAnomalies(df: DataFrame, tsCol: String, groupCol: String,
                      trailing: Int = 6, zThreshold: Double = 2.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trailing >= 2, "volumeAnomalies: trailing window needs >= 2 buckets")
    val counts = df
      .where(col(tsCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol), date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__h"))
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("__mu", avg(col("n").cast("double")).over(w))
      .withColumn("__sd", stddev_samp(col("n").cast("double")).over(w))
      .select(col(groupCol),
        date_format(col("__h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"),
        when(col("__sd") > 0,
          round((col("n").cast("double") - col("__mu")) / col("__sd"), 6))
          .as("z"))
      .withColumn("anomaly",
        coalesce(abs(col("z")) >= zThreshold, lit(false)))
  }

  /** Day-over-day volume trend per group: daily counts with the ratio
    * to the previous PRESENT day (lag over the group's day sequence;
    * the first day's ratio is NULL — cold start, never flagged as
    * movement). The [[volumeAnomalies]] companion at day grain: z
    * scores catch spikes against local history, the ratio is the
    * human-readable movement number dashboards plot. Exchanges carry
    * (group, day, count) rows only; the lag window partitions by group
    * over the day-count-bounded daily frame, never the event stream. */
  def dailyTrend(df: DataFrame, tsCol: String,
                 groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df
      .where(col(tsCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
    daily.select(col(groupCol), col("day"), col("n"),
      round(col("n").cast("double") / lag(col("n"), 1).over(w), 6)
        .as("ratio"))
  }

  /** Day-grain PSI trend: population stability index of `catCol`'s
    * daily mix against the FIRST day's mix — [[psi]] as a monitoring
    * time series instead of a one-shot verdict (the dashboard line an
    * ingest pipeline alarms on: a category mix bending away from day
    * one is upstream drift long before volumes move). Same eps floor
    * and reading bands as [[psi]]; NULL categories group as '<null>'
    * (loud, the [[contingencyChiSquare]] convention). Returns
    * (day, n_rows, psi 6dp); day one scores 0 against itself.
    *
    * Fully in-plan, no driver stats: ONE (day, category) count
    * aggregate (map-side combined, exchange ≤ |days|·|cats| rows);
    * the baseline day is an in-plan min, the day×category grid and
    * every later join are bounded by |days|·|cats| — nothing rescans
    * or reshuffles the corpus. */
  def psiTrend(df: DataFrame, tsCol: String, catCol: String,
               eps: Double = 1e-4): DataFrame = {
    val counts = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"),
        Categorical.key(col(catCol)).as("__c"))
      .agg(count(lit(1)).as("__n"))
    val days = counts.select(col("day")).distinct()
    val cats = counts.select(col("__c")).distinct()
    val base = counts
      .join(counts.agg(min(col("day")).as("day")), Seq("day"))
      .select(col("__c"), col("__n").as("__nb"))
    val baseTot = base.agg(sum(col("__nb")).as("__tb"))
    val totals = counts.groupBy(col("day")).agg(sum(col("__n")).as("__t"))
    val po = greatest(coalesce(col("__n"), lit(0L)).cast("double") /
      col("__t").cast("double"), lit(eps))
    val pb = greatest(coalesce(col("__nb"), lit(0L)).cast("double") /
      col("__tb").cast("double"), lit(eps))
    days.crossJoin(cats)
      .join(counts, Seq("day", "__c"), "left")
      .join(broadcast(base), Seq("__c"), "left")
      .join(totals, Seq("day"))
      .crossJoin(broadcast(baseTot))
      .groupBy(col("day"))
      .agg(max(col("__t")).as("n_rows"),
        round(sum((po - pb) * log(po / pb)), 6).as("psi"))
  }

  /** Two-way contingency chi-square of independence between two
    * categorical columns — the CONDITIONAL mix-shift detector: the
    * marginal source and language frequencies can both be stable while
    * their joint distribution drifts (a source silently switching
    * language), which is exactly what per-column drift checks miss.
    * Fully in-plan: the [[Categorical.chiSquare]] of the
    * [[Categorical.table]]. Returns (n, dof, chi_square) — compare
    * against [[chiSquareCritical]](dof) for the verdict; NULL n and dof
    * on an empty input. */
  def contingencyChiSquare(df: DataFrame, colA: String,
                           colB: String): DataFrame =
    Categorical.chiSquare(Categorical.table(df, colA, colB))
      .select(col("n"),
        when(col("r") > 0, (col("r") - 1) * (col("c") - 1)).as("dof"),
        round(col("chi"), 6).as("chi_square"))

  /** Cohen's kappa between two categorical label columns — the
    * inter-annotator-agreement gate for labeled / preference / SFT
    * data: raw agreement p_o overstates quality when the label
    * distribution is skewed (two annotators who always answer the
    * majority class "agree" constantly); kappa rescales by the
    * chance-agreement floor p_e = Σ_c p_a(c)·p_b(c). Verdict bands
    * (Landis & Koch): < 0.4 poor, 0.4–0.6 moderate, 0.6–0.8
    * substantial, > 0.8 near-perfect — a labeling pipeline gating on
    * raw p_o instead of kappa ships skew as quality.
    *
    * Over the [[Categorical.table]], one final 1-row reduce. A NULL
    * label is a category — "annotator declined" agreeing with
    * "annotator declined" is real agreement, not discarded rows. Degenerate
    * p_e = 1 (both columns constant and equal) returns kappa 1.0 when
    * agreement is total, 0.0 otherwise (the 0/0 convention, pinned by
    * test). Returns (n, p_o, p_e, kappa), each rounded 6. */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val Categorical.Table(cnt, ra, cb) = Categorical.table(df, colA, colB)
    // chance agreement pairs category c of A with category c of B —
    // an inner join of the margins on the label VALUE
    val pe = ra.join(cb, col("__a") === col("__b"))
      .crossJoin(broadcast(cnt.agg(sum(col("__n")).as("__t"))))
      .agg(coalesce(sum(col("__na").cast("double") / col("__t") *
        (col("__nb").cast("double") / col("__t"))), lit(0.0)).as("p_e"))
    val po = cnt.agg(
      sum(col("__n")).as("n"),
      (sum(when(col("__a") === col("__b"), col("__n")).otherwise(0L))
        .cast("double") / sum(col("__n"))).as("p_o"))
    po.crossJoin(broadcast(pe))
      .select(col("n"), round(col("p_o"), 6).as("p_o"),
        round(col("p_e"), 6).as("p_e"),
        round(when(col("p_e") >= 1.0,
            when(col("p_o") >= 1.0, 1.0).otherwise(0.0))
          .otherwise((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))), 6)
          .as("kappa"))
  }

  /** Per-stream freshness / staleness audit — the ingestion-health
    * view a validation pass runs BEFORE trusting a snapshot: for each
    * value of `keyCol` (source, event type, feed), the event count,
    * first/last timestamp, staleness in seconds behind the NEWEST
    * event anywhere in the table, and the mean arrival rate over the
    * stream's own active span. A feed whose staleness_s suddenly
    * exceeds its historical inter-arrival scale has stopped — caught
    * here as data, not as a 3 a.m. downstream join regression. NULL
    * timestamps are excluded per stream (they carry no arrival
    * information); NULL keys form their own '<null>' stream —
    * surfaced, never dropped.
    *
    * ONE map-side-combined (key → count/min/max) aggregate + a
    * broadcast 1-row global max — shuffle is O(keys), the global max
    * re-reduces the per-key maxima rather than rescanning. Rate over a
    * zero-width span (single event) is NULL, not infinity. Returns
    * (key, n_events, first_ts, last_ts, staleness_s,
    * events_per_hour round 6). */
  def freshness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val perKey = df.where(col(tsCol).isNotNull)
      .groupBy(Categorical.key(col(keyCol)).as(keyCol))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts"))
    val global = perKey.agg(max(col("last_ts")).as("__gmax"))
    // NTZ-safe epoch seconds: TIMESTAMP_NTZ casts to DOUBLE only via an
    // LTZ hop (session-tz offset — constant, so it cancels in every
    // difference below; no absolute epoch is ever emitted)
    def secs(c: Column): Column = c.cast("timestamp").cast("double")
    val span = secs(col("last_ts")) - secs(col("first_ts"))
    perKey.crossJoin(broadcast(global))
      .select(col(keyCol), col("n_events"), col("first_ts"), col("last_ts"),
        round(secs(col("__gmax")) - secs(col("last_ts")), 6)
          .as("staleness_s"),
        when(span > 0,
          round(col("n_events").cast("double") / (span / 3600.0), 6))
          .as("events_per_hour"))
      .orderBy(col(keyCol))
  }

  /** QQ-plot data for two cohorts of one numeric column: matched exact
    * quantiles at the given probabilities plus their gap — the
    * OBSERVABILITY companion to the one-number drift statistics
    * ([[ksTest]] says "the distributions differ"; the QQ rows say
    * WHERE — body vs tail — which decides whether anyone cares).
    *
    * Each side is ONE exact-`percentile` aggregate (two-level partial
    * merge; swap `approx_percentile` past memory bounds), unpacked by
    * a stateless posexplode and joined on quantile index — never a
    * per-probability rescan. Dyadic probabilities over integer-valued
    * doubles interpolate bit-exactly cross-engine (the
    * q_len_percentiles argument), which is why callers should feed
    * integer-valued columns (cents, counts, seconds). */
  /** Theil–Sen robust trend over a SMALL aggregated series (daily
    * counts, hourly rates — O(points) by construction): slope = median
    * of all pairwise slopes, intercept = median of (y − slope·x). One
    * outlier day barely moves it, where the OLS fit of a spike day is
    * garbage — the robust companion to the least-squares trend. The
    * series is collected (require-capped at `maxPoints`, the bounded-
    * observability contract every trend operator here shares) and the
    * O(points²) slope set is driver arithmetic; both medians are exact
    * middle statistics over identically-computed doubles, so SQL
    * replays them bit-exactly. Null x/y points are excluded; returns
    * (n_points, slope, intercept) — n_points < 2 → null trend. */
  def theilSenTrend(df: DataFrame, xCol: String, yCol: String,
                    maxPoints: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double"), col(yCol).cast("double"))
      .limit(maxPoints + 1).collect()
    require(rows.length <= maxPoints,
      s"theilSenTrend: series exceeds maxPoints=$maxPoints — aggregate " +
      "first (this is a trend over a SMALL series, not a table scan)")
    val pts = rows.map(r => (r.getDouble(0), r.getDouble(1)))
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    import spark.implicits._
    if (pts.length < 2)
      return Seq((pts.length.toLong, Option.empty[Double],
        Option.empty[Double])).toDF("n_points", "slope", "intercept")
    val slopes = for {
      i <- pts.indices.toArray; j <- (i + 1) until pts.length
      if pts(i)._1 != pts(j)._1
    } yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)
    require(slopes.nonEmpty, "theilSenTrend: all x values identical")
    val slope = median(slopes)
    val intercept = median(pts.map { case (x, y) => y - slope * x })
    Seq((pts.length.toLong, Some(slope), Some(intercept)))
      .toDF("n_points", "slope", "intercept")
  }

  /** Truncated rank-biased overlap (Webber et al., TOIS 2010) between
    * two top-k rankings: RBO@k = (1−p)·Σ_{d=1..k} p^(d−1)·X_d/d, with
    * X_d = |prefix_d(A) ∩ prefix_d(B)| — the top-weighted answer to
    * "did the quality scorer's ranking MOVE?" that plain set-overlap
    * can't give (rank 1↔2 swaps barely matter, head↔tail swaps
    * dominate). Truncated form (no residual extrapolation): ∈ [0,
    * 1−p^k... 1], 1 = identical prefixes. Inputs are two (id, rank)
    * frames with ranks 1..k — O(k) by construction (rank with
    * TakeOrdered + a window over the k-frame, never the corpus); the
    * whole computation is one O(k) join + cumsum window + weighted
    * sum. An element in only one ranking contributes to no X_d. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
                        rankCol: String, k: Int,
                        p: Double = 0.9): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(p > 0 && p < 1, "p in (0, 1)")
    import org.apache.spark.sql.expressions.Window
    val ra = a.select(col(idCol).as("__id"), col(rankCol).as("__ra"))
      .where(col("__ra") <= k)
    val rb = b.select(col(idCol).as("__id"), col(rankCol).as("__rb"))
      .where(col("__rb") <= k)
    // element visible in both prefixes from depth max(ra, rb) on
    val joint = ra.join(rb, Seq("__id"))
      .select(greatest(col("__ra"), col("__rb")).as("__m"))
      .groupBy(col("__m")).agg(count(lit(1)).as("__c"))
    val spark = a.sparkSession
    import spark.implicits._
    val depths = (1 to k).map(_.toLong).toDF("__d")
    val w = Window.orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, 0) // O(k) frame only
    depths.join(joint, col("__d") === col("__m"), "left")
      .withColumn("__x", sum(coalesce(col("__c"), lit(0L))).over(w))
      .select(sum(
        lit(1.0 - p) * pow(lit(p), col("__d") - 1) *
          (col("__x").cast("double") / col("__d").cast("double")))
        .as("rbo"),
        max(col("__x")).as("n_common"))
      .select(round(col("rbo"), 6).as("rbo"), col("n_common"),
        lit(k.toLong).as("k"))
  }

  /** Lag-k autocorrelation of event volume — the seasonality /
    * batch-periodicity QC behind "is ingest volume daily-cyclic?" and
    * "did a collector start double-firing every other hour?": bucket
    * timestamps to `bucketSecs`, count rows per bucket, and for each
    * requested lag compute the sample autocorrelation r_k =
    * Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)² over the pairs k buckets apart
    * (daily cycle ⇒ r_24 spikes on hourly buckets).
    *
    * Scale shape: ONE count aggregate collapses the corpus to the
    * O(buckets) frame; each lag's pairs come from a hash self-join on
    * bucket+lag over that frame (identical aggregate subplan on both
    * sides — ReusedExchange, not a second scan), never a global
    * ordered window. EMPTY buckets are absent, so pairs spanning a
    * gap are skipped, not zero-filled (surfaced via n_pairs; lags
    * with no pairs keep their row with r = NULL). All sums are
    * integer-exact; r derives from them through fixed IEEE expression
    * order — bit-exact in SQL. */
  def autocorrelation(df: DataFrame, timeCol: String, lags: Seq[Int],
                      bucketSecs: Long = 3600L): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0), "lags must be positive")
    require(bucketSecs > 0, "bucketSecs must be positive")
    val spark = df.sparkSession
    val counts = df.where(col(timeCol).isNotNull)
      // NTZ-safe epoch seconds: cast through TIMESTAMP (session TZ is
      // UTC, so NTZ wall-clock == epoch — same as the qqShift spelling)
      .select((col(timeCol).cast("timestamp").cast("long") /
        lit(bucketSecs)).cast("long").as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__x"))
    import spark.implicits._
    val lagsDf = lags.map(_.toLong).toDF("lag")
    val pairs = counts.crossJoin(broadcast(lagsDf))
      .join(counts.select(col("__b").as("__b2"), col("__x").as("__y")),
        col("__b") + col("lag") === col("__b2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"))
    val global = counts.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__s"), sum(col("__x") * col("__x")).as("__q"))
    val mu = col("__s").cast("double") / col("__n").cast("double")
    val denom = col("__q").cast("double") -
      col("__n").cast("double") * mu * mu
    val num = col("__sxy").cast("double") -
      mu * col("__sx").cast("double") - mu * col("__sy").cast("double") +
      col("n_pairs").cast("double") * mu * mu
    lagsDf.join(pairs, Seq("lag"), "left")
      .crossJoin(broadcast(global))
      .select(col("lag"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("n_pairs").isNotNull && denom > 0, round(num / denom, 6))
          .otherwise(lit(null).cast("double")).as("r"))
      .orderBy(col("lag"))
  }

  def qqQuantiles(dfA: DataFrame, dfB: DataFrame, valueCol: String,
                  probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "qqQuantiles needs at least one probability")
    // exact `percentile` merges every partition's value->count map on
    // ONE final reducer — a single task sorting ~distinct(value)
    // entries. When the distinct count fits the driver histogram
    // budget, a map-side-combined group-by-value histogram + the
    // identical interpolation arithmetic driver-side answers all
    // probabilities from one parallel pass; high-cardinality columns
    // keep the buffered aggregate (same trade as kthSmallestLongs'
    // span guard — no unbounded driver collect).
    def side(df: DataFrame, out: String): DataFrame = {
      val spark = df.sparkSession
      val v = col(valueCol).cast("double")
      val maxHist = 1 << 20
      // limit-capped collect doubles as the cardinality guard: one
      // distributed histogram job, and only a cap overflow (or an
      // empty side) pays the buffered-percentile fallback
      val rows = df.where(v.isNotNull).groupBy(v.as("__v"))
        .agg(count(lit(1)).as("__n"))
        .limit(maxHist + 1).collect()
      val qs: Seq[Double] =
        if (rows.nonEmpty && rows.length <= maxHist) {
          exactPercentilesFromHistogram(
            rows.map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1),
            probs)
        } else {
          Option(df.agg(
              expr(s"percentile(CAST(`$valueCol` AS DOUBLE), array(" +
                probs.map(p => s"${p}D").mkString(", ") + "))").as("__qs"))
            .head().getSeq[Double](0)).getOrElse(Nil)
        }
      import spark.implicits._
      qs.zipWithIndex.map { case (q, i) => (i, q) }.toDF("__i", out)
    }
    side(dfA, "q_a").join(side(dfB, "q_b"), Seq("__i"))
      .select(
        element_at(lit(probs.toArray), col("__i") + 1).as("p"),
        col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("diff"))
      .orderBy("p")
  }

  /** SQL `percentile` interpolation over a sorted (value, count)
    * histogram — the EXACT arithmetic Spark's Percentile aggregate
    * applies to its own value->count buffer (position = p·(n−1),
    * result = (⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi), so the histogram
    * fast path above is bit-identical to the buffered aggregate. */
  private def exactPercentilesFromHistogram(
      hist: Array[(Double, Long)], probs: Seq[Double]): Seq[Double] =
    exactPercentilesFromArrays(hist.map(_._1), hist.map(_._2), probs)

  /** In-place quicksort of three parallel arrays by the key column —
    * java.lang.Double.compare order, exactly the Ordering a boxed
    * tuple sortBy applies (NaN last, -0.0 < 0.0). It recurses into the
    * smaller side of each partition and loops on the larger one, so the
    * stack depth stays below log2(n) on any input. */
  private[graft] def sortHistByKey(keys: Array[Double], a: Array[Long],
                                   b: Array[Long]): Unit = {
    def swap(i: Int, j: Int): Unit = {
      val k = keys(i); keys(i) = keys(j); keys(j) = k
      val x = a(i); a(i) = a(j); a(j) = x
      val y = b(i); b(i) = b(j); b(j) = y
    }
    def sort(from: Int, to: Int): Unit = {
      var lo = from; var hi = to
      while (hi - lo >= 16) {
        // median-of-three pivot, Hoare partition
        val mid = (lo + hi) >>> 1
        if (java.lang.Double.compare(keys(mid), keys(lo)) < 0) swap(mid, lo)
        if (java.lang.Double.compare(keys(hi), keys(lo)) < 0) swap(hi, lo)
        if (java.lang.Double.compare(keys(hi), keys(mid)) < 0) swap(hi, mid)
        val pivot = keys(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (java.lang.Double.compare(keys(i), pivot) < 0) i += 1
          while (java.lang.Double.compare(keys(j), pivot) > 0) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (j - lo < hi - i) { sort(lo, j); lo = i } else { sort(i, hi); hi = j }
      }
      var i = lo + 1
      while (i <= hi) {
        var j = i
        while (j > lo &&
            java.lang.Double.compare(keys(j - 1), keys(j)) > 0) {
          swap(j - 1, j); j -= 1
        }
        i += 1
      }
    }
    if (keys.length > 1) sort(0, keys.length - 1)
  }

  private def exactPercentilesFromArrays(
      keys: Array[Double], counts: Array[Long],
      probs: Seq[Double]): Seq[Double] = {
    require(keys.nonEmpty, "percentile of an empty column")
    val cum = new Array[Long](keys.length)
    var acc = 0L
    var i = 0
    while (i < keys.length) { acc += counts(i); cum(i) = acc; i += 1 }
    val n = acc
    def keyAtRank(rank: Long): Double = {
      // first index with cum(idx) >= rank
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cum(mid) >= rank) hi = mid else lo = mid + 1
      }
      keys(lo)
    }
    probs.map { p =>
      val position = p * (n - 1)
      val lower = position.floor.toLong
      val higher = position.ceil.toLong
      val lowerKey = keyAtRank(lower + 1)
      if (higher == lower) lowerKey
      else {
        val higherKey = keyAtRank(higher + 1)
        if (higherKey == lowerKey) lowerKey
        else (higher - position) * lowerKey + (position - lower) * higherKey
      }
    }
  }

  /** One-scan [[qqQuantiles]] for the common case where the two samples
    * are predicate slices of the SAME frame: qqQuantiles(df.where(a),
    * df.where(b), ...) runs two separate collect jobs, and exchange
    * reuse never crosses a job boundary, so the source is scanned
    * twice. Here both group-by-value histograms ride ONE scan /
    * exchange / collect (conditional counts per value), and the same
    * driver-side Percentile interpolation answers every probability
    * for each side — bit-identical to the two-frame spelling by
    * construction (pinned by a differential test). Past the histogram
    * budget (or for an empty side) the fallback is still one job: two
    * conditional `percentile` aggregates in a single action. */
  def qqQuantilesSplit(df: DataFrame, condA: Column, condB: Column,
                       valueCol: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "qqQuantilesSplit needs at least one probability")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val maxHist = 1 << 20
    // limit-capped collect doubles as the cardinality guard (the
    // qqQuantiles convention); zero-count values for a side are
    // filtered per side below, so the per-side histograms equal the
    // ones the two-frame spelling builds
    val rows = df.where(v.isNotNull && (condA || condB))
      .groupBy(v.as("__v"))
      .agg(sum(when(condA, lit(1L)).otherwise(lit(0L))).as("__na"),
        sum(when(condB, lit(1L)).otherwise(lit(0L))).as("__nb"))
      .limit(maxHist + 1).collect()
    val (qsA, qsB): (Seq[Double], Seq[Double]) =
      if (rows.nonEmpty && rows.length <= maxHist) {
        // primitive parallel-array sort: the boxed tuple sortBy was
        // measured at 0.42 s of the 1.2 s query at sf0.1 (583k rows);
        // java.lang.Double.compare == the Ordering a tuple sortBy uses
        val n = rows.length
        val keys = new Array[Double](n)
        val na = new Array[Long](n)
        val nb = new Array[Long](n)
        var i = 0
        while (i < n) {
          val r = rows(i)
          keys(i) = r.getDouble(0); na(i) = r.getLong(1)
          nb(i) = r.getLong(2); i += 1
        }
        sortHistByKey(keys, na, nb)
        def sideQs(counts: Array[Long]): Seq[Double] = {
          var m = 0; var j = 0
          while (j < n) { if (counts(j) > 0) m += 1; j += 1 }
          if (m == 0) Nil
          else {
            val ks = new Array[Double](m); val cs = new Array[Long](m)
            var o = 0; j = 0
            while (j < n) {
              if (counts(j) > 0) { ks(o) = keys(j); cs(o) = counts(j); o += 1 }
              j += 1
            }
            exactPercentilesFromArrays(ks, cs, probs)
          }
        }
        (sideQs(na), sideQs(nb))
      } else {
        // one job, two buffered percentile aggregates over conditional
        // values (percentile ignores null inputs, so each equals the
        // aggregate over the pre-filtered side)
        val pArr = "array(" + probs.map(p => s"${p}D").mkString(", ") + ")"
        val r = df.select(v.as("__v"), condA.as("__ca"), condB.as("__cb"))
          .agg(
            expr(s"percentile(CASE WHEN __ca THEN __v END, $pArr)")
              .as("__qa"),
            expr(s"percentile(CASE WHEN __cb THEN __v END, $pArr)")
              .as("__qb"))
          .head()
        (Option(r.getSeq[Double](0)).getOrElse(Nil),
          Option(r.getSeq[Double](1)).getOrElse(Nil))
      }
    import spark.implicits._
    val a = qsA.zipWithIndex.map { case (q, i) => (i, q) }.toDF("__i", "q_a")
    val b = qsB.zipWithIndex.map { case (q, i) => (i, q) }.toDF("__i", "q_b")
    a.join(b, Seq("__i"))
      .select(
        element_at(lit(probs.toArray), col("__i") + 1).as("p"),
        col("q_a"), col("q_b"),
        (col("q_b") - col("q_a")).as("diff"))
      .orderBy("p")
  }

  /** CUSUM changepoint scan over bucketed event volume — WHERE did the
    * ingest rate shift (the [[volumeAnomalies]] z-score flags a spiky
    * DAY; CUSUM localizes a LEVEL CHANGE): per bucket the cumulative
    * deviation from the global mean, Sᵢ = Σ_{j≤i}(xⱼ − x̄), which
    * drifts near zero under a stable rate and turns into a ramp with
    * its extremum AT the changepoint. Returns per present bucket
    * (bucket, n_events, cusum, is_peak) with is_peak marking the
    * earliest bucket attaining max |S| — the changepoint estimate.
    * Absent buckets contribute nothing (documented; a zero-volume
    * outage shows as the ramp itself).
    *
    * Determinism: Sᵢ is computed as cum_xᵢ − i·x̄ — ONE integer
    * cumulative (exact), one multiply, one subtract — never a
    * sequential double accumulation, so both engines produce
    * bit-identical doubles and the argmax can't flip. The ordered
    * window runs over the O(buckets) frame, never the corpus. */
  def cusum(df: DataFrame, timeCol: String,
            bucketSecs: Long = 86400L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSecs > 0, "bucketSecs must be positive")
    val counts = df.where(col(timeCol).isNotNull)
      .select((col(timeCol).cast("timestamp").cast("long") /
        lit(bucketSecs)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_events"))
    val tot = counts.agg(sum(col("n_events")).as("__t"),
      count(lit(1)).as("__d"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wr = Window.orderBy(col("bucket"))
    val scored = counts
      .withColumn("__cum", sum(col("n_events")).over(w))
      .withColumn("__rn", row_number().over(wr))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_events"),
        (col("__cum").cast("double") -
          col("__rn").cast("double") *
            (col("__t").cast("double") / col("__d").cast("double")))
          .as("__s"))
    val peak = scored.agg(max(abs(col("__s"))).as("__m"))
    val peakBucket = scored.crossJoin(broadcast(peak))
      .where(abs(col("__s")) === col("__m"))
      .agg(min(col("bucket")).as("__pb"))
    scored.crossJoin(broadcast(peakBucket))
      .select(col("bucket"), col("n_events"),
        round(col("__s"), 6).as("cusum"),
        (col("bucket") === col("__pb")).as("is_peak"))
      .orderBy(col("bucket"))
  }

  /** Cramér's V association between two categorical columns — the
    * "are these two labels redundant" check (lang ⇄ source, split ⇄
    * quality-band) that chi-square alone can't answer because its
    * magnitude scales with n: V = √(χ²/(n·(min(r,c)−1))) ∈ [0, 1],
    * from the [[Categorical.chiSquare]] of the [[Categorical.table]].
    * Returns one row (n, r, c, chi_square, cramers_v); V is NULL for a
    * degenerate 1×c / r×1 table. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val k = least(col("r"), col("c"))
    Categorical.chiSquare(Categorical.table(df, aCol, bCol)).select(
      col("n"), col("r"), col("c"),
      round(col("chi"), 6).as("chi_square"),
      when(k > 1, round(sqrt(col("chi") /
        (col("n").cast("double") * (k - 1).cast("double"))), 6))
        .as("cramers_v"))
  }

  /** Kullback–Leibler divergence KL(observed ‖ baseline) between two
    * categorical profiles over their [[Categorical.shares]], with the
    * same eps proportion floor as [[psi]] so categories on only one
    * side stay finite. The DIRECTIONAL companion to [[psi]]/[[jsd]]: KL
    * is what importance weighting (DSIR) and cross-entropy monitoring
    * actually bound, so drift dashboards report it alongside the
    * symmetric stats. */
  def kl(observed: CategoricalProfile, baseline: CategoricalProfile,
         eps: Double = 1e-4): Double =
    Categorical.shares(observed, baseline, eps).map { case (_, po, pb) =>
      po * math.log(po / pb)
    }.sum

  /** Welch's unequal-variance t-test of each group's numeric
    * distribution against its complement (all other rows) — the
    * "which slice moved the mean" verdict the KS family can't give
    * because KS answers shape, not location, and pooled-variance t
    * assumes homoscedasticity that per-source corpora never satisfy.
    *
    * ONE map-side-combined aggregate computes per-group sufficient
    * statistics (n, Σx, Σx²); the grand totals and every group-vs-rest
    * statistic are O(groups) driver arithmetic — rows never shuffle,
    * and the complement needs no second scan because its stats are
    * grand − group. On integer-valued columns the sums are exact in
    * double (order-independent), so the t statistic is bit-stable and
    * SQL-replicable with the identical expression order:
    * var = (Σx² − (Σx)²/n)/(n−1), t = (μa−μb)/√(va/na + vb/nb),
    * df by Welch–Satterthwaite. Groups (or complements) with n < 2
    * yield NULL t/df rather than ±Inf. NULL group keys bucket to
    * '<null>'; NULL values are excluded (count surfaced upstream by
    * the profile pass). */
  /** Per-group (n, Σx, Σx²) sufficient statistics — ONE map-side
    * combined aggregate, collected (O(groups)) in sorted group order
    * for bit-stable driver arithmetic. Shared by [[welchT]] /
    * [[effectSizes]]. */
  private def groupSufficientStats(
      df: DataFrame, groupCol: String,
      valueCol: String): Array[(String, Long, Double, Double)] = {
    val v = col(valueCol).cast("double")
    df.where(col(valueCol).isNotNull)
      .groupBy(Categorical.key(col(groupCol)).as("g"))
      .agg(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("ss"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
  }

  private def sampleVariance(n: Long, s: Double, ss: Double): Double =
    (ss - s * s / n) / (n - 1).toDouble

  def welchT(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val stats = groupSufficientStats(df, groupCol, valueCol)
    val gn = stats.map(_._2).sum
    val gs = stats.map(_._3).sum
    val gss = stats.map(_._4).sum
    def variance(n: Long, s: Double, ss: Double): Double =
      sampleVariance(n, s, ss)
    import spark.implicits._
    stats.toSeq.map { case (g, na, sa, ssa) =>
      val nb = gn - na; val sb = gs - sa; val ssb = gss - ssa
      if (na < 2 || nb < 2) (g, na, nb, None: Option[Double], None: Option[Double])
      else {
        val ma = sa / na; val mb = sb / nb
        val va = variance(na, sa, ssa); val vb = variance(nb, sb, ssb)
        val se2 = va / na + vb / nb
        val t = (ma - mb) / math.sqrt(se2)
        val dfw = se2 * se2 /
          ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1))
        (g, na, nb,
          Some(round6(t)),
          Some(round6(dfw)))
      }
    }.toDF(groupCol, "n_a", "n_b", "t_stat", "welch_df")
  }

  /** Cohen's d / Hedges' g effect size of each group vs its complement
    * — the magnitude companion [[welchT]] needs at corpus scale, where
    * n is so large that EVERY slice is "statistically significant" and
    * the only actionable question is how BIG the shift is (the
    * standard t-test-at-scale failure mode). d = (μa−μb)/s_pooled with
    * s_pooled² = ((na−1)va + (nb−1)vb)/(na+nb−2); g applies Hedges'
    * small-sample correction (1 − 3/(4(na+nb)−9)). Same ONE
    * sufficient-stats aggregate as [[welchT]] (shared helper),
    * complements free, driver arithmetic in sorted group order.
    * Degenerate groups (n < 2 on either side, zero pooled variance)
    * yield NULL. */
  def effectSizes(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val stats = groupSufficientStats(df, groupCol, valueCol)
    val gn = stats.map(_._2).sum
    val gs = stats.map(_._3).sum
    val gss = stats.map(_._4).sum
    import spark.implicits._
    stats.toSeq.map { case (g, na, sa, ssa) =>
      val nb = gn - na; val sb = gs - sa; val ssb = gss - ssa
      if (na < 2 || nb < 2)
        (g, na, nb, None: Option[Double], None: Option[Double])
      else {
        val ma = sa / na; val mb = sb / nb
        val va = sampleVariance(na, sa, ssa)
        val vb = sampleVariance(nb, sb, ssb)
        val sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2).toDouble
        if (sp2 <= 0.0) (g, na, nb, None: Option[Double], None: Option[Double])
        else {
          val d = (ma - mb) / math.sqrt(sp2)
          val gHedges = d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))
          (g, na, nb, Some(round6(d)), Some(round6(gHedges)))
        }
      }
    }.toDF(groupCol, "n_a", "n_b", "cohens_d", "hedges_g")
  }

  /** Mann–Whitney U test (two-sided normal approximation, tie-corrected,
    * no continuity correction) of the `isA` subset against the rest on
    * a numeric column — the NONPARAMETRIC location test for the heavy
    * tails and outliers that make [[welchT]]'s mean shift unreliable on
    * raw web-corpus lengths.
    *
    * Exact global ranks without a global sort: ONE value-keyed
    * aggregate collapses the column to O(distinct values) rows of
    * (value, n_A, n_total); average ranks, the rank sum, and the tie
    * correction are then driver arithmetic over that metadata-sized
    * frame in ascending value order — the right shape for integer-ish
    * signals (lengths, token counts) where distinct ≪ rows. Counts and
    * half-integer average ranks are exact in double, so U and the rank
    * sum are bit-stable and SQL-replicable:
    * U = R_A − n_A(n_A+1)/2, σ² = (n_A n_B/12)(N+1 − Σ(t³−t)/(N(N−1))),
    * z = (U − n_A n_B/2)/σ. Degenerate inputs (either side empty, or
    * all values tied so σ = 0) yield NULL z. */
  def mannWhitneyU(df: DataFrame, valueCol: String, isA: Column): DataFrame = {
    val spark = df.sparkSession
    val rows = df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("na"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nA = rows.map(_._2).sum
    val nTot = rows.map(_._3).sum
    val nB = nTot - nA
    var cum = 0L
    var rankSumA = 0.0
    var tieTerm = 0.0
    rows.foreach { case (_, na, n) =>
      val avgRank = cum + (n + 1) / 2.0
      rankSumA += na * avgRank
      tieTerm += n.toDouble * n * n - n
      cum += n
    }
    import spark.implicits._
    if (nA == 0L || nB == 0L)
      return Seq((nA, nB, None: Option[Double], None: Option[Double]))
        .toDF("n_a", "n_b", "u_stat", "z_stat")
    val u = rankSumA - nA.toDouble * (nA + 1) / 2.0
    val mu = nA.toDouble * nB / 2.0
    val sigma2 = nA.toDouble * nB / 12.0 *
      (nTot + 1.0 - tieTerm / (nTot.toDouble * (nTot - 1)))
    val z =
      if (sigma2 <= 0.0) None
      else Some(round6((u - mu) / math.sqrt(sigma2)))
    Seq((nA, nB,
      Some(round6(u)),
      z)).toDF("n_a", "n_b", "u_stat", "z_stat")
  }

  /** Brown–Forsythe test (Levene's test with the median center) for
    * equality of VARIANCES across groups — the dispersion drift that
    * mean/rank tests miss: a source whose lengths keep their mean but
    * fan out (template mixing, truncation bugs) trips this and nothing
    * else. The median center is the published robust choice
    * (Brown & Forsythe 1974) for skewed corpus signals.
    *
    * Two bounded passes: (1) per-group centers — exact `median` when
    * `exact` (the oracle mode), `approx_percentile` otherwise (the
    * bounded-memory scale mode, same trade documented on
    * Profile.robustOutliers); (2) per-group sufficient stats (n, Σz,
    * Σz²) of z = |x − center_g| after an O(groups) broadcast join.
    * The one-way ANOVA F on z is driver arithmetic in sorted group
    * order: F = [Σnᵍ(z̄ᵍ−z̄)²/(k−1)] / [Σ(zᵢⱼ−z̄ᵍ)²/(N−k)]. On
    * integer-valued columns z has at worst .5 fractions, so Σz / Σz²
    * are exact in double and the statistic is SQL-replicable. Returns
    * one row (n, k, f_stat, df1, df2); NULL F when k < 2 or N ≤ k. */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: String,
                    exact: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val g = Categorical.key(col(groupCol))
    val v = col(valueCol).cast("double")
    val base = df.where(col(valueCol).isNotNull)
    val centers = base.groupBy(g.as("__bf_g")).agg(
      (if (exact) median(v) else percentile_approx(v, lit(0.5), lit(10000)))
        .as("__bf_center"))
    val z = abs(v - col("__bf_center"))
    val stats = base
      .join(broadcast(centers), g === col("__bf_g"))
      .groupBy(col("__bf_g"))
      .agg(count(lit(1)).as("n"), sum(z).as("s"), sum(z * z).as("ss"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val k = stats.length
    val n = stats.map(_._2).sum
    import spark.implicits._
    if (k < 2 || n <= k)
      return Seq((n, k, None: Option[Double], k - 1, n - k))
        .toDF("n", "k", "f_stat", "df1", "df2")
    val grandMean = stats.map(_._3).sum / n
    val ssb = stats.map { case (_, ng, sg, _) =>
      val d = sg / ng - grandMean; ng * d * d
    }.sum
    val ssw = stats.map { case (_, ng, sg, ssg) => ssg - sg * sg / ng }.sum
    val f =
      if (ssw <= 0.0) None
      else Some(round6((ssb / (k - 1)) / (ssw / (n - k))))
    Seq((n, k, f, k - 1, n - k)).toDF("n", "k", "f_stat", "df1", "df2")
  }

  /** EWMA control chart over daily event volume (Roberts 1959; the
    * standard small-persistent-shift monitor — CUSUM's companion:
    * CUSUM localizes a changepoint, EWMA flags sustained low-level
    * drift in ingest volume before a threshold alert would fire).
    *
    * One calendar-day count aggregate (map-side combined, O(days)
    * result), then closed-form driver arithmetic in ascending day
    * order over the metadata-sized series — the recursion
    * z_t = λx_t + (1−λ)z_{t−1} is expanded to its closed form
    * z_t = z₀(1−λ)^t + Σᵢ₌₁..t xᵢλ(1−λ)^(t−i) so an SQL replica can
    * compute the identical terms. Center z₀ and σ come from the
    * series' own mean / textbook sample stddev (exact integer sums).
    * Control limits are the time-varying exact-variance form:
    * z₀ ± Lσ√(λ/(2−λ)·(1−(1−λ)^{2t})). Flags rows where the EWMA
    * statistic exits the band. */
  def ewmaChart(df: DataFrame, tsCol: String, lambda: Double = 0.2,
                l: Double = 3.0): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, "lambda must be in (0, 1]")
    val spark = df.sparkSession
    val daily = df
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getDate(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    val t = daily.length
    import spark.implicits._
    if (t == 0)
      return Seq.empty[(java.sql.Date, Long, Double, Double, Double, Boolean)]
        .toDF("day", "x", "ewma", "lcl", "ucl", "out_of_control")
    val xs = daily.map(_._2.toDouble)
    val z0 = xs.sum / t
    val sigma =
      if (t < 2) 0.0
      else math.sqrt((xs.map(x => x * x).sum - xs.sum * xs.sum / t) / (t - 1))
    val rows = daily.zipWithIndex.map { case ((day, x), i0) =>
      val ti = i0 + 1
      var acc = z0 * math.pow(1.0 - lambda, ti.toDouble)
      var i = 1
      while (i <= ti) {
        acc += xs(i - 1) * lambda * math.pow(1.0 - lambda, (ti - i).toDouble)
        i += 1
      }
      val band = l * sigma *
        math.sqrt(lambda / (2.0 - lambda) *
          (1.0 - math.pow(1.0 - lambda, 2.0 * ti)))
      (day, x, round6(acc), round6(z0 - band), round6(z0 + band),
        acc < z0 - band || acc > z0 + band)
    }
    rows.toSeq.toDF("day", "x", "ewma", "lcl", "ucl", "out_of_control")
  }

  /** Krippendorff's alpha (nominal data) — the inter-annotator
    * agreement statistic that, unlike [[cohenKappa]], handles ANY
    * number of raters AND missing ratings (every real labeling job has
    * both: pools of annotators, nobody rates everything). Ratings are
    * (item, rater, value) rows; items with fewer than 2 non-null
    * ratings carry no agreement information and are excluded (that is
    * the statistic's definition, not a silent drop — `n_items_used` is
    * returned beside the total).
    *
    * Computation (Krippendorff 2004, the coincidence-matrix form):
    * within each item, every ordered pair of ratings by DISTINCT raters
    * contributes weight 1/(m_i − 1) to coincidence cell (c, c'); then
    * with marginals n_c and n = Σ n_c,
    *   D_o = Σ_{c≠c'} o_{cc'} / n,
    *   D_e = Σ_{c≠c'} n_c·n_{c'} / (n(n−1)),
    *   α = 1 − D_o / D_e.
    * Perfect agreement → 1; chance level → 0; D_e = 0 (a single
    * category everywhere) → NULL α, not a division blow-up.
    *
    * Scale shape: the within-item pair join fans out m_i² rows per item
    * — m_i is the RATER count per item (a panel of dozens at most, by
    * contract), never the corpus; coincidences collapse map-side to the
    * O(categories²) matrix, which is collected (metadata-sized, like
    * every sketch in this file) for the driver-side ratio. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
                        valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val r = df.where(col(valueCol).isNotNull)
      .select(col(itemCol).as("__it"), col(raterCol).as("__ra"),
        col(valueCol).cast("string").as("__v"))
    val mPer = r.groupBy(col("__it")).agg(count(lit(1)).as("__m"))
    // one action answers both item tallies (total and pairable) —
    // nItemsUsed was a third job re-deriving the ratings aggregate
    val itemTally = mPer.agg(count(lit(1)).as("__t"),
      count(when(col("__m") >= 2, lit(1))).as("__u")).head()
    val nItemsTotal = itemTally.getLong(0)
    val rr = r.join(mPer.where(col("__m") >= 2), Seq("__it"))
    val coin = rr.as("a").join(rr.as("b"),
        col("a.__it") === col("b.__it") && col("a.__ra") =!= col("b.__ra"))
      .groupBy(col("a.__v").as("c1"), col("b.__v").as("c2"),
        col("a.__m").as("m"))
      .agg(count(lit(1)).as("k")) // exact integer pair counts first
      .select(col("c1"), col("c2"),
        (col("k").cast("double") / (col("m") - 1).cast("double")).as("o"))
      .groupBy("c1", "c2").agg(sum(col("o")).as("o"))
      .collect().map(row =>
        (row.getString(0), row.getString(1), row.getDouble(2)))
      .sortBy(t => (t._1, t._2)) // fixed order → bit-stable driver sums
    val nItemsUsed = itemTally.getLong(1)
    val margins = coin.groupBy(_._1).map { case (c, ts) =>
      c -> ts.map(_._3).sum
    }.toSeq.sortBy(_._1)
    val n = margins.map(_._2).sum
    val doNum = coin.collect { case (c1, c2, o) if c1 != c2 => o }.sum
    val deNum = (for {
      (c1, n1) <- margins; (c2, n2) <- margins if c1 != c2
    } yield n1 * n2).sum
    val (dObs, dExp, alpha) =
      if (n < 2 || deNum == 0.0)
        (if (n > 0) Some(round6(doNum / n)) else None, None, None)
      else {
        val dO = doNum / n
        val dE = deNum / (n * (n - 1.0))
        (Some(round6(dO)), Some(round6(dE)), Some(round6(1.0 - dO / dE)))
      }
    import spark.implicits._
    Seq((nItemsTotal, nItemsUsed, math.round(n), dObs, dExp, alpha))
      .toDF("n_items", "n_items_used", "n_pairable_ratings",
        "d_observed", "d_expected", "alpha")
  }

  /** Consolidate multi-annotator ratings into one gold label per item —
    * the majority-vote step every SFT/preference labeling pipeline runs
    * after collection (and [[krippendorffAlpha]] should gate BEFORE:
    * consolidating hopeless disagreement just launders noise into
    * "gold"). Per item: the modal label (ties break to the
    * lexicographically smallest — deterministic, engine-agnostic),
    * its vote share, and whether the vote was unanimous. NULL ratings
    * are excluded up front (an abstention is not a vote).
    *
    * Scale shape: (item, value) counts combine map-side; the modal pick
    * is a row_number window over the aggregated counts — partitioned by
    * item, bounded by labels-per-item, never a corpus-wide sort. */
  def consolidateLabels(df: DataFrame, itemCol: String, raterCol: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.where(col(valueCol).isNotNull)
      .groupBy(col(itemCol).as("item"),
        col(valueCol).cast("string").as("label"))
      .agg(count(lit(1)).as("__k"))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("__k").desc, col("label").asc)
    val per = counts
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", sum(col("__k")).over(Window.partitionBy(col("item"))))
      .withColumn("__d",
        count(lit(1)).over(Window.partitionBy(col("item"))))
    per.where(col("__rk") === 1)
      .select(col("item"), col("label"),
        col("__n").as("n_ratings"), col("__k").as("n_votes"),
        round(col("__k").cast("double") / col("__n").cast("double"), 6)
          .as("vote_share"),
        (col("__d") === 1).as("unanimous"))
      .orderBy(col("item"))
  }

  /** Per-rater reliability against the [[consolidateLabels]] consensus:
    * n_rated, n_agree, agree_rate — the cheap Dawid–Skene stand-in that
    * catches the annotator who disagrees with everyone (or the bot that
    * answers 'A' to everything) before their labels enter training.
    * Consensus INCLUDES the rater's own vote (the standard first-pass
    * convention; with many raters the self-contribution is 1/m).
    * Scale shape: the consensus frame is (item, label) — narrow — and
    * the re-join keys on the item; ratings never move twice. */
  def raterAgreement(df: DataFrame, itemCol: String, raterCol: String,
                     valueCol: String): DataFrame = {
    val consensus = consolidateLabels(df, itemCol, raterCol, valueCol)
      .select(col("item"), col("label").as("__gold"))
    df.where(col(valueCol).isNotNull)
      .select(col(itemCol).as("item"), col(raterCol).as("rater"),
        col(valueCol).cast("string").as("__v"))
      .join(consensus, Seq("item"))
      .groupBy(col("rater"))
      .agg(count(lit(1)).as("n_rated"),
        sum(when(col("__v") === col("__gold"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        round(col("n_agree").cast("double") / col("n_rated").cast("double"),
          6))
      .orderBy(col("rater"))
  }
}
