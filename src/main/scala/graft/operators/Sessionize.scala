package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.round6

/** Gap-based sessionization: group each key's events into sessions
  * where consecutive events are less than `gap` apart, and aggregate
  * per session. The standard shape behind "user activity sessions",
  * burst detection, and per-visit rollups of web-scale event logs.
  *
  * Built on Spark's native `session_window` aggregate — a session opens
  * at an event and absorbs every later event within `gap` of the
  * session's current last event, INCLUSIVE: an event at exactly
  * `prev + gap` still joins; a new session starts only when the gap is
  * strictly exceeded (verified against a lag/cumsum reconstruction in
  * SessionizeSpec — Spark merges candidate windows whose `[ts, ts+gap]`
  * ranges touch, not just overlap).
  *
  * Scale shape: one hash-shuffle of the (keys, ts, agg-input) tuple on
  * the keys, then a partition-local sort-merge of windows — the same
  * cost envelope as any keyed aggregation with a sort, no pairwise
  * blow-up, no driver state. In STREAMING mode the identical groupBy
  * runs incrementally against the session-window state store: call
  * [[sessionizeStream]] with a watermark and sessions emit (append
  * mode) once the watermark passes their close — bounded state,
  * exactly-once with checkpointing.
  *
  * Reference scope: the reference has no temporal operators; engine
  * extension for event-shaped data, sibling of [[AsOfJoin]] and
  * [[RangeJoin]].
  */
object Sessionize {

  /** Per-session aggregation over a batch frame.
    *
    * @param keys session identity columns (e.g. user)
    * @param tsCol event-time column (timestamp / timestamp_ntz)
    * @param gap  inactivity gap closing a session, e.g. "30 minutes"
    * @param aggs aggregate columns (each must be aliased)
    * @return keys ++ session_start (first event) ++ session_last (last
    *         event) ++ aggs, one row per (keys, session); null keys or
    *         timestamps are dropped (a null ts belongs to no session)
    */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String,
                 gap: String, aggs: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "sessionize needs at least one key column")
    require(aggs.nonEmpty, "sessionize needs at least one aggregate")
    val firstAggs =
      min(col(tsCol)).as("session_start") +: max(col(tsCol)).as("session_last") +: aggs
    df.where((keys :+ tsCol).map(col(_).isNotNull).reduce(_ && _))
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(firstAggs.head, firstAggs.tail: _*)
      .drop("session_window")
  }

  /** Streaming flavor: identical grouping against the session-window
    * state store. `delay` is the watermark (how late events may
    * arrive); in append mode a session emits once the watermark passes
    * `last event + gap`. */
  def sessionizeStream(df: DataFrame, keys: Seq[String], tsCol: String,
                       gap: String, delay: String, aggs: Seq[Column]): DataFrame =
    sessionize(df.withWatermark(tsCol, delay), keys, tsCol, gap, aggs)

  /** SCD2-style value-run compaction: compress each key's event stream
    * into intervals of CONSTANT value — the slowly-changing-dimension
    * history build (valid_from/valid_to per (key, value) run) that
    * turns an append-only change log into a bitemporal lookup table,
    * and the volume answer to "how often does this attribute actually
    * flip". Runs split on VALUE CHANGE only (gaps-and-islands:
    * run id = running count of change points, a lag + cumsum window
    * per key); `valid_to` is the NEXT run's first timestamp (half-open
    * intervals that tile the key's history; NULL = still current).
    * NULL values form runs of their own (a tracked attribute going
    * missing IS a change); ties at the same timestamp order by
    * `ordCol` so the compaction is deterministic and SQL-replayable.
    * Returns (key, value, valid_from, valid_to, n_events).
    *
    * Scale shape: one shuffle by key carrying (key, value, ts, ord) —
    * payload never moves — then per-key windows bounded by that key's
    * event count and a run-keyed aggregate. A celebrity key is a
    * [[graft.operators.SkewJoin]]-class hazard; at that scale
    * pre-bucket the store by key (the layout audit's job). */
  def scd2Compact(df: DataFrame, keyCol: String, valueCol: String,
                  tsCol: String, ordCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordCol))
    // change point iff the value IS DISTINCT FROM the previous row's
    // (null-safe <=>: a first row opens a run, null → null is NO change)
    val changed = when(
      col(valueCol) <=> lag(col(valueCol), 1).over(w), lit(0))
      .otherwise(lit(1))
    val runs = df
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(valueCol), col(tsCol), col(ordCol))
      .withColumn("__run", sum(changed).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wk = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    // the value is CONSTANT within a run by construction → group by it
    runs.groupBy(col(keyCol), col("__run"), col(valueCol))
      .agg(min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  /** Growth accounting — each day's active users decomposed into
    * `new` (first day ever), `retained` (also active the previous
    * day) and `resurrected` (active before, but not yesterday), plus
    * `churned` = yesterday's actives who did not return =
    * active(d−1) − retained(d) — the standard four-way decomposition
    * that turns a flat DAU line into a diagnosis (flat because
    * acquisition offsets churn is a different problem from flat-and-
    * stable), and for an ingest stream the per-source feed-health
    * readout (a `new`-collapse is an upstream signup/crawl stall; a
    * `churned` spike is a feed dropping producers).
    *
    * Scale shape: distinct (user, day) first (map-side combine crushes
    * event fan-in — the [[retentionCohorts]] discipline), one narrow
    * per-user lag window over (user, day) pairs, then a day-keyed
    * count rollup; the churn join is a lag under the
    * [[OrderedFrame.Days]] budget. Returns (day, n_active, n_new,
    * n_retained, n_resurrected, n_churned). */
  def growthAccounting(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = df.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .distinct()
    val wu = Window.partitionBy(col("__u")).orderBy(col("__d"))
    val classed = ud
      .withColumn("__prev", lag(col("__d"), 1).over(wu))
      .withColumn("__class",
        when(col("__prev").isNull, lit("new"))
          .when(datediff(col("__d"), col("__prev")) === 1, lit("retained"))
          .otherwise(lit("resurrected")))
    val daily = classed.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("__class") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__class") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__class") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val byDay = OrderedFrame.bounded(daily.withColumn("__dn", datediff(col("day"),
      lit("1970-01-01"))), OrderedFrame.DateDays, OrderedFrame.Days,
      "Sessionize.growthAccounting")(col("__dn"))
    byDay.rows
      .withColumn("__prev_active", lag(col("n_active"), 1).over(byDay.window))
      .withColumn("__prev_dn", lag(col("__dn"), 1).over(byDay.window))
      .withColumn("n_churned",
        when(col("__prev_dn").isNull, lit(null: java.lang.Long))
          .when(col("__dn") - col("__prev_dn") === 1,
            col("__prev_active") - col("n_retained"))
          // a gap day: EVERYONE active on the last seen day churned
          .otherwise(col("__prev_active")))
      .select(col("day"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderBy(col("day"))
  }

  /** Order-1 transition entropy of a per-key event-type stream:
    * H(next | current) over the lagged-pair distribution, against the
    * marginal H(next) — predictability = 1 − H(next|cur)/H(next) is
    * the scripted-traffic detector (a bot's state machine has near-1
    * predictability at any volume; organic users don't), and the
    * sequence-level signal the per-event frequency battery can't see
    * (identical event MIX, totally different ORDER). Pairs form per
    * key in (ts, ord) order; the first event of each key has no
    * predecessor and contributes no pair. Counts aggregate to
    * O(types²) rows; the entropies are those of their
    * [[Categorical.Joint]]. Returns one row (n_transitions,
    * h_conditional, h_marginal, predictability); degenerate marginals
    * (one type) yield NULL predictability. */
  def transitionEntropy(df: DataFrame, keyCol: String, tsCol: String,
                        typeCol: String, ordCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordCol))
    val pairs = df
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(ordCol),
        col(typeCol).cast("string").as("__y"))
      .withColumn("__x", lag(col("__y"), 1).over(w))
      .where(col("__x").isNotNull)
    val rows = pairs.groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("__n")).collect()
    val joint = new Categorical.Joint[String](rows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    val hCond = joint.conditional
    val hMarg = joint.entropy(joint.second)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((joint.total, round6(hCond), round6(hMarg),
      if (hMarg > 0.0) Option(round6(1.0 - hCond / hMarg)) else None))
      .toDF("n_transitions", "h_conditional", "h_marginal",
        "predictability")
  }

  /** Market-basket co-occurrence of event types WITHIN sessions:
    * which behaviors happen in the same visit — lift(a, b) =
    * S·c_ab/(c_a·c_b) over session baskets, where the whole-corpus
    * [[graft.operators.Profile.associationRules]] answers a different
    * question (co-occurrence per user EVER, which smears a month of
    * visits into one basket). Sessions form by the `gapMinutes`
    * inactivity rule (the [[sessionize]] semantics, spelled as a
    * lag/cumsum window so the session ID is joinable); baskets are
    * DISTINCT (session, type); pairs are type_a < type_b.
    *
    * Scale shape: one narrow (user, ts, type) shuffle for the session
    * window, map-side-combined basket distinct, then a per-session
    * self-join whose fan-out is bounded by (types per session)² —
    * event-type vocabularies are dimension-like by contract. Returns
    * (type_a, type_b, n_sessions_together, lift) ordered. */
  def sessionBaskets(df: DataFrame, userCol: String, tsCol: String,
                     typeCol: String, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapMinutes > 0, "gapMinutes must be positive")
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"))
    val sessions = df
      .where(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(typeCol).cast("string").as("__t"))
      .withColumn("__brk",
        when(lag(col("__ts"), 1).over(w).isNull ||
          col("__ts") > lag(col("__ts"), 1).over(w) +
            expr(s"INTERVAL $gapMinutes MINUTES"), 1).otherwise(0))
      .withColumn("__sid", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // pin the deduped basket frame once: the naive DAG re-ran the
    // sessionization window + distinct under the session count, the
    // type marginals AND both sides of the self-join (4 towers); the
    // result is O(types²) rows, so it materializes eagerly and the
    // pinned blocks release before returning (the heapsFit pattern —
    // nothing outlives the call)
    val spark = df.sparkSession
    val baskets = sessions.select(col("__u"), col("__sid"), col("__t"))
      .distinct().localCheckpoint()
    val nSess = baskets.select(col("__u"), col("__sid")).distinct()
      .agg(count(lit(1)).cast("double").as("__ns"))
    val typeCounts = baskets.groupBy(col("__t"))
      .agg(count(lit(1)).as("__c"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.__u") === col("b.__u") && col("a.__sid") === col("b.__sid")
          && col("a.__t") < col("b.__t"))
      .groupBy(col("a.__t").as("type_a"), col("b.__t").as("type_b"))
      .agg(count(lit(1)).as("n_together"))
    val result = pairs
      .join(broadcast(typeCounts.select(col("__t").as("type_a"),
        col("__c").as("__ca"))), Seq("type_a"))
      .join(broadcast(typeCounts.select(col("__t").as("type_b"),
        col("__c").as("__cb"))), Seq("type_b"))
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_together"),
        round(col("__ns") * col("n_together")
          / (col("__ca") * col("__cb")), 6).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
      .collect()
    Packing.releaseOffsets(baskets)
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(result.toSeq, 1),
      StructType(Seq(StructField("type_a", StringType),
        StructField("type_b", StringType),
        StructField("n_together", LongType, nullable = false),
        StructField("lift", DoubleType))))
  }

  /** Markov stationarity check: the long-run event mix implied by the
    * observed order-1 transition matrix (power iteration from the
    * uniform start) against the ACTUALLY observed mix — agreement
    * means the stream is stationary (the mix you see is the mix you
    * will keep seeing); a gap means the chain is still drifting
    * toward a different regime (ingest ramp, bot onset), which no
    * per-day frequency snapshot can distinguish from noise. Transition
    * counts as in [[transitionEntropy]] (O(types²) rows); `iters`
    * power steps run driver-side over the types-sized matrix in
    * sorted key order. Rows without an outgoing transition keep their
    * mass in place (self-loop — the standard absorbing patch).
    * Returns (event_type, observed_share, stationary_share, delta). */
  def stationaryMix(df: DataFrame, keyCol: String, tsCol: String,
                    typeCol: String, ordCol: String,
                    iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(iters >= 1, "iters must be >= 1")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordCol))
    val pairs = df
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(ordCol),
        col(typeCol).cast("string").as("__y"))
      .withColumn("__x", lag(col("__y"), 1).over(w))
    val obs = pairs.groupBy(col("__y")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val trans = pairs.where(col("__x").isNotNull)
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = obs.keys.toSeq.sorted
    val outTotals = types.map(t =>
      t -> trans.collect { case ((x, _), c) if x == t => c }.sum).toMap
    var x = types.map(t => t -> 1.0 / types.size).toMap
    (1 to iters).foreach { _ =>
      x = types.map { y =>
        y -> types.iterator.map { s =>
          val ct = outTotals(s)
          val p =
            if (ct == 0L) (if (s == y) 1.0 else 0.0) // absorbing patch
            else trans.getOrElse((s, y), 0L).toDouble / ct
          x(s) * p
        }.sum
      }.toMap
    }
    val nObs = obs.values.sum.toDouble.max(1.0)
    val spark = df.sparkSession
    import spark.implicits._
    types.map { t =>
      val o = obs(t) / nObs
      (t, round6(o), round6(x(t)), round6(math.abs(o - x(t))))
    }.toDF("event_type", "observed_share", "stationary_share", "delta")
  }

  /** Lead–lag cross-correlation of two event-type daily series:
    * Pearson corr(A(t), B(t+lag)) for lag ∈ [−maxLag, +maxLag] over
    * ZERO-FILLED aligned days (gap days are real zeros — skipping them
    * would silently shift the alignment) — the "purchases follow
    * clicks by one day" discovery, i.e. which series is the leading
    * indicator and by how much. A positive-lag peak means A leads B.
    * Daily counts aggregate to O(days) rows; the per-lag correlations
    * run driver-side from exact integer sums in day order (the
    * [[graft.operators.Drift.ewmaChart]] convention). Returns
    * (lag, n_days, corr) — NULL corr when either aligned slice is
    * constant. */
  def leadLagCorr(df: DataFrame, tsCol: String, typeCol: String,
                  typeA: String, typeB: String,
                  maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val daily = df.where(col(tsCol).isNotNull &&
        col(typeCol).isin(typeA, typeB))
      .groupBy(to_date(col(tsCol)).as("__d"), col(typeCol).as("__t"))
      .agg(count(lit(1)).as("__n")).collect()
    val spark = df.sparkSession
    import spark.implicits._
    if (daily.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])]
        .toDF("lag", "n_days", "corr")
    val byDay = daily.map(r =>
      (r.getDate(0).toLocalDate.toEpochDay, r.getString(1)) -> r.getLong(2))
      .toMap
    val d0 = byDay.keys.map(_._1).min
    val d1 = byDay.keys.map(_._1).max
    val days = (d0 to d1).toArray
    val a = days.map(d => byDay.getOrElse((d, typeA), 0L).toDouble)
    val b = days.map(d => byDay.getOrElse((d, typeB), 0L).toDouble)
    val rows = (-maxLag to maxLag).map { lag =>
      // pair A(t) with B(t + lag) over the overlap window
      val idx = days.indices.filter(i =>
        i + lag >= 0 && i + lag < days.length)
      val n = idx.length.toDouble
      var sx = 0.0; var sy = 0.0; var sxy = 0.0; var sxx = 0.0; var syy = 0.0
      idx.foreach { i =>
        val xa = a(i); val yb = b(i + lag)
        sx += xa; sy += yb; sxy += xa * yb; sxx += xa * xa; syy += yb * yb
      }
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      val corr =
        if (vx <= 0.0 || vy <= 0.0) None
        else Option(round6((n * sxy - sx * sy) / math.sqrt(vx * vy)))
      (lag, idx.length.toLong, corr)
    }
    rows.toDF("lag", "n_days", "corr")
  }

  /** Weekday-seasonality strength of the daily event volume: η² =
    * SS_between(day-of-week) / SS_total over the zero-filled daily
    * series — the fraction of daily variance the weekly cycle
    * explains (η² ≈ 0.8 means "this stream is mostly a weekly
    * rhythm"; a collapse across snapshots means the traffic source
    * changed character, not just volume). Exact integer sums
    * (SS via Σy² − (Σy)²/n per group and overall, ISO weekday 1–7);
    * peak/trough by (mean, dow) so ties are deterministic. O(days)
    * frame, arithmetic driver-side. Returns one row (n_days,
    * eta_squared, peak_dow, trough_dow); NULL η² for a constant
    * series. */
  def weekdayEffect(df: DataFrame, tsCol: String): DataFrame = {
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__n")).collect()
    val spark = df.sparkSession
    import spark.implicits._
    if (daily.isEmpty)
      return Seq.empty[(Long, Option[Double], Option[Int], Option[Int])]
        .toDF("n_days", "eta_squared", "peak_dow", "trough_dow")
    val byDay = daily.map(r =>
      r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1)).toMap
    val d0 = byDay.keys.min; val d1 = byDay.keys.max
    val series = (d0 to d1).map { d =>
      // epoch day 0 = 1970-01-01, a Thursday → ISO dow 4
      val dow = (((d + 3) % 7 + 7) % 7 + 1).toInt
      (dow, byDay.getOrElse(d, 0L).toDouble)
    }
    val n = series.length.toDouble
    val s = series.map(_._2).sum
    val ss = series.map(v => v._2 * v._2).sum
    val ssTotal = ss - s * s / n
    val groups = series.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (dow, vs) =>
        val gn = vs.length.toDouble; val gs = vs.map(_._2).sum
        (dow, gn, gs, gs / gn)
    }
    val ssBetween = groups.map { case (_, gn, gs, _) =>
      gs * gs / gn }.sum - s * s / n
    val eta = if (ssTotal <= 0.0) None else Option(round6(ssBetween / ssTotal))
    val peak = groups.maxBy(g => (g._4, -g._1))._1
    val trough = groups.minBy(g => (g._4, g._1))._1
    Seq((series.length.toLong, eta, Option(peak), Option(trough)))
      .toDF("n_days", "eta_squared", "peak_dow", "trough_dow")
  }

  /** Kaplan–Meier survival curve of user lifetimes (day grain):
    * lifetime = last-active − first-active day, with users still
    * active on the CORPUS'S final observed day right-CENSORED (their
    * lifetime is a lower bound, not a death — the distinction naive
    * "average lifetime" tables get wrong, and the reason retention
    * projections from them are systematically pessimistic). Standard
    * product-limit estimator: S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with dᵢ
    * the churn events at lifetime tᵢ and nᵢ the at-risk count
    * (computed BEFORE removing tᵢ's events and censorings). The
    * per-user reduction is two narrow aggregates; the KM table is an
    * ORDERED running product (exp∘Σln over an ordered window of one row
    * per lifetime day, the [[OrderedFrame.Days]] budget — left-to-right in both
    * engines, so bit-compatible). Returns (lifetime_days, n_at_risk,
    * n_churned, n_censored, survival). */
  def survivalCurve(df: DataFrame, userCol: String,
                    tsCol: String): DataFrame = {
    val perUser = df.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(min(to_date(col(tsCol))).as("__first"),
        max(to_date(col(tsCol))).as("__last"))
    val maxDay = perUser.agg(max(col("__last")).as("__ref"))
    val lives = perUser.crossJoin(broadcast(maxDay))
      .select(datediff(col("__last"), col("__first")).as("__t"),
        (col("__last") === col("__ref")).as("__censored"))
    val byT = OrderedFrame.bounded(lives.groupBy(col("__t"))
      .agg(sum(when(!col("__censored"), 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("__censored"), 1L).otherwise(0L)).as("n_censored")),
      OrderedFrame.DateDays, OrderedFrame.Days, "Sessionize.survivalCurve")(col("__t"))
    // user total: a broadcast 1-row scalar, not a driver count()
    val totalAgg = lives.agg(count(lit(1)).as("__total"))
    byT.rows
      .crossJoin(broadcast(totalAgg))
      .withColumn("n_at_risk", col("__total") -
        byT.sumBefore(col("n_churned") + col("n_censored")))
      .withColumn("survival", round(exp(byT.sumThrough(
        log(lit(1.0) - col("n_churned").cast("double")
          / col("n_at_risk")))), 6))
      .select(col("__t").cast("long").as("lifetime_days"),
        col("n_at_risk"), col("n_churned"), col("n_censored"),
        col("survival"))
      .orderBy(col("lifetime_days"))
  }

  /** Per-group Theil–Sen (median-of-pairwise-slopes) trend of daily
    * volume — "which feed is actually declining": the robust slope a
    * single spike day cannot drag (OLS on 30 days flips sign on one
    * outage day; the pairwise median shrugs it off). Per group over
    * the zero-filled daily series (gap days are real zeros), slope in
    * events/day from all C(days, 2) pairs — O(days²) per group, days
    * being calendar-bounded, never row-bounded. Exact pairwise ratios;
    * medians interpolate identically in both engines. Returns
    * (group, n_days, sen_slope). */
  def trendByGroup(df: DataFrame, tsCol: String,
                   groupCol: String): DataFrame = {
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(Categorical.key(col(groupCol))
        .as("__g"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__n")).collect()
    val spark = df.sparkSession
    import spark.implicits._
    if (daily.isEmpty)
      return Seq.empty[(String, Long, Double)]
        .toDF(groupCol, "n_days", "sen_slope")
    val byG = daily.groupBy(_.getString(0))
    val d0 = daily.map(_.getDate(1).toLocalDate.toEpochDay).min
    val d1 = daily.map(_.getDate(1).toLocalDate.toEpochDay).max
    byG.toSeq.sortBy(_._1).map { case (g, rs) =>
      val byDay = rs.map(r =>
        r.getDate(1).toLocalDate.toEpochDay -> r.getLong(2)).toMap
      val ys = (d0 to d1).map(d => byDay.getOrElse(d, 0L).toDouble).toArray
      val slopes = (for {
        i <- ys.indices; j <- (i + 1) until ys.length
      } yield (ys(j) - ys(i)) / (j - i)).sorted
      val m = slopes.length
      val sen =
        if (m == 0) 0.0
        else if (m % 2 == 1) slopes(m / 2)
        else (slopes(m / 2 - 1) + slopes(m / 2)) / 2.0
      (g, ys.length.toLong, round6(sen))
    }.toDF(groupCol, "n_days", "sen_slope")
  }

  /** Index of dispersion (variance-to-mean ratio) of daily volume per
    * group over the zero-filled series: D = s²/ȳ — Poisson arrivals
    * give D ≈ 1, so D ≫ 1 is day-grain BURSTINESS (batch uploads,
    * replay storms) and D ≪ 1 is suspicious regularity (a scheduler,
    * not organic traffic); the per-second [[interArrivalStats]]
    * burstiness can't see either, because day-grain clumping survives
    * second-grain smoothing. Exact integer sums (sample variance via
    * Σy² − S²/n over n−1); zero-filled days are real zeros. Returns
    * (group, n_days, mean_daily, dispersion, flag) with
    * flag = dispersion > threshold; degenerate (mean 0 or single day)
    * keeps NULL dispersion. */
  def dispersionIndex(df: DataFrame, tsCol: String, groupCol: String,
                      threshold: Double = 1.5): DataFrame = {
    val daily = df.where(col(tsCol).isNotNull)
      .groupBy(Categorical.key(col(groupCol))
        .as("__g"), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__n")).collect()
    val spark = df.sparkSession
    import spark.implicits._
    if (daily.isEmpty)
      return Seq.empty[(String, Long, Double, Option[Double], Boolean)]
        .toDF(groupCol, "n_days", "mean_daily", "dispersion", "flag")
    val d0 = daily.map(_.getDate(1).toLocalDate.toEpochDay).min
    val d1 = daily.map(_.getDate(1).toLocalDate.toEpochDay).max
    daily.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (g, rs) =>
      val byDay = rs.map(r =>
        r.getDate(1).toLocalDate.toEpochDay -> r.getLong(2)).toMap
      val ys = (d0 to d1).map(d => byDay.getOrElse(d, 0L).toDouble)
      val n = ys.length.toDouble
      val s = ys.sum; val ss = ys.map(v => v * v).sum
      val mean = s / n
      val disp =
        if (n < 2 || mean <= 0.0) None
        else Option(round6(((ss - s * s / n) / (n - 1)) / mean))
      (g, ys.length.toLong, round6(mean), disp,
        disp.exists(_ > threshold))
    }.toDF(groupCol, "n_days", "mean_daily", "dispersion", "flag")
  }

  /** Classic day-grain retention cohorts: users grouped by FIRST-seen
    * day, counted at each day offset they return — the triangle every
    * activity dashboard draws, and the ingest-health signal for event
    * streams (a cohort whose offset-1 count collapses means day-2 data
    * went missing). Returns (cohort_day: date, day_offset, n_users),
    * offset 0 = the cohort size itself.
    *
    * Scale shape: distinct (user, day) first (map-side combine crushes
    * the per-user event fan-in), then a min-aggregate per user for the
    * cohort day — every exchange carries (user, day) pairs, never
    * event payloads; the final rollup is counts over 12-byte rows.
    * Null users/timestamps are dropped (no identity → no cohort). */
  def retentionCohorts(df: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val activity = df
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__day"))
      .distinct()
    val cohorts = activity.groupBy(col("__u"))
      .agg(min(col("__day")).as("cohort_day"))
    activity.join(cohorts, Seq("__u"))
      .groupBy(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Ordered conversion funnel: how many users reach each stage of
    * `stages` IN ORDER (a later stage counts only strictly after the
    * user's first hit of the previous one) — the product-analytics
    * staple, and the event-stream health check (a broken stage-2
    * emitter shows as a cliff). Returns (stage_idx, stage, n_users).
    *
    * Scale shape: stage k is a min-timestamp aggregate of the stage's
    * events semi-joined to the (user, t_{k-1}) frame — every exchange
    * carries (user, ts) pairs with map-side combine, event payloads
    * stay in the scan; the per-stage chains share their prefix, so
    * Spark reuses the stage-1 exchange across the final union's
    * branches rather than rescanning. Null users/timestamps are
    * dropped (no identity → no funnel). */
  def conversionFunnel(df: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "conversionFunnel needs at least one stage")
    val base = df.where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(typeCol).as("__k"))
    val first = base.where(col("__k") === stages.head)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__t"))
    val reached = stages.tail.scanLeft(first) { (prev, stage) =>
      base.where(col("__k") === stage)
        .join(prev.select(col("__u"), col("__t").as("__tp")), Seq("__u"))
        .where(col("__ts") > col("__tp"))
        .groupBy(col("__u")).agg(min(col("__ts")).as("__t"))
    }
    reached.zip(stages).zipWithIndex.map { case ((f, stage), i) =>
      // a global aggregate, not a groupBy: a stage nobody reached must
      // still report (stage, 0) — funnels exist to show the cliff
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("stage_idx"), lit(stage).as("stage"),
          col("n_users"))
    }.reduce(_.unionByName(_))
      .orderBy("stage_idx")
  }

  /** Per-key inter-arrival statistics — burstiness profiling: is a
    * key's traffic a steady drip or spikes with silence between?
    * Mean/CV of the gap distribution plus the Goh–Barabási burstiness
    * index B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 periodic, 0 Poisson, →1
    * bursty) — the signal behind rate-limiter sizing, bot detection,
    * and "is this source a batch uploader or a stream".
    *
    * Exactness shape: gaps are INTEGER seconds (floor of the µs
    * difference), and the per-key aggregate keeps integer Σgap and
    * Σgap² — exact in both engines — deriving the float statistics at
    * the end through one fixed expression order, so the SQL replica is
    * bit-exact (the q_burstiness contract). One window per key (hash
    * exchange, no global sort) + one keyed aggregate. Keys with < 2
    * events have no gaps and don't appear; tied timestamps are fine
    * (the multiset of consecutive gaps of a sorted multiset is
    * tie-order-invariant). */
  def interArrivalStats(df: DataFrame, keyCol: String,
                        tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    // NTZ-safe µs: the LTZ hop offset is constant and cancels in gaps
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val gaps = df.where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), micros.as("__us"),
        lag(micros, 1).over(w).as("__prev"))
      .where(col("__prev").isNotNull)
      .select(col(keyCol),
        floor((col("__us") - col("__prev")) / 1000000L).cast("long")
          .as("__gap"))
    val n = col("n_gaps").cast("double")
    val mean = col("__s").cast("double") / n
    val variance =
      (col("__ss").cast("double") -
        col("__s").cast("double") * col("__s").cast("double") / n) / n
    val std = sqrt(greatest(variance, lit(0.0)))
    gaps.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("__s"),
        sum(col("__gap") * col("__gap")).as("__ss"))
      .select(col(keyCol), col("n_gaps"),
        round(mean, 6).as("mean_gap_s"),
        when(mean > 0, round(std / mean, 6)).as("cv"),
        when(std + mean > 0, round((std - mean) / (std + mean), 6))
          .as("burstiness"))
      .orderBy(col(keyCol))
  }

  /** Event-time DISORDER profile — the measurement that sizes a
    * streaming watermark. An event is "late" if an event of the same
    * key that arrived EARLIER (smaller `arrivalCol`) carries a LATER
    * event time; its lateness is how far its event time lags the
    * running maximum. The returned one-row summary (count and fraction
    * of late events, max and dyadic percentiles of lateness in
    * seconds) is exactly what `withWatermark(delay)` needs: a delay at
    * the p-th lateness percentile bounds state while admitting p of
    * the late tail. Run this on a history slice BEFORE deploying the
    * stream — a guessed watermark silently drops whatever the guess
    * misses.
    *
    * Scale shape: the running max is a window partitioned BY KEY in
    * arrival order — embarrassingly parallel across keys (one hash
    * exchange on the key, no global sort); the summary is a single
    * fused aggregate over the (late_s) projection. Percentiles use
    * exact `percentile` at dyadic probabilities (bit-exact replicable;
    * swap `approx_percentile` at unbounded scale). Lateness percentiles
    * are over LATE events only (the zeros of in-order events would
    * drown the tail this exists to measure); no late events → null
    * percentiles, frac_late 0. Null keys/timestamps are excluded (a
    * null ts belongs to no watermark domain). */
  def disorderProfile(df: DataFrame, keyCol: String, arrivalCol: String,
                      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = df
      .where(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol), col(arrivalCol), col(tsCol))
      .withColumn("__prev_max", max(col(tsCol)).over(w))
      .select(
        // timestampdiff, not unix_micros: polymorphic over TIMESTAMP
        // and TIMESTAMP_NTZ inputs (whole seconds; positive here, so
        // truncation == floor, matching the oracle's epoch_us // 1e6)
        when(col("__prev_max").isNotNull && col(tsCol) < col("__prev_max"),
          expr(s"timestampdiff(SECOND, `$tsCol`, __prev_max)").cast("long"))
          .otherwise(lit(0L)).as("late_s"))
    late.agg(
      count(lit(1)).as("n_events"),
      sum(when(col("late_s") > 0, 1L).otherwise(0L)).as("n_late"),
      round(avg(when(col("late_s") > 0, 1.0).otherwise(0.0)), 6)
        .as("frac_late"),
      max(col("late_s")).as("max_late_s"),
      expr("percentile(CASE WHEN late_s > 0 THEN CAST(late_s AS DOUBLE) END," +
        " 0.5D)").as("p50_late_s"),
      expr("percentile(CASE WHEN late_s > 0 THEN CAST(late_s AS DOUBLE) END," +
        " 0.9375D)").as("p94_late_s"))
  }

  /** Near-time duplicate events — telemetry double-fire detection: all
    * pairs of events sharing `keyCols` whose timestamps fall within
    * `windowSec` seconds (retry storms, at-least-once replays, client
    * double-submits). The row-level companion of the aggregate-level
    * [[graft.operators.Drift.autocorrelation]] double-fire signal:
    * that says "something fires twice", this names the pairs.
    *
    * Candidate generation is TIME-BANDED, never per-key all-pairs
    * (a hot key would go quadratic): events bucket by
    * `second div windowSec`, a qualifying pair's buckets differ by at
    * most one, one side fans to {b−1, b, b+1} with the probe pinned
    * to its OWN bucket — every qualifying pair produced exactly once
    * (the [[graft.operators.EditDistance.neardupPairs]] banding
    * argument on the time axis). The join key is (keyCols, bucket),
    * so co-keyed events in DIFFERENT windows never meet. Seconds are
    * NTZ-safe integer truncations (the autocorrelation spelling).
    * Returns (keyCols…, id_a, id_b, gap_s) with id_a < id_b; NULL
    * keys/timestamps are excluded. */
  def eventDuplicates(df: DataFrame, keyCols: Seq[String], tsCol: String,
                      idCol: String, windowSec: Long): DataFrame = {
    require(keyCols.nonEmpty, "eventDuplicates: no key columns")
    require(windowSec > 0, "windowSec must be positive")
    val sec = col(tsCol).cast("timestamp").cast("long")
    val narrow = df
      .where(col(tsCol).isNotNull && col(idCol).isNotNull &&
        keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(keyCols.map(col) ++
        Seq(col(idCol).as("__id"), sec.as("__s")): _*)
      .withColumn("__bkt", expr(s"__s div $windowSec"))
    val fan = narrow.select(keyCols.map(col) ++ Seq(
      col("__id").as("id_a"), col("__s").as("__sa"),
      explode(array(col("__bkt") - 1, col("__bkt"), col("__bkt") + 1))
        .as("__jb")): _*)
    val probe = narrow.select(keyCols.map(col) ++ Seq(
      col("__id").as("id_b"), col("__s").as("__sb"),
      col("__bkt").as("__jb")): _*)
    fan.join(probe, keyCols :+ "__jb")
      .where(col("id_a") < col("id_b") &&
        abs(col("__sa") - col("__sb")) <= windowSec)
      .select(keyCols.map(col) ++ Seq(col("id_a"), col("id_b"),
        abs(col("__sa") - col("__sb")).as("gap_s")): _*)
  }
}
