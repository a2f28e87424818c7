package graft

import org.apache.spark.sql.functions._

import graft.operators.Sessionize

/** Session-boundary semantics for the gap sessionizer: exactly-at-gap
  * splits, strictly-inside-gap merges, chains extend, null keys/ts
  * drop. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private val gapSec = 60L // "1 minutes"

  private def ev(rows: (java.lang.Long, Long, Double)*) =
    rows.toSeq.toDF("user", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))

  private def run(df: org.apache.spark.sql.DataFrame) =
    Sessionize.sessionize(df, Seq("user"), "ts", "1 minutes",
        Seq(count(lit(1)).as("n"), sum(col("value")).as("v")))
      .select(col("user"),
        (unix_micros(col("session_start")) / 1000000L).cast("long"),
        (unix_micros(col("session_last")) / 1000000L).cast("long"),
        col("n"), col("v"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet

  test("gap boundary: exactly prev+gap still merges; gap+1 splits") {
    val merged = run(ev((1L, 0L, 1.0), (1L, gapSec, 2.0)))
    assert(merged === Set((1L, 0L, 60L, 2L, 3.0)))
    val split = run(ev((1L, 0L, 1.0), (1L, gapSec + 1, 2.0)))
    assert(split === Set((1L, 0L, 0L, 1L, 1.0), (1L, 61L, 61L, 1L, 2.0)))
  }

  test("strictly inside the gap merges; chains extend past one gap total") {
    // 0, 59, 118: each step < 60 apart, total span 118 > gap — one session
    val got = run(ev((1L, 0L, 1.0), (1L, 59L, 2.0), (1L, 118L, 4.0)))
    assert(got === Set((1L, 0L, 118L, 3L, 7.0)))
  }

  test("keys separate sessions; null key and null ts rows drop") {
    val base = ev((1L, 0L, 1.0), (2L, 10L, 2.0),
      (null.asInstanceOf[java.lang.Long], 20L, 4.0))
      .union(ev((3L, 0L, 8.0)).withColumn("ts",
        lit(null).cast(ev((1L, 0L, 1.0)).schema("ts").dataType)))
    val got = run(base)
    assert(got === Set((1L, 0L, 0L, 1L, 1.0), (2L, 10L, 10L, 1L, 2.0)))
  }

  test("differential: session_window equals lag/cumsum reconstruction") {
    // pseudo-random event times, many users, many sessions
    val df = (0 until 3000).map { i =>
      (java.lang.Long.valueOf(i % 17L), (i * 2654435761L + 11) % 86400L, 1.0)
    }.toDF("user", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = run(df)
    // reconstruct with window functions (the oracle spelling)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user").orderBy("sec")
    val truth = df
      .withColumn("brk", when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > gapSec, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user", "sid")
      .agg(min(col("sec")).as("s"), max(col("sec")).as("l"),
        count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("user"), col("s"), col("l"), col("n"), col("v"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got === truth)
    assert(got.size > 17, "fixture must produce multiple sessions per user")
  }

  test("disorderProfile: hand-computed lateness, nulls excluded") {
    import spark.implicits._
    val df = Seq(
      // (user, arrival, event-time seconds)
      (java.lang.Long.valueOf(1L), 1L, java.lang.Long.valueOf(100L)),
      (java.lang.Long.valueOf(1L), 2L, java.lang.Long.valueOf(50L)), // 50 s late
      (java.lang.Long.valueOf(1L), 3L, java.lang.Long.valueOf(200L)),
      (java.lang.Long.valueOf(1L), 4L, java.lang.Long.valueOf(190L)), // 10 s late
      (java.lang.Long.valueOf(2L), 5L, java.lang.Long.valueOf(10L)),
      (java.lang.Long.valueOf(2L), 6L, java.lang.Long.valueOf(20L)), // in order
      (null, 7L, java.lang.Long.valueOf(5L)),                        // null key: out
      (java.lang.Long.valueOf(2L), 8L, null)                         // null ts: out
    ).toDF("user", "arrival", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = Sessionize.disorderProfile(df, "user", "arrival", "ts")
      .collect()(0)
    assert(got.getAs[Long]("n_events") === 6L)
    assert(got.getAs[Long]("n_late") === 2L)
    assert(got.getAs[Double]("frac_late") === 0.333333) // round(2/6, 6)
    assert(got.getAs[Long]("max_late_s") === 50L)
    // late set {10, 50}: p50 = 30, p94 = 10 + 0.9375·40 = 47.5
    assert(got.getAs[Double]("p50_late_s") === 30.0)
    assert(got.getAs[Double]("p94_late_s") === 47.5)
  }

  test("interArrivalStats: hand-computed burstiness, periodic hits -1-ish") {
    import spark.implicits._
    val df = Seq(
      (1L, 0L), (1L, 10L), (1L, 20L), (1L, 40L), // gaps 10, 10, 20
      (2L, 0L), (2L, 5L), (2L, 10L), (2L, 15L),  // constant gaps 5
      (3L, 7L)                                    // single event: no gaps
    ).toDF("user", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = Sessionize.interArrivalStats(df, "user", "ts")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(3L))
    val u1 = got(1L)
    assert(u1.getAs[Long]("n_gaps") === 3L)
    // s=40, ss=600: mean 40/3, var (600−1600/3)/3, the exact formulas
    val mean = 40.0 / 3.0
    val std = math.sqrt((600.0 - 40.0 * 40.0 / 3.0) / 3.0)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(u1.getAs[Double]("mean_gap_s") === r6(mean))
    assert(u1.getAs[Double]("cv") === r6(std / mean))
    assert(u1.getAs[Double]("burstiness") === r6((std - mean) / (std + mean)))
    val u2 = got(2L)
    assert(u2.getAs[Double]("cv") === 0.0)        // perfectly periodic
    assert(u2.getAs[Double]("burstiness") === -1.0)
  }

  test("disorderProfile: fully ordered stream reports a zero-late row") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 20L)) // ties OK
      .toDF("user", "arrival", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = Sessionize.disorderProfile(df, "user", "arrival", "ts")
      .collect()(0)
    assert(got.getAs[Long]("n_late") === 0L)
    assert(got.getAs[Double]("frac_late") === 0.0)
    assert(got.isNullAt(got.fieldIndex("p50_late_s")))
  }

  test("growthAccounting: new/retained/resurrected/churned, gap day") {
    import spark.implicits._
    // u1 active d1,d2,d4; u2 active d2 only:
    // d1: active 1 (new). d2: active 2 (u1 retained, u2 new),
    //   churned = active(d1) − retained(d2) = 0.
    // d4 (after a gap): u1 resurrected, churned = ALL of d2's actives.
    val df = Seq((1L, "2024-01-01"), (1L, "2024-01-02"),
      (2L, "2024-01-02"), (1L, "2024-01-04"))
      .toDF("u", "s").select(col("u"), to_timestamp(col("s")).as("ts"))
    val rows = Sessionize.growthAccounting(df, "u", "ts").collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(rows("2024-01-01") === ((1L, 1L, 0L, 0L, -1L))) // churn undefined
    assert(rows("2024-01-02") === ((2L, 1L, 1L, 0L, 0L)))
    assert(rows("2024-01-04") === ((1L, 0L, 0L, 1L, 2L)))
  }

  test("sessionBaskets: per-visit co-occurrence, not per-user-ever") {
    import spark.implicits._
    // u1: (0min a, 10min b | 60min a, 61min c) → two sessions;
    // u2: (0min a) → one. Baskets {a,b},{a,c},{a}; S=3, c_a=3,c_b=c_c=1
    val df = Seq((1L, 0L, "a"), (1L, 10L, "b"), (1L, 60L, "a"),
      (1L, 61L, "c"), (2L, 0L, "a")).toDF("u", "min", "t")
      .withColumn("ts", timestamp_micros(col("min") * 60000000L))
    val out = Sessionize.sessionBaskets(df, "u", "ts", "t", 30).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("a", "b")) === ((1L, 1.0))) // 3·1/(3·1)
    assert(out(("a", "c")) === ((1L, 1.0)))
    assert(!out.contains(("b", "c"))) // never share a session
  }

  test("stationaryMix: absorbing chain converges away from observed mix") {
    import spark.implicits._
    // a,b,b,b,b: P(a→b)=1, P(b→b)=1 → stationary (0,1) after 1 step;
    // observed (0.2, 0.8) → deltas (0.2, 0.2)
    val df = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "b"),
      (1L, 4L, "b"), (1L, 5L, "b")).toDF("u", "eid", "t")
      .withColumn("ts", timestamp_micros(col("eid") * 1000000L))
    val m = Sessionize.stationaryMix(df, "u", "ts", "t", "eid", iters = 3)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m("a") === ((0.2, 0.0, 0.2)))
    assert(m("b") === ((0.8, 1.0, 0.2)))
  }

  test("leadLagCorr: shifted series peaks at its true lag") {
    import spark.implicits._
    // clicks per day [1,3,2,5]; purchases = clicks shifted one day
    // later [0,1,3,2] → corr at lag +1 is exactly 1.0
    val rows = Seq((1, 1), (2, 3), (3, 2), (4, 5)).flatMap {
      case (day, n) => Seq.fill(n)(("click", day)) } ++
      Seq((2, 1), (3, 3), (4, 2)).flatMap {
        case (day, n) => Seq.fill(n)(("purchase", day)) }
    val df = rows.toDF("t", "day")
      .withColumn("ts", to_timestamp(
        concat(lit("2024-01-0"), col("day"), lit(" 12:00:00"))))
    val out = Sessionize.leadLagCorr(df, "ts", "t", "click", "purchase",
      maxLag = 2).collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(1) === ((3L, Some(1.0))))
    assert(out(0)._2.get < 1.0) // unshifted alignment is weaker
  }

  test("weekdayEffect: perfect weekly rhythm scores eta 1") {
    import spark.implicits._
    // 14 days from Mon 2024-01-01; Mondays carry 5 events, others 1
    val rows = (1 to 14).flatMap { day =>
      val n = if (day == 1 || day == 8) 5 else 1
      Seq.fill(n)(day)
    }
    val df = rows.toDF("day").withColumn("ts", to_timestamp(
      concat(lit("2024-01-"), lpad(col("day"), 2, "0"), lit(" 12:00:00"))))
    val r = Sessionize.weekdayEffect(df, "ts").collect()(0)
    assert(r.getLong(0) === 14L && r.getDouble(1) === 1.0)
    assert(r.getInt(2) === 1 && r.getInt(3) === 2) // peak Mon, trough tie→Tue
  }

  test("scd2Compact: null-safe runs, half-open tiling, tie order") {
    import spark.implicits._
    // user 1: a,a,b,NULL,NULL,a → four runs; NULL run kept (an
    // attribute going missing IS a change); valid_to = next run's start
    val df = Seq(
      (1L, 1L, Option("a")), (1L, 2L, Option("a")), (1L, 3L, Option("b")),
      (1L, 4L, Option.empty[String]), (1L, 5L, Option.empty[String]),
      (1L, 6L, Option("a"))
    ).toDF("user", "eid", "v")
      .withColumn("ts", timestamp_micros(col("eid") * 1000000L))
    val out = Sessionize.scd2Compact(df, "user", "v", "ts", "eid")
      .orderBy("valid_from").collect()
    assert(out.length === 4)
    val runs = out.map(r => (Option(r.getString(1)).getOrElse("<null>"),
      r.getTimestamp(2).getTime / 1000,
      Option(r.getTimestamp(3)).map(_.getTime / 1000), r.getLong(4)))
    assert(runs.toSeq === Seq(
      ("a", 1L, Some(3L), 2L), ("b", 3L, Some(4L), 1L),
      ("<null>", 4L, Some(6L), 2L), ("a", 6L, None, 1L)))
    // same-timestamp ties compact by ord: (ts=1, eid=1, 'x'),
    // (ts=1, eid=2, 'y') → two runs, x first
    val tie = Seq((2L, 1L, "x"), (2L, 2L, "y")).toDF("user", "eid", "v")
      .withColumn("ts", timestamp_micros(lit(1000000L)))
    val to = Sessionize.scd2Compact(tie, "user", "v", "ts", "eid")
      .orderBy("valid_to").collect()
    assert(to.map(_.getString(1)).toSeq === Seq("y", "x") ||
      to.map(_.getString(1)).toSeq === Seq("x", "y"))
    assert(to.count(_.isNullAt(3)) === 1) // exactly one current run
  }

  test("benjaminiHochberg: step-up shelters earlier non-hits") {
    import spark.implicits._
    // p = [.01, .06, .07, .30], q=0.1, m=4 → thresholds
    // [.025, .05, .075, .1]; rank 3 hits (.07 ≤ .075) so k*=3 and the
    // NON-hitting rank 2 (.06 > .05) is still rejected — the step-up
    // property a naive per-row compare misses. NULL p → NULL verdict.
    val df = Seq(("r1", Option(0.01)), ("r2", Option(0.06)),
      ("r3", Option(0.07)), ("r4", Option(0.30)),
      ("r5", Option.empty[Double])).toDF("rule", "p")
    val out = graft.operators.Drift.benjaminiHochberg(df, "rule", "p", 0.1)
      .collect()
    val m = out.map(r => r.getString(0) ->
      (if (r.isNullAt(4)) None else Some(r.getBoolean(4)))).toMap
    assert(m("r1") === Some(true) && m("r2") === Some(true) &&
      m("r3") === Some(true) && m("r4") === Some(false) &&
      m("r5") === None)
    val r2 = out.find(_.getString(0) == "r2").get
    assert(r2.getInt(2) === 2 && r2.getDouble(3) === 0.05)
  }

  test("nucleusVocab: hand-computed coverage points") {
    import spark.implicits._
    // a×5 b×3 c×1 d×1: k(0.5)=1 (mass .5), k(0.9)=3 (mass .9),
    // k(0.99)=4 (mass 1.0), vocab 4
    val df = Seq(Tuple1("a a a a a b b b c d")).toDF("text")
    val frame = graft.operators.TextAnalysis.nucleusVocab(df, "text")
    // a count: never NULL
    assert(!frame.schema("vocab_size").nullable)
    val out = frame.collect().map(r => r.getDouble(0) ->
        (r.getInt(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(0.5) === ((1, 0.5, 4L)))
    assert(out(0.9) === ((3, 0.9, 4L)))
    assert(out(0.99) === ((4, 1.0, 4L)))
  }
}
