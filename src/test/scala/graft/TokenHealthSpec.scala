package graft

import org.apache.spark.sql.functions._

import graft.operators.TokenHealth

class TokenHealthSpec extends SparkSpec {
  import spark.implicits._

  private val B = 1 // bos
  private val E = 2 // eos

  test("framingFlags: clean, missing-BOS, missing-EOS, interior-EOS, empty, null") {
    val df = Seq(
      (0L, Seq(B, 10, 11, E)),          // clean
      (1L, Seq(10, 11, E)),             // missing BOS
      (2L, Seq(B, 10, 11)),             // missing EOS
      (3L, Seq(B, 10, E, 11, E)),       // interior EOS (and framed fine)
      (4L, Seq.empty[Int]),             // empty → both missing
      (5L, Seq(B, E))                   // minimal clean, no interior
    ).toDF("id", "toks")
      .union(Seq((6L, null.asInstanceOf[Seq[Int]])).toDF("id", "toks"))
    val got = TokenHealth.framingFlags(df, "toks", B, E)
      .orderBy("id")
      .select("id", "miss_bos", "miss_eos", "interior_eos")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    assert(got === Array(
      (0L, false, false, false),
      (1L, true, false, false),
      (2L, false, true, false),
      (3L, false, false, true),
      (4L, true, true, false),
      (5L, false, false, false),
      (6L, true, true, false)))
  }

  test("framingSummary: per-group counters add up") {
    val df = Seq(
      ("a", Seq(B, 10, E)), ("a", Seq(10, E)), ("a", Seq(B, E, 5, E)),
      ("b", Seq(B, 10, E))).toDF("g", "toks")
    val got = TokenHealth.framingSummary(df, "toks", "g", B, E)
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(("a", 3L, 1L, 0L, 1L), ("b", 1L, 0L, 0L, 0L)))
  }

  test("positionStats: hand-computed entropy and top share") {
    // pos 0: tokens 0,0,64 → buckets (mod 4): 0,0,0 → entropy 0, top 1
    // pos 1: tokens 1,2,3 → buckets 1,2,3 → entropy ln 3, top 1/3
    val df = Seq(Seq(0, 1), Seq(0, 2), Seq(64, 3)).toDF("toks")
    val got = TokenHealth.positionStats(df, "toks", k = 2, nBuckets = 4)
      .orderBy("pos").collect()
    assert(got.length === 2)
    val p0 = got(0); val p1 = got(1)
    assert(p0.getAs[Long]("n_seqs") === 3L)
    assert(p0.getAs[Long]("n_distinct_tokens") === 2L) // {0, 64}
    assert(p0.getAs[Double]("bucket_entropy") === 0.0)
    assert(p0.getAs[Double]("top_bucket_share") === 1.0)
    assert(p1.getAs[Long]("n_distinct_tokens") === 3L)
    assert(math.abs(p1.getAs[Double]("bucket_entropy") - math.log(3.0)) < 1e-6)
    assert(p1.getAs[Double]("top_bucket_share") === 0.333333)
  }

  test("positionStats: k bounds the explode on short sequences") {
    val df = Seq(Seq(7), Seq(7, 8, 9)).toDF("toks")
    val got = TokenHealth.positionStats(df, "toks", k = 4, nBuckets = 16)
      .orderBy("pos").collect()
    // positions 0 (both rows), 1 and 2 (second row only)
    assert(got.map(_.getAs[Int]("pos")).toSeq === Seq(0, 1, 2))
    assert(got.map(_.getAs[Long]("n_seqs")).toSeq === Seq(2L, 1L, 1L))
  }

  test("vocabCoverage: exact distincts and integer ratios") {
    val df = Seq(
      ("a", Seq(1, 1, 2)), ("a", Seq(2, 3)),
      ("b", Seq(4))).toDF("g", "toks")
    val got = TokenHealth.vocabCoverage(df, "toks", "g", vocabSize = 10)
      .orderBy("g").as[(String, Long, Long, Double, Double)].collect()
    assert(got === Array(
      ("a", 5L, 3L, 0.3, 0.6),   // ids {1,2,3} of 10; 3 types / 5 tokens
      ("b", 1L, 1L, 0.1, 1.0)))
  }

  test("dupGramMass: hand-computed duplicated 3-gram fraction") {
    // doc1 grams: (1,2,3) (2,3,4); doc2 grams: (1,2,3)
    // gram (1,2,3) occurs 2x (dup), (2,3,4) once → dup mass 2/3
    val df = Seq(Seq(1, 2, 3, 4), Seq(1, 2, 3)).toDF("toks")
    val got = TokenHealth.dupGramMass(df, "toks", n = 3).head()
    assert(got.getAs[Long]("n_grams") === 3L)
    assert(got.getAs[Long]("n_distinct_grams") === 2L)
    assert(got.getAs[Long]("n_dup_occurrences") === 2L)
    assert(got.getAs[Double]("dup_mass") === 0.666667)
    // too-short rows contribute nothing
    val short = Seq(Seq(1, 2), Seq.empty[Int]).toDF("toks")
    assert(TokenHealth.dupGramMass(short, "toks", n = 3)
      .head().getAs[Long]("n_grams") === 0L)
  }

  test("tokenIdDrift: identical snapshots do not drift, a shift does") {
    val base = Seq(Seq(100, 200), Seq(300, 400, 25000)).toDF("toks")
    val same = TokenHealth.tokenIdDrift(base, base, "toks",
      lo = 0.0, hi = 50000.0, nBins = 64).head()
    assert(same.getAs[Double]("ks_stat") === 0.0)
    assert(!same.getAs[Boolean]("ks_drifted"))
    assert(same.getAs[Long]("n_base") === 5L)
    // everything pushed to the top of the range → ecdf gap of 1 bin set
    val shifted = Seq(Seq(49999, 49999), Seq(49999, 49999, 49999)).toDF("toks")
    val drift = TokenHealth.tokenIdDrift(base, shifted, "toks",
      lo = 0.0, hi = 50000.0, nBins = 64).head()
    assert(drift.getAs[Double]("ks_stat") === 1.0)
  }

  test("runStats: hand-computed runs, mode share, empty and null arrays") {
    val df = Seq(
      (0L, Seq(5, 5, 5, 9, 5)),      // run 3, mode 5 count 4
      (1L, Seq(1, 2, 3, 4)),         // all distinct
      (2L, Seq(7, 7, 7, 7)),         // constant
      (3L, Seq.empty[Int])
    ).toDF("id", "toks")
      .union(Seq((4L, null.asInstanceOf[Seq[Int]])).toDF("id", "toks"))
    val got = TokenHealth.runStats(df, "id", "toks").orderBy("id").collect()
    assert(got(0).getAs[Long]("max_run") === 3L)
    assert(got(0).getAs[Long]("top_token_count") === 4L)
    assert(got(0).getAs[Double]("top_share") === 0.8)
    assert(got(0).getAs[Long]("n_distinct") === 2L)
    assert(got(1).getAs[Long]("max_run") === 1L)
    assert(got(1).getAs[Double]("distinct_ratio") === 1.0)
    assert(got(2).getAs[Long]("max_run") === 4L)
    assert(got(2).getAs[Double]("top_share") === 1.0)
    assert(got(3).getAs[Long]("n_tok") === 0L)
    assert(got(3).isNullAt(got(3).fieldIndex("top_share")))
    assert(got(4).getAs[Long]("max_run") === 0L)
  }

  test("dropDegenerate: constant array dropped, healthy kept, thresholds exact") {
    val df = Seq(
      (0L, Seq.fill(10)(7)),                    // share 1.0 → dropped
      (1L, (1 to 10).toSeq),                    // healthy → kept
      (2L, Seq(1, 1, 1, 1, 1, 6, 7, 8, 9, 10)), // share exactly 0.5 → dropped (>= threshold)
      (3L, (1 to 5).toSeq ++ Seq.fill(21)(9) ++ (10 to 14).toSeq) // run 21 ≥ 20 → dropped
    ).toDF("id", "toks")
    val kept = TokenHealth.dropDegenerate(df, "toks", maxRun = 20,
      maxTopShare = 0.5).select("id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("plan: runStats is a zero-exchange scan (the fold stays in-row)") {
    val df = Seq((0L, Seq(1, 2, 3))).toDF("id", "toks")
    val p = TokenHealth.runStats(df, "id", "toks")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"runStats shuffled:\n$p")
  }

  test("tokenTransitionEntropy: alternating stream is fully predictable") {
    import spark.implicits._
    // [1,2,1,2]: pairs (1,2)x2, (2,1)x1 -> H(next|cur)=0,
    // H(next) = H(2/3,1/3) = 0.636514, predictability 1
    val df = Seq(Tuple1(Seq(1, 2, 1, 2))).toDF("tokens")
    val r = TokenHealth.tokenTransitionEntropy(df, "tokens").collect()(0)
    assert(r.getLong(0) === 3L && r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.636514 && r.getDouble(3) === 1.0)
    // single-token and empty sequences contribute no pairs
    val mix = Seq(Seq(1, 2, 1, 2), Seq(7), Seq.empty[Int])
      .map(Tuple1(_)).toDF("tokens")
    val r2 = TokenHealth.tokenTransitionEntropy(mix, "tokens").collect()(0)
    assert(r2.getLong(0) === 3L)
  }

  test("shuffleIndependence: same seed is rho 1 exactly, integers throughout") {
    import spark.implicits._
    val df = (1L to 100L).map(Tuple1(_)).toDF("id")
    val same = graft.operators.Mixing
      .shuffleIndependence(df, "id", 5L, 5L).collect()(0)
    assert(same.getLong(1) === 0L && same.getDouble(2) === 1.0)
    val diff = graft.operators.Mixing
      .shuffleIndependence(df, "id", 1L, 2L).collect()(0)
    assert(math.abs(diff.getDouble(2)) < 1.0) // a real reshuffle
    // deterministic under repartition
    val again = graft.operators.Mixing
      .shuffleIndependence(df.repartition(7), "id", 1L, 2L).collect()(0)
    assert(again.getLong(1) === diff.getLong(1))
  }

  test("shuffleIndependence ranks equal one global row_number per seed, row for row") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    import graft.operators.Mixing
    import spark.implicits._
    val df = (1L to 400L).map(Tuple1(_)).toDF("id").repartition(5)
    assert(df.rdd.getNumPartitions >= 3)
    // without partition coalescing the 400 rows keep several range partitions
    val coalescing = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(coalescing)
    spark.conf.set(coalescing, "false")
    try for ((seed1, seed2) <- Seq((1L, 2L), (5L, 5L), (-9L, 4242L))) {
      // the reference: the spelling the two-level rank replaced
      def rank(seed: Long) = row_number().over(
        Window.orderBy(Mixing.epochKey(df, "id", seed), col("id"))).cast("long")
      val want = df.select(col("id"), rank(seed1), rank(seed2))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val (got, rangeParts) = Mixing.epochRanks(df, "id", seed1, seed2) { r =>
        (r.as[(Long, Long, Long)].collect().sorted.toSeq,
          r.queryExecution.analyzed.collect { case l: LogicalRDD =>
            l.rdd.getNumPartitions }.head)
      }
      assert(rangeParts >= 3)
      assert(got === want, s"seeds $seed1, $seed2")
    } finally was.fold(spark.conf.unset(coalescing))(spark.conf.set(coalescing, _))
    // a repeated id still ranks every row once
    val twice = Mixing.shuffleIndependence(df.union(df), "id", 1L, 2L).collect()(0)
    assert(twice.getLong(0) === 800L)
  }
}
