package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Drift

/** Numeric validation of the drift statistics against published values,
  * plus sketch merge associativity (SURVEY.md §7.4 hard part 6). */
class DriftSpec extends AnyFunSuite {

  test("inverse normal CDF matches published quantiles to 1e-6") {
    assert(math.abs(Drift.inverseNormalCdf(0.975) - 1.9599640) < 1e-6)
    assert(math.abs(Drift.inverseNormalCdf(0.995) - 2.5758293) < 1e-6)
    assert(math.abs(Drift.inverseNormalCdf(0.5) - 0.0) < 1e-9)
    assert(math.abs(Drift.inverseNormalCdf(0.025) + 1.9599640) < 1e-6)
  }

  test("chi-square critical values match tables (Wilson–Hilferty, few %)") {
    // published: df=3 α=0.05 → 7.815; df=10 α=0.01 → 23.209; df=19 α=0.01 → 36.191
    assert(math.abs(Drift.chiSquareCritical(3, 0.05) - 7.815) < 0.05)
    assert(math.abs(Drift.chiSquareCritical(10, 0.01) - 23.209) < 0.15)
    assert(math.abs(Drift.chiSquareCritical(19, 0.01) - 36.191) < 0.2)
  }

  test("two-sample KS critical value formula") {
    // c(0.05)=1.358 → crit = 1.358*sqrt(2/n) for equal n
    val crit = Drift.ksCritical(1000, 1000, alpha = 0.05)
    assert(math.abs(crit - 1.3581 * math.sqrt(2.0 / 1000)) < 1e-4)
  }

  test("chi-square statistic: known 2-category example") {
    // observed (60, 40) vs baseline proportions (0.5, 0.5), n=100:
    // chi2 = (60-50)^2/50 + (40-50)^2/50 = 4.0
    val obs = Drift.CategoricalProfile(Map("a" -> 60L, "b" -> 40L))
    val base = Drift.CategoricalProfile(Map("a" -> 500L, "b" -> 500L))
    val (stat, dof) = Drift.chiSquare(obs, base)
    assert(math.abs(stat - 4.0) < 1e-9)
    assert(dof === 1)
  }

  test("PSI: zero on identical profiles, positive under shift, hand-checked value") {
    import graft.operators.Drift.{CategoricalProfile, HistogramProfile}
    val base = CategoricalProfile(Map("a" -> 50L, "b" -> 50L))
    assert(Drift.psi(base, base) === 0.0)
    // hand-computed: p_obs = (0.8, 0.2), p_base = (0.5, 0.5)
    // psi = (0.8-0.5)ln(0.8/0.5) + (0.2-0.5)ln(0.2/0.5)
    val shifted = CategoricalProfile(Map("a" -> 80L, "b" -> 20L))
    val expect = 0.3 * math.log(1.6) + (-0.3) * math.log(0.4)
    assert(math.abs(Drift.psi(shifted, base) - expect) < 1e-12)
    // novel category: eps floor keeps the term finite and positive
    val novel = CategoricalProfile(Map("a" -> 50L, "b" -> 30L, "c" -> 20L))
    val p = Drift.psi(novel, base)
    assert(p > 0 && java.lang.Double.isFinite(p))
    // histogram flavor: aligned-edge requirement + same arithmetic
    val h1 = HistogramProfile(0, 10, Array(0L, 50L, 50L, 0L))
    val h2 = HistogramProfile(0, 10, Array(0L, 80L, 20L, 0L))
    assert(Drift.psiHistogram(h1, h1) === 0.0)
    assert(math.abs(Drift.psiHistogram(h2, h1) - expect) < 1e-9)
    intercept[IllegalArgumentException] {
      Drift.psiHistogram(h1, HistogramProfile(0, 5, Array(0L, 50L, 50L, 0L)))
    }
  }

  test("JSD: zero on identical, ln2 on disjoint, symmetric, hand-checked value") {
    import graft.operators.Drift.CategoricalProfile
    val base = CategoricalProfile(Map("a" -> 50L, "b" -> 50L))
    assert(Drift.jsd(base, base) === 0.0)
    // fully disjoint supports → the JSD upper bound ln 2
    val other = CategoricalProfile(Map("c" -> 10L))
    assert(math.abs(Drift.jsd(base, other) - math.log(2)) < 1e-12)
    // hand-computed: p=(0.8,0.2) vs q=(0.5,0.5), m=(0.65,0.35)
    val shifted = CategoricalProfile(Map("a" -> 80L, "b" -> 20L))
    val expect = (0.8 * math.log(0.8 / 0.65) + 0.2 * math.log(0.2 / 0.35)
      + 0.5 * math.log(0.5 / 0.65) + 0.5 * math.log(0.5 / 0.35)) / 2
    assert(math.abs(Drift.jsd(shifted, base) - expect) < 1e-12)
    assert(Drift.jsd(shifted, base) === Drift.jsd(base, shifted)) // symmetric
  }

  test("per-group KS: shifted group flagged, faithful group not, one grouped agg") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // group "ok" ~ U[0,100); group "bad" ~ U[40,140) — clearly shifted
    val df = spark.range(20000).select(
      when($"id" % 2 === 0, "ok").otherwise("bad").as("g"),
      when($"id" % 2 === 0, ($"id" * 7 % 100).cast("double"))
        .otherwise(($"id" * 7 % 100 + 40).cast("double")).as("v"))
    val base = Drift.numericHistogram(df.where($"g" === "ok"), "v", 0, 100, 50)
    val got = Drift.ksByGroup(df, "g", "v", base)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(got("bad") === true, "shifted group must be flagged")
    assert(got("ok") === false, "the baseline's own group must pass")
  }

  test("histogram buffers merge associatively: (a+b)+c == a+(b+c)") {
    import graft.functions.HistogramBuffer
    def mk(vals: Seq[Double]): HistogramBuffer = {
      val b = new HistogramBuffer(4)
      vals.foreach(b.add(_, 0.0, 10.0))
      b
    }
    val (a, b, c) = (mk(Seq(1, 2, 3)), mk(Seq(-1, 11, 5)), mk(Seq(7.5, 9.9)))
    val left = mk(Nil); left.merge(mk(Seq(1, 2, 3))); left.merge(b); left.merge(c)
    val right1 = mk(Seq(1, 2, 3))
    val bc = mk(Nil); bc.merge(b); bc.merge(c)
    right1.merge(bc)
    assert(left.counts.toSeq === right1.counts.toSeq)
    // under/overflow routed to edge bins
    assert(mk(Seq(-5)).counts(0) === 1)
    assert(mk(Seq(10.0)).counts(5) === 1) // hi is exclusive → overflow bin
  }

  test("histogram unit bins: every integer of the range lands in its own bin") {
    import graft.functions.HistogramBuffer
    // widths 49 and 22 are not powers of two: 1.0 / 49 * 49 rounds to
    // 0.9999999999999999, so dividing before scaling put 1, 2, 4, 8, 16,
    // 27 and 32 (and 15 over 22) one bin low
    for (n <- Seq(49, 22, 64, 7)) {
      val b = new HistogramBuffer(n)
      (0 until n).foreach(v => b.add(v.toDouble, 0.0, n.toDouble))
      assert(b.counts.toSeq === (0L +: Seq.fill(n)(1L) :+ 0L), s"nBins=$n")
    }
  }

  test("ECDF from histogram is monotone and ends at 1") {
    val h = Drift.HistogramProfile(0, 10, Array(1L, 2L, 3L, 0L, 4L, 1L))
    val e = h.ecdf
    assert(e.zip(e.tail).forall { case (x, y) => x <= y })
    assert(math.abs(e.last - 1.0) < 1e-12)
  }

  test("baseline profiles round-trip through parquet exactly") {
    val spark = SparkSpec.session
    import graft.sources.SeqTableGen
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_store").toString
    val df = SeqTableGen.generate(spark, 5000, withViolations = false)
    val hist = Drift.numericHistogram(df, "n_tok", 0, 300, 64)
    val freq = Drift.categoricalFreq(df, "source")
    Drift.saveHistogram(spark, dir, hist)
    Drift.saveFreq(spark, dir, freq)
    val hist2 = Drift.loadHistogram(spark, dir)
    val freq2 = Drift.loadFreq(spark, dir)
    assert(hist2.lo === hist.lo && hist2.hi === hist.hi)
    assert(hist2.counts.toSeq === hist.counts.toSeq)
    assert(freq2.freq === freq.freq)
    // the reloaded baseline produces identical verdicts, and a corpus
    // checked against its own stored profile never drifts
    val v1 = Drift.check(df, "n_tok", hist, "source", freq)
    val v2 = Drift.check(df, "n_tok", hist2, "source", freq2)
    assert(v1 === v2)
    assert(!v2.ksDrifted && !v2.chiDrifted)
  }

  test("contingencyChiSquare: zero under independence, 20 on the diagonal 2x2") {
    val spark = SparkSpec.session
    import spark.implicits._
    // perfectly independent 2x2: every observed cell equals expectation
    val indep =
      (Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
        Seq.fill(5)(("b", "x")) ++ Seq.fill(5)(("b", "y"))).toDF("s", "l")
    val r1 = Drift.contingencyChiSquare(indep, "s", "l").head()
    assert(r1.getAs[Long]("n") === 30L)
    assert(r1.getAs[Long]("dof") === 1L)
    assert(r1.getAs[Double]("chi_square") === 0.0)
    // diagonal-only 2x2 with EMPTY off-diagonal cells: e = 5 per cell,
    // chi = 4 * (5-0..10 dev)^2/5 = 20 — the empty cells MUST
    // contribute (the dropped-cell bug reported 10)
    val diag = (Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("b", "y")))
      .toDF("s", "l")
    val r2 = Drift.contingencyChiSquare(diag, "s", "l").head()
    assert(r2.getAs[Double]("chi_square") === 20.0)
    assert(r2.getAs[Long]("dof") === 1L)
    // NULLs form their own category
    val withNull = (Seq(("a", "x"), ("a", null), ("b", "x")))
      .toDF("s", "l")
    val r3 = Drift.contingencyChiSquare(withNull, "s", "l").head()
    assert(r3.getAs[Long]("n") === 3L)
    assert(r3.getAs[Long]("dof") === 1L)
  }

  test("cohen kappa: textbook 2x2, skew-chance correction, degenerate and null cases") {
    val spark = SparkSpec.session
    import spark.implicits._
    // classic: 20 yes/yes, 15 no/no, 10 yes/no, 5 no/yes of 50
    // p_o = 35/50 = 0.7; margins a: yes 30, b: yes 25
    // p_e = 0.6*0.5 + 0.4*0.5 = 0.5 → kappa = 0.4
    val rows = Seq.fill(20)(("yes", "yes")) ++ Seq.fill(15)(("no", "no")) ++
      Seq.fill(10)(("yes", "no")) ++ Seq.fill(5)(("no", "yes"))
    val r = Drift.cohenKappa(rows.toDF("a", "b"), "a", "b").head()
    assert(r.getAs[Long]("n") === 50L)
    assert(r.getAs[Double]("p_o") === 0.7)
    assert(r.getAs[Double]("p_e") === 0.5)
    assert(r.getAs[Double]("kappa") === 0.4)
    // both constant and equal: p_e = 1, total agreement → kappa 1
    val const = Drift.cohenKappa(
      Seq(("x", "x"), ("x", "x")).toDF("a", "b"), "a", "b").head()
    assert(const.getAs[Double]("kappa") === 1.0)
    // disjoint label sets: p_e = 0, p_o = 0 → kappa 0
    val disj = Drift.cohenKappa(
      Seq(("x", "y"), ("x", "y")).toDF("a", "b"), "a", "b").head()
    assert(disj.getAs[Double]("p_e") === 0.0)
    assert(disj.getAs[Double]("kappa") === 0.0)
    // null labels are the '<null>' category: null==null is agreement
    val withNull = Drift.cohenKappa(Seq(
      (null.asInstanceOf[String], null.asInstanceOf[String]),
      ("x", "x"), ("x", null.asInstanceOf[String])).toDF("a", "b"),
      "a", "b").head()
    assert(withNull.getAs[Double]("p_o") === 0.666667)
  }

  test("qqQuantiles: matched deciles, constant shift shows in every diff") {
    val spark = SparkSpec.session
    import spark.implicits._
    val a = (1L to 9L).toSeq.toDF("v")
    val b = (1L to 9L).map(_ + 10L).toSeq.toDF("v")
    val got = Drift.qqQuantiles(a, b, "v", Seq(0.25, 0.5, 0.75))
      .as[(Double, Double, Double, Double)].collect().toSeq
    // positions p·(n−1) on 1..9: 0.25→3.0, 0.5→5.0, 0.75→7.0
    assert(got === Seq(
      (0.25, 3.0, 13.0, 10.0), (0.5, 5.0, 15.0, 10.0),
      (0.75, 7.0, 17.0, 10.0)))
    // interpolated position: p=0.5 over 1..4 → 2.5
    val frac = Drift.qqQuantiles((1L to 4L).toSeq.toDF("v"),
      (1L to 4L).toSeq.toDF("v"), "v", Seq(0.5))
      .as[(Double, Double, Double, Double)].collect().head
    assert(frac === ((0.5, 2.5, 2.5, 0.0)))
  }

  test("qqQuantilesSplit: bit-identical to the two-frame spelling") {
    val spark = SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ps = Seq(0.125, 0.25, 0.5, 0.75, 0.875)
    // uneven sides, repeated values, a null value row, a null key row
    val rows = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (2L, 11L), (3L, 11L), (4L, 13L), (5L, 10L),
      (6L, 27L), (7L, 27L), (8L, 31L), (9L, null), (null, 40L))
    val df = rows.toDF("k", "v")
    val condA = col("k") % 2 === 0
    val condB = col("k") % 2 =!= 0
    val two = Drift.qqQuantiles(df.where(condA), df.where(condB), "v", ps)
      .collect().toSeq
    val one = Drift.qqQuantilesSplit(df, condA, condB, "v", ps)
      .collect().toSeq
    assert(one === two)
    // large LCG frame: exercises the primitive quicksort path (many
    // distinct doubles, duplicates, both sides interleaved)
    val big = spark.range(50000).selectExpr("id AS k",
      "CAST((id * 1103515245 + 12345) % 8191 AS DOUBLE) AS v")
    val bigA = col("k") % 3 === 0
    val bigB = col("k") % 3 =!= 0
    val twoB = Drift.qqQuantiles(big.where(bigA), big.where(bigB), "v", ps)
      .collect().toSeq
    val oneB = Drift.qqQuantilesSplit(big, bigA, bigB, "v", ps)
      .collect().toSeq
    assert(oneB === twoB)
    // empty side ⇒ empty result, both spellings
    val condNone = col("k") > 100
    assert(Drift.qqQuantilesSplit(df, condA, condNone, "v", ps).count()
      === 0L)
    assert(Drift.qqQuantiles(df.where(condA), df.where(condNone), "v", ps)
      .count() === 0L)
  }

  test("qqQuantilesSplit: the buffered-percentile fallback is bit-identical to the two-frame spelling") {
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions.col
    // 2^20 + 2 distinct values overflow the one-scan histogram budget
    // (2^20), so the split takes its buffered `percentile` branch; each
    // side alone holds 2^19 + 1 values, so the two-frame oracle stays on
    // its histogram path. v is a permutation of 0 until 2^20 + 2
    // (7919 is prime to 2^20 + 2 = 2·3·174763), so the sides interleave
    val n = (1L << 20) + 2
    val df = spark.range(n).selectExpr("id AS k", s"CAST(id * 7919 % $n AS DOUBLE) AS v")
    val condA = col("k") % 2 === 0
    val condB = col("k") % 2 =!= 0
    val ps = Seq(0.0, 0.001, 0.25, 1.0 / 3, 0.5, 0.9, 0.999, 1.0)
    val two = Drift.qqQuantiles(df.where(condA), df.where(condB), "v", ps)
      .collect().toSeq
    val one = Drift.qqQuantilesSplit(df, condA, condB, "v", ps)
      .collect().toSeq
    assert(two.length === ps.length)
    assert(one === two)
  }

  test("rankBiasedOverlap: identity, disjoint, and head-weighted cases") {
    val spark = SparkSpec.session
    import spark.implicits._
    def ranks(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }
        .toDF("id", "rank")
    // identical prefixes: X_d = d → RBO = 1 − p^k
    val same = Drift.rankBiasedOverlap(
      ranks(Seq(10L, 20L, 30L)), ranks(Seq(10L, 20L, 30L)),
      "id", "rank", k = 3, p = 0.5).head()
    assert(same.getAs[Double]("rbo") === 0.875) // 1 − 0.5³
    assert(same.getAs[Long]("n_common") === 3L)
    // disjoint → 0
    val disj = Drift.rankBiasedOverlap(
      ranks(Seq(1L, 2L)), ranks(Seq(8L, 9L)), "id", "rank", 2, 0.5)
      .head()
    assert(disj.getAs[Double]("rbo") === 0.0)
    // head agreement outweighs tail agreement at the same overlap size
    val headAgree = Drift.rankBiasedOverlap(
      ranks(Seq(1L, 2L, 3L)), ranks(Seq(1L, 8L, 9L)), "id", "rank", 3, 0.5)
      .head().getAs[Double]("rbo")
    val tailAgree = Drift.rankBiasedOverlap(
      ranks(Seq(1L, 2L, 3L)), ranks(Seq(8L, 9L, 3L)), "id", "rank", 3, 0.5)
      .head().getAs[Double]("rbo")
    assert(headAgree > tailAgree)
  }

  test("theilSenTrend: one spike day cannot move the robust fit") {
    val spark = SparkSpec.session
    import spark.implicits._
    // clean slope 1 with a 100× outlier at x=4: 6 of 10 pairwise
    // slopes are exactly 1, so the median stays 1 and the intercept 0
    val pts = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0),
      (4.0, 400.0)).toDF("x", "y")
    val got = Drift.theilSenTrend(pts, "x", "y").head()
    assert(got.getAs[Long]("n_points") === 5L)
    assert(got.getAs[Double]("slope") === 1.0)
    assert(got.getAs[Double]("intercept") === 0.0)
    // degenerate: a single point has no trend
    val one = Drift.theilSenTrend(Seq((1.0, 5.0)).toDF("x", "y"), "x", "y")
      .head()
    assert(one.getAs[Long]("n_points") === 1L)
    assert(one.isNullAt(one.fieldIndex("slope")))
    // all x equal → no defined slope, loudly
    intercept[IllegalArgumentException] {
      Drift.theilSenTrend(Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y"),
        "x", "y").head()
    }
  }

  test("sortHistByKey: sorted, reversed, organ-pipe and median-of-three-killer inputs") {
    val n = 1 << 16
    val k = n / 2
    // Musser's median-of-three killer (Introspective Sorting, 1997)
    val killer = new Array[Double](n)
    for (i <- 1 to k) {
      if (i % 2 == 1) { killer(i - 1) = i; killer(i) = k + i }
      killer(k + i - 1) = 2 * i
    }
    val inputs = Seq(
      "sorted" -> Array.tabulate(n)(_.toDouble),
      "reversed" -> Array.tabulate(n)(i => (n - i).toDouble),
      "organ-pipe" -> Array.tabulate(n)(i => math.min(i, n - 1 - i).toDouble),
      "median-of-three killer" -> killer)
    for ((name, keys0) <- inputs) {
      val keys = keys0.clone()
      // both count arrays carry the original index, so alignment is checkable
      val a = Array.tabulate(n)(_.toLong)
      val b = Array.tabulate(n)(i => -i.toLong)
      Drift.sortHistByKey(keys, a, b)
      val expected = keys0.clone()
      java.util.Arrays.sort(expected)
      assert(java.util.Arrays.equals(keys, expected), name)
      assert((0 until n).forall(i => keys0(a(i).toInt) == keys(i) && b(i) == -a(i)), name)
    }
  }
}
