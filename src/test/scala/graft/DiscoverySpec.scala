package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Drift, Multimodal, Profile, Referential, Sessionize, TextAnalysis, WebFilter}

/** Batch-29/30 operators: Good–Turing unseen-mass estimate, dedup
  * saturation curve, Hill tail index, join-key containment pre-flight,
  * string column type inference, near-time event duplicates, CUSUM
  * changepoints, Cramér's V, crawl traps, and magic-byte sniffing.
  * Hand-computed values plus exchange-payload/plan pins. */
class DiscoverySpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------- Good–Turing

  test("goodTuring: hand-computed count-of-counts and smoothed probs") {
    // words: a:3 b:2 c:2 d:1 → N=8, N1=1, N2=2, N3=1
    val docs = Seq("a a a b b c", "c d").toDF("text")
    val rows = TextAnalysis.goodTuring(docs, "text").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 1L)))
    val byR = rows.map(r => r.getLong(0) -> r).toMap
    // r=0: unseen mass N1/N = 0.125
    assert(byR(0L).isNullAt(2) && byR(0L).getDouble(3) === 0.125)
    // r=1: r* = 2·N2/N1 = 4 → p = 0.5
    assert(byR(1L).getDouble(2) === 4.0 && byR(1L).getDouble(3) === 0.5)
    // r=2: r* = 3·N3/N2 = 1.5 → p = 0.1875
    assert(byR(2L).getDouble(2) === 1.5 && byR(2L).getDouble(3) === 0.1875)
    // r=3 (max observed): N4 absent → estimator undefined, surfaced
    assert(byR(3L).isNullAt(2) && byR(3L).isNullAt(3))
  }

  // ---------------------------------------------- dedup saturation

  test("duplicateSaturation: per-bucket and cumulative duplicate rates") {
    val docs = Seq((0L, "x0"), (1L, "x1"), (2L, "x0"), (3L, "x2"),
      (4L, "x1"), (5L, "x0"), (6L, "x3"), (7L, "x3"), (8L, "x9"),
      (9L, "x0")).toDF("id", "text")
    val out = Dedup.duplicateSaturation(docs, "id", "text", 5L).collect()
    assert(out.length === 2)
    // bucket 0: dups are ids 2 (x0) and 4 (x1) → 2/5
    assert(out(0).getLong(0) === 0L && out(0).getLong(1) === 5L &&
      out(0).getLong(2) === 2L && out(0).getDouble(3) === 0.4 &&
      out(0).getLong(4) === 2L && out(0).getDouble(5) === 0.4)
    // bucket 1: dups 5 (x0), 7 (x3), 9 (x0) → 3/5; cumulative 5/10
    assert(out(1).getLong(2) === 3L && out(1).getDouble(3) === 0.6 &&
      out(1).getLong(4) === 5L && out(1).getDouble(5) === 0.5)
  }

  test("duplicateSaturation: text never enters an exchange") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Dedup.duplicateSaturation(docs, "doc_id", "text", 100L)
    out.collect()
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text"),
        s"saturation exchange shuffled text: $names")
    }
  }

  // --------------------------------------------------- Hill index

  test("hillTailIndex: hand-computed alpha on a dyadic tail") {
    // top-4 of (16,8,4,2,1,1) with k=3: Σln(xᵢ/2) = ln8+ln4+ln2 = 6ln2
    val df = Seq(16.0, 8.0, 4.0, 2.0, 1.0, 1.0).toDF("v")
    val r = Profile.hillTailIndex(df, "v", k = 3).head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 4L &&
      r.getDouble(2) === 2.0)
    val expected = BigDecimal(3.0 / (6.0 * math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) === expected && expected === 0.721348)
  }

  test("hillTailIndex: insufficient rows and degenerate tail are NULL") {
    val few = Seq(5.0, 4.0).toDF("v")
    val r = Profile.hillTailIndex(few, "v", k = 10).head()
    assert(r.getLong(1) === 2L && r.isNullAt(2) && r.isNullAt(3))
    val flat = Seq(7.0, 7.0, 7.0).toDF("v")
    val r2 = Profile.hillTailIndex(flat, "v", k = 2).head()
    assert(r2.getDouble(2) === 7.0 && r2.isNullAt(3))
    intercept[IllegalArgumentException] {
      Profile.hillTailIndex(few, "v", k = 0)
    }
  }

  // ---------------------------------------------- key containment

  test("keyContainment: hand-computed fractions, NULLs never match") {
    val left = Seq(Some(1), Some(1), Some(2), Some(3), None).toDF("k")
    val right = Seq(1, 3, 4, 5).toDF("k")
    val r = Referential.keyContainment(left, "k", right, "k").head()
    assert(r.getLong(0) === 5L && r.getLong(1) === 4L) // rows, nonnull
    assert(r.getLong(2) === 3L && r.getLong(3) === 4L) // left/right keys
    assert(r.getLong(4) === 2L && r.getLong(5) === 3L) // shared, matched
    assert(r.getDouble(6) === 0.666667 && r.getDouble(7) === 0.75)
  }

  test("keyContainment: empty right side reports zero loudly") {
    val left = Seq(1, 2).toDF("k")
    val right = Seq.empty[Int].toDF("k")
    val r = Referential.keyContainment(left, "k", right, "k").head()
    assert(r.getLong(4) === 0L && r.getDouble(6) === 0.0 &&
      r.getDouble(7) === 0.0)
  }

  // ----------------------------------------------- type inference

  test("typeInference: ladder picks the strictest covering type") {
    val df = Seq(
      ("1", "1.5", "2024-01-15", "true", Option.empty[String]),
      ("2", "7", "2024-13-40", "FALSE", Option.empty[String]))
      .toDF("a", "b", "c", "d", "e")
    val out = Profile.typeInference(df, Seq("a", "b", "c", "d", "e"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getString(7) === "bigint")
    assert(out("b").getString(7) === "double")
    // '2024-13-40' passes the regex but fails the calendar try_cast
    assert(out("c").getLong(5) === 1L && out("c").getString(7) === "string")
    assert(out("d").getString(7) === "boolean")
    assert(out("e").getLong(2) === 2L && out("e").getString(7) === "empty")
    // bigint cells also count as double (the ladder needs the overlap)
    assert(out("a").getLong(4) === 2L)
  }

  test("typeInference: one fused aggregate scan for all columns") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val q = Profile.typeInference(
      docs.selectExpr("CAST(doc_id AS STRING) AS a", "lang AS b"),
      Seq("a", "b"))
    // pre-execution plan: post-collect AQE output prints Initial AND
    // Final plans, double-counting the scan in the string
    val p = q.queryExecution.executedPlan.toString
    assert("FileScan parquet|Scan parquet".r.findAllIn(p).size === 1,
      s"type inference must scan once:\n$p")
    assert(p.contains("partial_"), s"no map-side partials:\n$p")
  }

  // ------------------------------------------ near-time event dups

  test("eventDuplicates: hand-computed pairs, banded == quadratic truth") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq((1L, "k", ts(0)), (2L, "k", ts(5)), (3L, "k", ts(12)),
      (4L, "k", ts(100)), (5L, "m", ts(3)), (6L, "k", ts(22)))
      .toDF("id", "key", "ts")
    val out = Sessionize.eventDuplicates(ev, Seq("key"), "ts", "id", 10L)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // (1,2) gap 5; (2,3) gap 7; (3,6) gap 10 (boundary, bucket-adjacent)
    assert(out.toSeq === Seq((1L, 2L, 5L), (2L, 3L, 7L), (3L, 6L, 10L)))
    // plan: a hash join on (key, bucket) — never a nested loop
    val p = Sessionize.eventDuplicates(ev, Seq("key"), "ts", "id", 10L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"banded self-join must hash-join:\n$p")
  }

  // ------------------------------------------------------ CUSUM

  test("cusum: ramp extremum marks the level shift, ties pick earliest") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L + 7000L)
    val ev = (Seq.fill(2)(0L) ++ Seq.fill(2)(1L) ++
      Seq.fill(6)(2L) ++ Seq.fill(6)(3L)).map(ts).toDF("ts")
    val out = Drift.cusum(ev, "ts").collect()
    // counts 2,2,6,6 → mean 4 → S = −2, −4, −2, 0; peak at bucket 1
    assert(out.map(_.getDouble(2)).toSeq === Seq(-2.0, -4.0, -2.0, 0.0))
    assert(out.map(_.getBoolean(3)).toSeq ===
      Seq(false, true, false, false))
    // all-equal volume → S ≡ 0, earliest bucket flagged
    val flat = Seq(ts(0), ts(1), ts(2)).toDF("ts")
    val f = Drift.cusum(flat, "ts").collect()
    assert(f.forall(_.getDouble(2) === 0.0) &&
      f.map(_.getBoolean(3)).toSeq === Seq(true, false, false))
  }

  // -------------------------------------------------- Cramér's V

  test("cramersV: perfect association 1, independence 0, NULL bucket") {
    val perfect = (Seq.fill(10)(("x", "u")) ++ Seq.fill(10)(("y", "v")))
      .toDF("a", "b")
    val r = Drift.cramersV(perfect, "a", "b").head()
    assert(r.getLong(0) === 20L && r.getLong(1) === 2L &&
      r.getLong(2) === 2L)
    assert(r.getDouble(3) === 20.0 && r.getDouble(4) === 1.0)
    val indep = (for { a <- Seq("x", "y"); b <- Seq("u", "v");
      _ <- 1 to 5 } yield (a, b)).toDF("a", "b")
    val r2 = Drift.cramersV(indep, "a", "b").head()
    assert(r2.getDouble(3) === 0.0 && r2.getDouble(4) === 0.0)
    // single-category side → V undefined, surfaced as NULL
    val degen = Seq(("x", "u"), ("x", "v")).toDF("a", "b")
    assert(Drift.cramersV(degen, "a", "b").head().isNullAt(4))
    // NULL categories form their own bucket
    val withNull = Seq((Some("x"), "u"), (None, "v")).toDF("a", "b")
    assert(Drift.cramersV(withNull, "a", "b").head().getLong(1) === 2L)
  }

  // ------------------------------------------------- crawl traps

  test("crawlTraps: duplicated-pagination host flagged, healthy host not") {
    val urls = ((1 to 6).map(i =>
        s"https://trap.com/cal/p${i % 2}?page=$i") ++
      (1 to 6).map(i => s"https://ok.com/s${i % 3}/art$i") ++
      Seq("not a url")).toDF("url")
    val out = WebFilter.crawlTraps(urls, "url", depth = 1, minPages = 5L)
      .collect().map(r => r.getString(0) -> r).toMap
    val trap = out("trap.com")
    assert(trap.getLong(1) === 6L && trap.getLong(2) === 2L &&
      trap.getDouble(3) === 0.666667 && trap.getDouble(4) === 1.0 &&
      trap.getBoolean(5))
    val ok = out("ok.com")
    assert(ok.getDouble(3) === 0.0 && !ok.getBoolean(5))
    assert(out.contains("<null>")) // unparsable URLs stay visible
  }

  // -------------------------------------------------- magic sniff

  test("magicSniff: magic bytes beat the declared type") {
    val rows = Seq(
      (1L, "89504E470D0A1A0A", Some("image/png")),
      (2L, "FFD8FFE000104A46", Some("image/png")), // lying header
      (3L, "524946460800000057415645", Some("audio/wav")),
      (4L, "524946460800000041564920", Some("audio/wav")), // AVI as wav
      (5L, "5249464608000000DEADBEEF", Some("riff/unknown")),
      (6L, "25504446", Some("application/pdf")),
      (7L, "504B0304", None),
      (8L, "DEADBEEF", Some("image/png")))
      .toDF("id", "hx", "mime")
      .select(col("id"), unhex(col("hx")).as("bin"), col("mime"))
    val out = Multimodal.magicSniff(rows, "id", "bin", "mime")
      .orderBy("id").collect()
    assert(out.map(_.getString(2)).toSeq === Seq("image/png",
      "image/jpeg", "audio/wav", "video/avi", "riff/unknown",
      "application/pdf", "application/zip", "unknown"))
    assert(out.map(r => if (r.isNullAt(3)) None else Some(r.getBoolean(3)))
      .toSeq === Seq(Some(false), Some(true), Some(false), Some(true),
        Some(false), Some(false), None, Some(true)))
    // pure projection: zero exchanges, zero UDFs
    val p = Multimodal.magicSniff(rows, "id", "bin", "mime")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"),
      s"magic sniff must stay a projection:\n$p")
  }

  // ---------------------------------------------- Neyman allocation

  test("neymanAllocation: σ-weighted largest-remainder, caps surfaced") {
    import graft.operators.Mixing
    // A: σ=5 (n=2), B: σ=0 (homogeneous), C: σ=3 (n=2) → W=16
    val df = Seq(("A", 0), ("A", 10), ("B", 4), ("B", 4), ("B", 4),
      ("C", 0), ("C", 6)).toDF("s", "v")
    val out = Mixing.neymanAllocation(df, "s", "v", budget = 5L)
      .collect().map(r => r.getString(0) -> r).toMap
    // raw: A 3.125, B 0, C 1.875 → bases 3/0/1, leftover 1 → C (rem .875)
    assert(out("A").getDouble(2) === 5.0 && out("A").getDouble(3) === 10.0)
    assert(out("B").getDouble(2) === 0.0 && out("B").getLong(4) === 0L)
    assert(out("C").getLong(4) === 2L && !out("C").getBoolean(5))
    // A wants 3 but only has 2 rows → capped
    assert(out("A").getLong(4) === 2L && out("A").getBoolean(5))
  }

  test("neymanAllocation: all-homogeneous strata allocate zero, loudly") {
    import graft.operators.Mixing
    val df = Seq(("A", 7), ("A", 7), (null.asInstanceOf[String], 3))
      .toDF("s", "v")
    val out = Mixing.neymanAllocation(df, "s", "v", budget = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(out === Map("A" -> 0L, "<null>" -> 0L))
  }

  // ------------------------------------------------------ winsorize

  test("winsorize: dyadic fence clips the tails, flags are null-safe") {
    val df = ((1 to 16).map(i => (i.toLong, Some(i))) :+
      (99L, Option.empty[Int])).toDF("id", "v")
    val out = Profile.winsorize(df, "id", "v").orderBy("id").collect()
    // p=1/16 on 1..16: lo = 1.9375, hi = 15.0625
    assert(out(0).getDouble(2) === 1.9375 && out(0).getBoolean(3))
    assert(out(15).getDouble(2) === 15.0625 && out(15).getBoolean(3))
    assert(out(7).getDouble(2) === 8.0 && !out(7).getBoolean(3))
    assert(out(16).isNullAt(2) && out(16).isNullAt(3))
    assert(out.count(r => !r.isNullAt(3) && r.getBoolean(3)) === 2)
  }

  // -------------------------------------------------- JSON key scan

  test("topJsonKeys: counts, tie-break, malformed and null vanish") {
    import graft.sources.JsonIngest
    val df = Seq(Some("""{"a":1,"b":2}"""), Some("""{"a":3}"""),
      Some("{bad"), None).toDF("j")
    val out = JsonIngest.topJsonKeys(df, "j", 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a", 2L), ("b", 1L)))
    val tied = Seq("""{"y":1}""", """{"x":1}""").toDF("j")
    assert(JsonIngest.topJsonKeys(tied, "j", 1).head().getString(0)
      === "x") // count ties break on key asc
  }

  // ------------------------------------------------ shard manifest

  test("shardManifest: order/partitioning-independent digest; count catches doubling") {
    import graft.operators.Packing
    val docs = (1 to 40).map(i => (i % 4L, s"content $i")).toDF("s", "t")
    val a = Packing.shardManifest(docs, "s", "t").collect()
    val b = Packing.shardManifest(docs.orderBy(desc("t")).repartition(7),
      "s", "t").collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    // dropping one row changes that shard's digest
    val dropped = Packing.shardManifest(docs.where(col("t") =!= "content 8"),
      "s", "t").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val orig = a.map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(dropped(0L) !== orig(0L))
    assert(dropped(1L) === orig(1L))
    // XOR blind spot: TWO extra copies cancel back to the original
    // digest — the row count in the same manifest catches it
    val extra = docs.where(col("t") === "content 8")
    val doubled = Packing.shardManifest(
      docs.unionAll(extra).unionAll(extra), "s", "t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    val origRows = a.find(_.getLong(0) == 0L).get.getLong(1)
    assert(doubled(0L)._2 === orig(0L)) // digest blind
    assert(doubled(0L)._1 === origRows + 2) // count catches it
  }

  // ------------------------------------------------------- Z-order

  test("zValue: hand-computed Morton interleave") {
    import graft.sources.Bucketing
    val df = Seq((5L, 3L), (0L, 0L), (1L, 0L), (0L, 1L)).toDF("a", "b")
    val z = df.select(Bucketing.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    // a=101, b=011 → even bits 1,0,1 + odd bits 1,1,0 = 0b11011 = 27
    assert(z.toSeq === Seq(27L, 0L, 1L, 2L))
  }

  test("z-ordered layout prunes on BOTH dimensions") {
    import graft.sources.Bucketing
    val grid = (for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    Bucketing.writeZOrdered(grid, "/tmp/graft_test_zorder", "x", "y", 16)
    val sx = Bucketing.zoneMapSkipStats(spark, "/tmp/graft_test_zorder",
      "x", 0L, 7L).head()
    val sy = Bucketing.zoneMapSkipStats(spark, "/tmp/graft_test_zorder",
      "y", 0L, 7L).head()
    // a 1-D sort would give one of these zero skip; Z-order gives both
    assert(sx.getLong(2) > 0, s"x dim must prune: ${sx.mkString(",")}")
    assert(sy.getLong(2) > 0, s"y dim must prune: ${sy.mkString(",")}")
  }

  // ---------------------------------------------------- rule triage

  test("ruleSummary: counts, distinct docs, bounded exemplars") {
    import graft.operators.ValidationPass
    val v = Seq(("d1", "R1", "x"), ("d1", "R1", "y"), ("d2", "R1", "z"),
      ("d3", "R2", "w")).toDF("doc_id", "rule_id", "offending_value")
    val out = ValidationPass.ruleSummary(v).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("R1").getLong(1) === 3L && out("R1").getLong(2) === 2L)
    assert(out("R1").getString(3) === "d1" &&
      out("R1").getString(4) === "d2")
    assert(out("R2").getLong(1) === 1L && out("R2").getString(3) === "d3")
  }

  // ------------------------------------------------ rare categories

  test("rareCategories: tail flagged, NULL bucketed, exact shares") {
    val df = (Seq.fill(9)(Some("a")) ++ Seq(Some("b"), None)).toDF("c")
    val out = Profile.rareCategories(df, "c", minShare = 0.15)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(2) === 0.818182 && !out("a").getBoolean(3))
    assert(out("b").getBoolean(3) && out("<null>").getBoolean(3))
  }

  // --------------------------------------------- score explanation

  test("scoreExplanation: ranked contributions, ±0 canonical, ties on name") {
    val w = Map("mean_word_len" -> 0.5, "n_words" -> 0.02,
      "punct_ratio" -> -8.0, "stopword_ratio" -> 4.0)
    val df = Seq("the the aa", "xy").toDF("text")
      .select(TextAnalysis.textProfile(col("text")).as("__tp"))
      .select(TextAnalysis.scoreExplanation(col("__tp"), -2.0, w)
        .as("e"))
    val rows = df.collect().map(_.getSeq[org.apache.spark.sql.Row](0))
    // doc 1: stop 0.6667·4 = 2.6668 > mwl 2.6667·0.5 = 1.33335
    assert(rows(0)(0).getString(1) === "stopword_ratio")
    assert(rows(0)(0).getDouble(0) === -2.6668) // negc
    assert(rows(0)(1).getString(1) === "mean_word_len")
    // doc 2 "xy": punct and stop both contribute 0 — the −8·0 term
    // must canonicalize to +0.0 and the tie breaks on feature name
    val zeros = rows(1).drop(2)
    assert(zeros.map(_.getString(1)).toSeq ===
      Seq("punct_ratio", "stopword_ratio"))
    assert(zeros.forall(r => r.getDouble(0) == 0.0 &&
      !(1.0 / r.getDouble(0)).isNegInfinity)) // +0.0, not −0.0
  }
}
