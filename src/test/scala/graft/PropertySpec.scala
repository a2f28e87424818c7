package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.norm.Normalize
import graft.operators.ValidationPass
import graft.sources.SeqTableGen

/** Property tests (SURVEY.md §5c): normalization idempotence, sentinel
  * totality, violation-count invariance under repartition. Raw ScalaCheck
  * generators sampled with fixed seeds (the scalatest bridge artifact is
  * not in the offline cache). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkSpec.session
  import spark.implicits._

  val anyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.oneOf("", " ", "  ", "none", "None", "nan", "NaN", "NAN", "N/A", "n/a", "NA"),
    Gen.asciiPrintableStr)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("normalization is idempotent: norm(norm(x)) == norm(x)") {
    samples(Gen.listOfN(30, anyString), 20).filter(_.nonEmpty).foreach { xs =>
      val df = xs.toDF("v")
      val once = df.select(Normalize.normalizeNullLike(col("v")).as("v"))
      val twice = once.select(Normalize.normalizeNullLike(col("v")).as("v"))
      assert(once.collect().map(_.getString(0)).toSeq ===
        twice.collect().map(_.getString(0)).toSeq, s"input: $xs")
    }
  }

  test("normalized values are never missing (sentinel fills all holes)") {
    samples(Gen.listOfN(30, Gen.option(anyString)), 20).filter(_.nonEmpty).foreach { xs =>
      val df = xs.toDF("v")
      val n = df.select(Normalize.normalizeNullLike(col("v")).as("v"))
        .where(Normalize.missingMask(col("v"))).count()
      assert(n === 0L, s"input: $xs")
    }
  }

  test("bounded per-rule offender aggregate equals the single-window top-cap") {
    import org.apache.spark.sql.expressions.Window
    val gen = for {
      nRules <- Gen.choose(1, 4)
      n <- Gen.choose(1, 150)
      nValues <- Gen.choose(1, 60)
      cap <- Gen.oneOf(Gen.choose(1, 15), Gen.const(Int.MaxValue))
      parts <- Gen.oneOf(1, 3, 8)
    } yield (nRules, n, nValues, cap, parts)
    samples(gen, 12).foreach { case (nRules, n, nValues, cap, parts) =>
      // violations frame: row key i yields at most one cell per rule (the
      // production invariant ⇒ distinct values have distinct min keys);
      // values repeat across rows, so n_cells > 1 and first_key = min
      val vio = (0 until n).flatMap { i =>
        (0 until nRules).filter(r => (i + r) % 3 != 0)
          .map(r => (i.toLong, s"R$r", s"v${(i * 7 + r) % nValues}"))
      }.toDF("k", "rule_id", "offending_value").repartition(parts)
      val got = ValidationPass.offenderSummary(vio, "k", cap).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getSeq[String](3)))
        .toMap
      // oracle: the single-window spelling over the distinct-offenders frame
      val grouped = vio.groupBy(col("rule_id"), col("offending_value"))
        .agg(count(lit(1)).as("n_cells"), min(col("k")).as("first_key"))
      val w = Window.partitionBy(col("rule_id")).orderBy(col("first_key"))
      val listed = grouped.withColumn("r", row_number().over(w))
        .where(col("r") <= cap).collect()
        .groupBy(_.getString(0)).map { case (rule, rs) =>
          rule -> rs.sortBy(_.getInt(4)).map(_.getString(1)).toSeq }
      val expected = grouped.groupBy(col("rule_id"))
        .agg(sum(col("n_cells")), count(lit(1))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), listed(r.getString(0))))
        .toMap
      assert(got === expected, s"nRules=$nRules n=$n nValues=$nValues cap=$cap parts=$parts")
    }
  }

  test("min-k-by merge is order-independent: any split and merge order gives the union's k smallest") {
    import graft.functions.MinKBuffer
    val gen = for {
      n <- Gen.choose(0, 200)
      keys <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      k <- Gen.oneOf(Gen.choose(1, 20), Gen.const(Int.MaxValue))
      nParts <- Gen.choose(1, 6)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (keys, k, nParts, seed)
    samples(gen, 40).foreach { case (keys, k, nParts, seed) =>
      val rnd = new scala.util.Random(seed)
      def fold(ks: Seq[Long]): MinKBuffer = {
        val parts = ks.groupBy(_ => rnd.nextInt(nParts)).values.toSeq
        val bufs = rnd.shuffle(parts).map { p =>
          val b = new MinKBuffer(k); p.foreach(x => b.add(x, s"p$x")); b
        }
        val out = new MinKBuffer(k)
        rnd.shuffle(bufs).foreach(out.merge)
        out
      }
      val expected = keys.distinct.sorted.take(k)
      Seq(keys, rnd.shuffle(keys)).map(fold).foreach { b =>
        assert(b.sortedKeys.toSeq === expected, s"k=$k parts=$nParts keys=$keys")
        assert(b.sortedValues.toSeq === expected.map(x => s"p$x"))
      }
    }
  }

  test("greedy packing matches a driver-side reference fold on random corpora") {
    val gen = for {
      nGroups <- Gen.choose(1, 4)
      n <- Gen.choose(1, 60)
      budget <- Gen.choose(5L, 40L)
      costs <- Gen.listOfN(n, Gen.choose(0L, 50L)) // incl. oversized + zero
    } yield (nGroups, budget, costs)
    samples(gen, 12).foreach { case (nGroups, budget, costs) =>
      val rows = costs.zipWithIndex.map { case (c, i) => (s"g${i % nGroups}", i.toLong, c) }
      val got = graft.operators.Packing
        .greedyPack(rows.toDF("source", "doc_id", "cost"), "source", "doc_id", "cost", budget)
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getInt(5)))
        .sortBy(t => (t._1, t._2))
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        var pack = 0L; var acc = 0L; var pos = 0
        rs.sortBy(_._2).map { case (_, id, c) =>
          if (acc > 0 && acc + c > budget) { pack += 1; acc = 0; pos = 0 }
          acc += c
          val out = (g, id, pack, pos); pos += 1; out
        }
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq === expected, s"nGroups=$nGroups budget=$budget costs=$costs")
    }
  }

  test("url canonicalization: idempotent, tracking-free, sorted, lowercased host") {
    import graft.functions.CanonicalUrl.canonicalize
    // letter-led labels: an all-numeric final host label (e.g. "a.6")
    // reads as a malformed IPv4 to java.net.URI and correctly → null
    val seg = for {
      h <- Gen.alphaChar
      t <- Gen.listOf(Gen.alphaNumChar)
    } yield (h :: t).mkString.take(8)
    val param = for {
      k <- Gen.oneOf(seg, Gen.const("utm_x"), Gen.const("fbclid"))
      v <- seg
    } yield s"$k=$v"
    val url = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      host <- Gen.listOfN(2, seg).map(_.mkString("."))
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf(Gen.const(""), seg.map("/" + _))
      params <- Gen.listOf(param)
      frag <- Gen.oneOf("", "#frag")
    } yield s"$scheme://$host$port$path" +
      (if (params.nonEmpty) "?" + params.mkString("&") else "") + frag
    samples(url, 60).foreach { u =>
      val c = canonicalize(u)
      assert(c != null, s"parse failed on generated url $u")
      assert(canonicalize(c) === c, s"not idempotent: $u -> $c")
      assert(!c.contains("#") && !c.contains("utm_") && !c.contains("fbclid"), s"$u -> $c")
      val host = c.stripPrefix("http://").stripPrefix("https://").takeWhile(ch => ch != '/' && ch != ':')
      assert(host === host.toLowerCase(java.util.Locale.ROOT), s"$u -> $c")
      val qIdx = c.indexOf('?')
      if (qIdx >= 0) {
        val ps = c.substring(qIdx + 1).split("&").toSeq
        assert(ps === ps.sorted, s"params unsorted: $u -> $c")
      }
    }
  }

  test("violation counts are invariant under repartitioning") {
    val base = SeqTableGen.generate(spark, 5000)
    val constraints = ValidationPass.seqConstraints(SeqTableGen.Vocab, SeqTableGen.Sources)
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      ValidationPass.seqViolations(df, constraints)
        .groupBy("rule_id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = counts(base)
    samples(Gen.choose(1, 13), 6).foreach { parts =>
      assert(counts(base.repartition(parts)) === expected, s"parts=$parts")
    }
  }

  test("kendallTau is invariant under strictly monotone transforms") {
    import graft.operators.Profile
    val pairs = samples(Gen.listOfN(20,
      Gen.zip(Gen.choose(-50L, 50L), Gen.choose(-50L, 50L))), 5)
      .filter(_.size > 3)
    def tau(df: org.apache.spark.sql.DataFrame): Option[Double] = {
      val r = Profile.kendallTau(df, "x", "y").collect()(0)
      if (r.isNullAt(5)) None else Some(r.getDouble(5))
    }
    pairs.foreach { xs =>
      val base = xs.toDF("x", "y")
      // x -> 3x + 7 (strictly increasing, rank-preserving, tie-preserving)
      val mono = base.select((col("x") * 3 + 7).as("x"), col("y"))
      assert(tau(base) === tau(mono), s"input: $xs")
      // x -> -x flips every concordance: tau negates (ties unchanged)
      val neg = base.select((col("x") * -1).as("x"), col("y"))
      (tau(base), tau(neg)) match {
        case (Some(a), Some(b)) => assert(math.abs(a + b) < 1e-9,
          s"negation should negate tau: $a vs $b, input: $xs")
        case (a, b) => assert(a.isEmpty === b.isEmpty)
      }
    }
  }

  test("conformalQuantile coverage meets the finite-sample guarantee " +
      "when calibration and test are exchangeable (identical splits)") {
    import graft.operators.Profile
    samples(Gen.listOfN(40, Gen.choose(0L, 1000L)), 8)
      .filter(_.size > 10).foreach { xs =>
      val df = xs.toDF("s")
      // cal == test: empirical coverage of the conformal quantile on
      // the SAME distribution must be >= 1 - alpha by construction
      val r = Profile.conformalQuantile(df, df, "s", 1, 10).collect()(0)
      assert(!r.isNullAt(6) && r.getDouble(6) >= 0.9 - 1e-9,
        s"coverage ${r.getDouble(6)} < 0.9, input: $xs")
    }
  }
}
