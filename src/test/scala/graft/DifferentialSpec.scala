package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions
import graft.operators.{Dedup, TextAnalysis}

/** Differential tests: every native Expression that replaced a
  * Column/HOF spelling must agree with the original formula on real
  * documents AND adversarial strings. This pins the semantics of the
  * round-2 performance rewrites — a regression here means the fast path
  * silently changed meaning, which no throughput number excuses. */
class DifferentialSpec extends SparkSpec {
  import spark.implicits._


  /** Real docs + adversarial corpus: empty, whitespace-only, unicode,
    * digits/punct runs, mixed scripts, stopword-dense per language. */
  lazy val corpus = {
    val adversarial = Seq(
      "", "   ", "\t\n", "a", "A.", "...", "!!!x!!!",
      "123 4567 89", "abc123 def456", "MiXeD CaSe WORDS lower",
      "the the the and of to in is that it was for",
      "el la de que y en los se del las",
      "der die und das ist von den mit für auf",
      "le la les de des et est dans que une",
      "这是一个中文句子我们的大", "zzz qqq xxx yyy",
      "word", "two words", "  leading and trailing  ",
      "punct,separated;words:here", "tab\tseparated\twords",
      "ALLCAPS 100% DIGITS 42 and punct!!!").toDF("text")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(120)
      .unionByName(adversarial)
      .cache()
  }

  // the round-1 Column spellings, reproduced verbatim as the reference
  private def wordsHof(t: Column): Column =
    filter(split(lower(trim(t)), "\\s+"), w => w =!= "")

  private def bpeishHof(t: Column): Column =
    size(filter(
      split(t, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"),
      x => x.rlike("^\\S")))

  private def langIdHof(t: Column): Column = {
    val ws = wordsHof(t)
    val scored = TextAnalysis.StopwordProfiles.toSeq.sortBy(_._1).map {
      case (lang, stops) =>
        val score =
          if (lang == "zh")
            stops.map(s => when(t.contains(s), 1).otherwise(0)).reduce(_ + _)
          else
            size(array_intersect(array_distinct(ws), typedLit(stops)))
        struct(score.cast("int").as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  test("TextProfile.n_words / mean_word_len / ratios match the HOF formulas") {
    val t = col("text")
    val ws = wordsHof(t)
    val nChars = length(t).cast("double")
    val oldMeanWordLen = when(size(ws) > 0,
      aggregate(transform(ws, w => length(w).cast("double")), lit(0.0), _ + _)
        / size(ws)).otherwise(lit(0.0))
    val oldPunct = (nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))) /
      greatest(nChars, lit(1.0))
    val oldUpper = (nChars - length(regexp_replace(t, "[A-Z]", ""))) /
      greatest(nChars, lit(1.0))
    val oldDigit = (nChars - length(regexp_replace(t, "[0-9]", ""))) /
      greatest(nChars, lit(1.0))
    val enStops = TextAnalysis.StopwordProfiles("en")
    val oldStopRatio = when(size(ws) > 0,
      size(filter(ws, w => w.isin(enStops: _*))).cast("double") / size(ws))
      .otherwise(lit(0.0))

    val rows = corpus.select(
      t,
      TextAnalysis.textProfile(t).as("tp"),
      size(array_distinct(ws)).as("old_n_distinct"),
      size(ws).as("old_n_words"),
      bpeishHof(t).as("old_bpeish"),
      oldMeanWordLen.as("old_mwl"),
      oldPunct.as("old_punct"),
      oldUpper.as("old_upper"),
      oldDigit.as("old_digit"),
      oldStopRatio.as("old_stop"),
      langIdHof(t).as("old_lang")).collect()

    rows.foreach { r =>
      val text = r.getString(0)
      val tp = r.getStruct(1)
      def ctx = s"text='${text.take(40).replace("\n", "\\n")}'"
      def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
      assert(tp.getAs[Int]("n_words") === r.getAs[Int]("old_n_words"), ctx)
      assert(tp.getAs[Int]("n_distinct_words") === r.getAs[Int]("old_n_distinct"), ctx)
      assert(tp.getAs[Int]("n_bpeish") === r.getAs[Int]("old_bpeish"), ctx)
      assert(close(tp.getAs[Double]("mean_word_len"), r.getAs[Double]("old_mwl")), ctx)
      assert(close(tp.getAs[Double]("punct_ratio"), r.getAs[Double]("old_punct")), ctx)
      assert(close(tp.getAs[Double]("upper_ratio"), r.getAs[Double]("old_upper")), ctx)
      assert(close(tp.getAs[Double]("digit_ratio"), r.getAs[Double]("old_digit")), ctx)
      assert(close(tp.getAs[Double]("stopword_ratio"), r.getAs[Double]("old_stop")), ctx)
      assert(tp.getAs[String]("lang") === r.getAs[String]("old_lang"), ctx)
    }
  }

  test("wordIds token count equals TextProfile n_words on adversarial strings") {
    // two independent native word-split loops must agree everywhere —
    // a divergence would desync q_tokenize from q_token_counts
    val vocab = Seq("the", "a", "words") // partial on purpose: unks still count
    val diff = corpus.select(
        size(TextExpressions.wordIds($"text", vocab)).as("n_ids"),
        TextExpressions.textProfile($"text").getField("n_words").as("n_words"))
      .where($"n_ids" =!= $"n_words")
    assert(diff.count() === 0)
    // and the HOF reference spelling agrees too
    val diff2 = corpus.select(
        size(TextExpressions.wordIds($"text", vocab)).as("n_ids"),
        size(wordsHof($"text")).as("n_hof"))
      .where($"n_ids" =!= $"n_hof")
    assert(diff2.count() === 0)
  }

  test("simhash over native word split equals simhash over the HOF split (non-empty)") {
    // scope = texts with at least one word: the documented divergence is
    // exactly the zero-word case (native yields [""], HOF yields [])
    val nonEmpty = corpus.where(size(wordsHof(col("text"))) > 0)
    val both = nonEmpty.select(
      TextExpressions.simhash64(wordsHof(col("text"))).as("old"),
      TextExpressions.simhash64(Dedup.shingles(col("text"), 1)).as("neu"))
    assert(both.where(col("old") =!= col("neu")).count() === 0)
  }

  test("native multi-enum predicate matches the forall/filter HOF spelling") {
    graft.functions.Registry.register(spark)
    val vocab = Seq("a", "bb", "c c") // incl. a vocab entry with an inner space
    val cells = Seq(
      "a", "a;bb", " a ; bb ", "a;;bb", ";a;", "a;x", "x", "", ";", " ; ",
      "c c", "a;c c", "\ta", "a\t", "a ;\tbb", "A", "a;A", "a;bb;c c;a").toDF("c")
    val hof = {
      val tokens = filter(transform(split(col("c"), ";"), t => trim(t)), t => t =!= "")
      size(tokens) > 0 && forall(tokens, t => t.isin(vocab: _*))
    }
    val native = call_function("graft_multienum_valid", col("c"), typedLit(vocab))
    val diff = cells.select(col("c"), hof.as("old"), native.as("neu"))
      .where(col("old") =!= col("neu")).collect()
    assert(diff.isEmpty, diff.map(_.getString(0)).mkString("mismatch on: '", "', '", "'"))
  }

  test("hyperplane bucket: deterministic, seed-sensitive, sign-symmetric") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).cache()
    val b1 = embs.select(col("vec_id"),
      Dedup.hyperplaneBucket(col("embedding"), 64, 12, 7).as("b")).collect()
    val b2 = embs.select(col("vec_id"),
      Dedup.hyperplaneBucket(col("embedding"), 64, 12, 7).as("b")).collect()
    assert(b1.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      b2.map(r => (r.getLong(0), r.getLong(1))).toSet) // deterministic
    val other = embs.select(
      Dedup.hyperplaneBucket(col("embedding"), 64, 12, 7).as("a"),
      Dedup.hyperplaneBucket(col("embedding"), 64, 12, 8).as("b"))
    assert(other.where(col("a") =!= col("b")).count() > 0) // seed matters
    // negating the vector flips every sign bit (ties at 0 aside):
    // bucket(v) XOR bucket(-v) = all-ones unless some dot is exactly 0
    val neg = embs.select(
      Dedup.hyperplaneBucket(col("embedding"), 64, 12, 7).as("a"),
      Dedup.hyperplaneBucket(
        transform(col("embedding"), x => -x), 64, 12, 7).as("b"))
    val xored = neg.select(
      (col("a").bitwiseXOR(col("b"))).as("x")).collect().map(_.getLong(0))
    assert(xored.forall(_ == 0xFFFL), s"expected complement buckets: ${xored.toSeq}")
  }

  test("tokenGrams equals set-of-windows semantics on random token arrays") {
    import graft.functions.ShingleExpression
    // property: for any array and n, the native expression returns
    // exactly the distinct n-windows (as a SET), sorted — checked by
    // comparing match-counts between the native hash path and a
    // driver-computed window-content path across random pairs
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map { i =>
      val len = rnd.nextInt(12)
      (i, Seq.fill(len)(rnd.nextInt(5))) // tiny alphabet → real collisions
    }
    val df = rows.toDF("id", "tokens")
    for (n <- Seq(1, 2, 3, 5)) {
      val got = df.select($"id", ShingleExpression.tokenGrams($"tokens", n).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val naive = rows.map { case (id, ts) =>
        id -> ts.sliding(n).filter(_.length == n).map(_.toList).toSet
      }.toMap
      // same gram-set SIZE per doc (hashes are injective on these tiny
      // windows with overwhelming probability), sorted, distinct
      rows.foreach { case (id, _) =>
        assert(got(id).length === naive(id).size, s"id=$id n=$n")
        assert(got(id) === got(id).sorted.distinct, s"id=$id n=$n not sorted-distinct")
      }
      // cross-doc: equal windows hash equal — docs sharing a window in
      // content must share one in hash space
      val hashSets = got.map { case (k, v) => k -> v.toSet }
      for ((a, sa) <- naive; (b, sb) <- naive if a < b) {
        val contentShared = sa.intersect(sb).nonEmpty
        val hashShared = hashSets(a).intersect(hashSets(b)).nonEmpty
        assert(contentShared === hashShared, s"pair ($a,$b) n=$n")
      }
    }
  }
}
