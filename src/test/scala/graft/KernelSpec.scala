package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.functions._

import graft.functions.{KernelExpression, MatchExpressions, Registry, ShingleExpression,
  TextExpressions}

/** One table-driven pass over every [[KernelExpression]] entry of
  * [[Registry.all]]: NULL in gives NULL out, a wrong input type fails at
  * analysis naming the function, the auto-generated column name is the
  * call, and two equal calls are one expression to Catalyst. A bad
  * constant fails when the call is built. The fingerprint kernels are
  * pinned to fixed values on edge texts and checked against each other. */
class KernelSpec extends SparkSpec {

  /** A kernel call: data columns of the right type, the constants, and
    * the SQL of any constant the column name shows (the literals). */
  private case class Call(data: Seq[String], consts: Seq[Column] = Nil, shown: String = "")

  private val calls: Map[String, Call] = Map(
    "graft_hyperplane_bucket" -> Call(Seq("vec"), Seq(lit(2), lit(8), lit(1))),
    "graft_vec_stats" -> Call(Seq("vec")),
    "graft_pq_encode" -> Call(Seq("vec"), Seq(typedLit(Seq(Seq(Seq(1f))))),
      "ARRAY(ARRAY(ARRAY(CAST('1.0' AS FLOAT))))"),
    "graft_pq_adc" -> Call(Seq("codes"), Seq(typedLit(Seq(Seq(1.0)))), "ARRAY(ARRAY(1.0D))"),
    "graft_diag_mahalanobis" -> Call(Seq("vec"), Seq(typedLit(Seq(Seq(1.0), Seq(1.0)))),
      "ARRAY(ARRAY(1.0D), ARRAY(1.0D))"),
    "graft_simhash64" -> Call(Seq("toks")),
    "graft_fingerprint" -> Call(Seq("s"), Seq(lit(5))),
    "graft_winnow" -> Call(Seq("s"), Seq(lit(5), lit(4))),
    "graft_winnow_md5" -> Call(Seq("s"), Seq(lit(5), lit(4))),
    "graft_text_profile" -> Call(Seq("s")),
    "graft_normalize_text" -> Call(Seq("s"), Seq(lit("NFC"))),
    "graft_compression_ratio" -> Call(Seq("s")),
    "graft_char_entropy" -> Call(Seq("s")),
    "graft_repetition_signals" -> Call(Seq("s"), Seq(lit(2), lit(3))),
    "graft_bpe_apply" -> Call(Seq("s"), Seq(typedLit(Seq("a")), typedLit(Seq("b")))),
    "graft_cdc_boundaries" -> Call(Seq("s"), Seq(lit(4), lit(2), lit(37L))),
    "graft_cdc_chunk_hashes" -> Call(Seq("s"), Seq(lit(4), lit(0), lit(37L))),
    "graft_word_ids" -> Call(Seq("s"), Seq(typedLit(Seq("a")), lit(-1))),
    "graft_rake_phrases" -> Call(Seq("s"), Seq(typedLit(Seq("the")), lit(4))),
    "graft_jaro_winkler" -> Call(Seq("s", "s")),
    "graft_phrase_counts" -> Call(Seq("s"), Seq(typedLit(Seq("ab")))),
    "graft_canonical_url" -> Call(Seq("s")),
    "graft_multienum_valid" -> Call(Seq("s"), Seq(typedLit(Seq("a")))),
    "graft_shingles" -> Call(Seq("s"), Seq(lit(2))),
    "graft_word_chunks" -> Call(Seq("s"), Seq(lit(2))),
    "graft_token_grams" -> Call(Seq("ints"), Seq(lit(2))),
    "graft_token_grams_seq" -> Call(Seq("ints"), Seq(lit(2))),
    "graft_minhash" -> Call(Seq("toks"), Seq(lit(8))),
    "graft_minhash_bands" -> Call(Seq("toks"), Seq(lit(8), lit(4))))

  private val kernels = Registry.all.filter(_.clazz == classOf[KernelExpression])

  test("kernel table: NULL in NULL out, type errors at analysis, call-named columns") {
    assert(kernels.map(_.name).toSet === calls.keySet)
    val typed = spark.range(1).select(lit("a b ab").as("s"), split(lit("a b"), " ").as("toks"),
      array(lit(1), lit(2), lit(3)).as("ints"), array(lit(1f), lit(2f)).as("vec"),
      lit(Array[Byte](0)).as("codes"), lit(7).as("i"))
    val nulls = typed.select(typed.schema.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    for (f <- kernels) {
      val c = calls(f.name)
      def call(df: DataFrame, data: Seq[String]): Column =
        Registry.call(f.name, data.map(df(_)) ++ c.consts: _*)

      assert(nulls.select(call(nulls, c.data)).head().isNullAt(0), s"${f.name}: NULL in")

      val e = intercept[AnalysisException](typed.select(call(typed, c.data.map(_ => "i"))))
      assert(e.getMessage.contains(s"${f.name} requires"), e.getMessage)

      val ok = typed.select(call(typed, c.data))
      ok.collect()
      val name = (c.data :+ c.shown).filter(_.nonEmpty).mkString(s"${f.name}(", ", ", ")")
      assert(ok.columns.toSeq === Seq(name))

      val twice = typed.select(call(typed, c.data).as("a"), call(typed, c.data).as("b"))
        .queryExecution.analyzed.expressions.collect { case a: Alias => a.child }
      assert(twice(0).semanticEquals(twice(1)), s"${f.name}: equal calls differ")
    }
  }

  test("kernel table: bad constants fail when the call is built") {
    def err(c: Column): String = {
      val e = intercept[Exception](spark.range(1).select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    val s = lit("a b")
    assert(err(TextExpressions.normalizeText(s, "NFX"))
      .contains("unknown normalization form 'NFX'"))
    assert(err(MatchExpressions.phraseCounts(s, Seq("a", ""))).contains("empty phrase"))
    assert(err(TextExpressions.winnow(s, 1, 4)).contains("need k >= 2"))
    for (window <- Seq(-1, 0))
      assert(err(TextExpressions.fingerprint(s, window)).contains("window must be >= 1"))
    val toks = split(s, " ")
    assert(err(Registry.call("graft_minhash", toks, lit(0))).contains("k must be >= 1"))
    for ((k, bands) <- Seq((8, 0), (8, 3), (0, 1)))
      assert(err(ShingleExpression.minhashBands(toks, k, bands))
        .contains("need k >= 1 and bands >= 1 dividing k"), (k, bands))
    assert(err(ShingleExpression.shingles(s, 0)).contains("n must be >= 1"))
    assert(err(Registry.call("graft_pq_adc", lit(Array[Byte](0)), typedLit(Seq(1.0)))).contains(
      "graft_pq_adc(codes, lut): argument 2 (lut) must be a array<array<double>> constant"))
  }

  /** Edge texts for the fingerprint kernels: empty, shorter than every
    * k and window, exactly k = 5 characters, a run of one character
    * (winnow ties), multibyte BMP text, and plain words. */
  private val edgeTexts =
    Seq("", "abc", "abcde", "aaaaaaaaaa", "café é 中文 中文字", "the quick brown fox jumps")

  /** Each fingerprint call's value on [[edgeTexts]], rendered by `show`. */
  private val fingerprintCalls = Seq(
    "graft_fingerprint(t, 5)", "graft_winnow(t, 5, 4)", "graft_winnow_md5(t, 5, 4)",
    "graft_cdc_boundaries(t, 4, 2, 37)", "graft_cdc_chunk_hashes(t, 4, 0, 37)",
    "graft_cdc_chunk_hashes(t, 4, 2, 37)", "graft_minhash(split(t, ' '), 4)",
    "graft_minhash_bands(split(t, ' '), 4, 2)")

  private def show(v: Any): String = v match {
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(show).mkString("(", ",", ")")
    case x => String.valueOf(x)
  }

  /** [[fingerprintCalls]] on [[edgeTexts]], one value per text in order,
    * captured before the kernels shared one gram stream, winnow rule,
    * MinHash signature and CDC cut rule. */
  private val golden: Seq[(String, Seq[String])] = Seq(
    "graft_fingerprint(t, 5)" -> Seq(
      "-7642500336903896055",
      "-7028621457359472937",
      "-921434904169591789",
      "-1921445904211591847",
      "1184619314975827412",
      "720931362463150946"),
    "graft_winnow(t, 5, 4)" -> Seq(
      "[-7642500336903896055]",
      "[-7028621457359472937]",
      "[-921434904169591789]",
      "[-1921445904211591847]",
      "[1184619314975827412,3889113522513747307]",
      "[-8110805445269069664,-7810948845750797694,720931362463150946,1428663296099272175," +
        "2332160423192585309,4447146320913754185,5567957359619758338,7540001989118545110," +
        "8310817827975685693]"),
    "graft_winnow_md5(t, 5, 4)" -> Seq(
      "[d41d8cd98f00b204]",
      "[900150983cd24fb0]",
      "[ab56b4d92b40713a]",
      "[594f803b380a4139]",
      "[0573c8f65d34aa6d,51f2c55917e8c302,5530da555712507c]",
      "[14087e63b57c7866,1df3746a4728276a,1e72aecf5b82b0f7,1f86fd5ea2856486," +
        "2fd7cd403dfc40bd,50b26a9882e6a2af,ab4351d0ba221d11,bc5d6af750f0afb5]"),
    "graft_cdc_boundaries(t, 4, 2, 37)" -> Seq(
      "[]",
      "[]",
      "[]",
      "[]",
      "[4,9,13]",
      "[7,12,17,20]"),
    "graft_cdc_chunk_hashes(t, 4, 0, 37)" -> Seq(
      "[]",
      "[(900150983cd24fb0d6963f7d28e17f72,3)]",
      "[(ab56b4d92b40713acc5af89985d4b786,5)]",
      "[(e09c80c42fda55f9d992e59ca6b3307d,10)]",
      "[(07117fe4a1ebd544965dc19573183da2,4),(6ea8fc62fe39754fcf734c26f72a4f5c,7)," +
        "(ca746b1ff10193a3ce20878dec04a733,2)]",
      "[(c7bb866d9973d42468156ecb5930e5fd,6),(7ba9904a1b9ec56dc4e8565ef59fdf72,3)," +
        "(5a597f95952ec710160587acf9cd393b,16)]"),
    "graft_cdc_chunk_hashes(t, 4, 2, 37)" -> Seq(
      "[]",
      "[(900150983cd24fb0d6963f7d28e17f72,3)]",
      "[(ab56b4d92b40713acc5af89985d4b786,5)]",
      "[(e09c80c42fda55f9d992e59ca6b3307d,10)]",
      "[(07117fe4a1ebd544965dc19573183da2,4),(0573c8f65d34aa6da9c18e374ce0d6bb,5)," +
        "(d8edf1c51eb8c1a9c7d5c5dcd04b3a79,4)]",
      "[(d12850c6b1748d3f8e86b7f0a80a7b58,7),(f3c7681b779eee5d7489c8119c0cab57,5)," +
        "(50b26a9882e6a2af5a5863274c0ee261,5),(c14061e6e72a34e74ecbc1fc3a82ad20,3)," +
        "(55947829059f255e4ba2f536a2ae99fe,5)]"),
    "graft_minhash(split(t, ' '), 4)" -> Seq(
      "[8001351456639229148,-1574611551345017769,233070110716181171,4676254877956418771]",
      "[-4232764186563085978,-1750165962155172867,2033976123734019321,-6378479150913924259]",
      "[-8477541227546419051,2417389960872780822,-5265100853860432126,-3980081177201309300]",
      "[-8244343847852966133,2726115757436957040,6286830783148593596,3587327507971005954]",
      "[-4366617117388844958,-6160183971313239449,-9065064888254841268,-8747731843969255222]",
      "[-4813583556570703487,-7962026520491777334,-6824488916524793746,-6738921007404122477]"),
    "graft_minhash_bands(split(t, ' '), 4, 2)" -> Seq(
      "[5959747257937198000,8816402127615517638]",
      "[6832180785895637888,-8412714567971584542]",
      "[4126628122619371850,5457061912613155738]",
      "[3766731269847143534,7055717557154681158]",
      "[7987318661050724226,2439019572121621182]",
      "[-6213007271728477318,1040391203829608027]"))

  test("fingerprint kernels: pinned values on edge texts") {
    import spark.implicits._
    assert(golden.map(_._1) === fingerprintCalls)
    val rows = edgeTexts.toDF("t").selectExpr(fingerprintCalls: _*).collect()
    for (((c, want), i) <- golden.zipWithIndex)
      assert(rows.map(r => show(r.get(i))).toSeq === want, c)
  }

  test("fingerprint kernels: band keys fold the signature, CDC boundaries end the chunks") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val chars = Seq("a", "b", " ", "c", "é", "中", "😀")
    val texts = edgeTexts ++ Seq.fill(40)(Seq.fill(rnd.nextInt(60))(chars(rnd.nextInt(chars.size))).mkString)
    val rows = texts.toDF("t").selectExpr("graft_minhash(split(t, ' '), 8)",
      "graft_minhash_bands(split(t, ' '), 8, 4)", "graft_cdc_boundaries(t, 4, 2, 37)",
      "graft_cdc_chunk_hashes(t, 4, 2, 37).chunk_len", "graft_cdc_boundaries(t, 3, 1, 6)",
      "graft_cdc_chunk_hashes(t, 3, 1, 6).chunk_len").collect()
    for (r <- rows) {
      val folded = r.getSeq[Long](0).grouped(2).zipWithIndex.map { case (g, b) =>
        g.foldLeft(0x9E3779B97F4A7C15L ^ b)((h, m) => (h ^ m) * 0xC2B2AE3D27D4EB4FL)
      }.toSeq
      assert(r.getSeq[Long](1) === folded)
      for (i <- Seq(2, 4)) {
        val ends = r.getSeq[Int](i + 1).scanLeft(0)(_ + _).tail
        assert(ends === (r.getSeq[Int](i) ++ ends.lastOption).distinct, r)
      }
    }
  }

  test("Kernel.words: the split(\\s+) tokenization it replaces, word for word") {
    val texts = Seq("", " ", "a", "  Hello\tWORLD \n x ", "İstanbul I ı", "a\u000Bb\u00A0c\u2003d",
      "\n\nlead and trail\r\n", "ß ﬁ Σσς", "x  y\t\tz")
    for (t <- texts)
      assert(graft.functions.Kernel.words(t).toSeq ===
        t.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty).toSeq, t)
  }
}
