package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.functions._

import graft.functions.{KernelExpression, MatchExpressions, Registry, TextExpressions}

/** One table-driven pass over every [[KernelExpression]] entry of
  * [[Registry.all]]: NULL in gives NULL out, a wrong input type fails at
  * analysis naming the function, the auto-generated column name is the
  * call, and two equal calls are one expression to Catalyst. A bad
  * constant fails when the call is built. */
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
    assert(err(Registry.call("graft_pq_adc", lit(Array[Byte](0)), typedLit(Seq(1.0)))).contains(
      "graft_pq_adc(codes, lut): argument 2 (lut) must be a array<array<double>> constant"))
  }

  test("Kernel.words: the split(\\s+) tokenization it replaces, word for word") {
    val texts = Seq("", " ", "a", "  Hello\tWORLD \n x ", "İstanbul I ı", "a\u000Bb\u00A0c\u2003d",
      "\n\nlead and trail\r\n", "ß ﬁ Σσς", "x  y\t\tz")
    for (t <- texts)
      assert(graft.functions.Kernel.words(t).toSeq ===
        t.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty).toSeq, t)
  }
}
