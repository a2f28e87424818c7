package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}

/** The one table of graft SQL functions: each entry holds a function's
  * SQL signature and how its expression is built from the call's
  * arguments, e.g. for plain SQL
  *
  *   SELECT graft_minhash_bands(graft_shingles(text, 3), 64, 8) FROM docs
  *
  * Most entries are [[Kernel]]s: the row builds the kernel from the
  * call's constants (`MinHashBandKeys(64, 8)`) and wraps it, with the
  * data arguments as children, in the one [[KernelExpression]]. The
  * rest (cosine, dot, Hilbert, Bloom and the aggregates) name their own
  * expression class.
  *
  * Everything that installs a graft function reads this table:
  *  - [[graft.GraftExtensions]] injects every entry ([[inject]]);
  *  - [[register]] adds, name by name, the entries a session lacks;
  *  - [[call]] is the bridge every Column helper goes through: it
  *    registers its one name on the ACTIVE session when missing, then
  *    returns `call_function(name, args*)`. A caller that plans against
  *    a session other than the active one calls `register(thatSession)`
  *    first.
  *
  * Every builder runs behind one argument check: a wrong argument count,
  * or a column where a constant is expected, fails with the function's
  * signature instead of an index error or an internal evaluation error.
  */
object Registry {

  /** A call's arguments as a builder sees them: `apply(i)` passes the
    * expression through; [[const]] and the typed readers accept only a
    * constant (foldable) argument. */
  final class Args private[Registry] (fn: Fn, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)

    /** The expression in a constant slot, which the expression itself
      * evaluates later. */
    def const(i: Int): Expression =
      if (es(i).foldable) es(i) else fail(i, "must be a constant")

    private def value(i: Int): Any = {
      val v = const(i).eval(InternalRow.empty)
      if (v == null) fail(i, "must not be NULL")
      v
    }
    def int(i: Int): Int = value(i).toString.toInt
    def long(i: Int): Long = value(i).toString.toLong
    def double(i: Int): Double = value(i).toString.toDouble
    def string(i: Int): String = value(i).toString
    def strings(i: Int): Seq[String] =
      value(i).asInstanceOf[ArrayData].toObjectArray(StringType).map(_.toString).toSeq
    /** A constant of type `t` (array nullability aside), as a literal. */
    def literal(i: Int, t: DataType): Literal = {
      val v = value(i)
      if (!Kernel.accepts(t, es(i).dataType)) fail(i, s"must be a ${t.simpleString} constant")
      Literal(v, es(i).dataType)
    }

    private def fail(i: Int, what: String): Nothing =
      throw new IllegalArgumentException(
        s"${fn.signature}: argument ${i + 1} (${fn.params(i)}) $what")
  }

  /** One table entry; `signature` is `name(param, ...)`. */
  final case class Fn(signature: String, clazz: Class[_], build: Args => Expression) {
    val name: String = signature.takeWhile(_ != '(')
    val params: Seq[String] =
      signature.substring(name.length + 1, signature.length - 1).split(", ").toSeq

    def info: ExpressionInfo = new ExpressionInfo(clazz.getName, name)

    def builder: Seq[Expression] => Expression = es => {
      if (es.length != params.length)
        throw new IllegalArgumentException(
          s"$signature: expects ${params.length} arguments, got ${es.length}")
      build(new Args(this, es))
    }
  }

  val all: Seq[Fn] = Seq(
    // vectors
    Fn("graft_cosine(a, b)", classOf[CosineSimilarity], a => CosineSimilarity(a(0), a(1))),
    Fn("graft_dot(a, b)", classOf[DotProduct], a => DotProduct(a(0), a(1))),
    kernel("graft_hyperplane_bucket(vec, dim, nBits, seed)")(
      a => HyperplaneBucket(a.int(1), a.int(2), a.int(3))()),
    kernel("graft_vec_stats(vec)")(_ => VecStats()()),
    kernel("graft_pq_encode(vec, codebooks)")(
      a => PqEncode(a.literal(1, ArrayType(ArrayType(ArrayType(FloatType)))))()),
    kernel("graft_pq_adc(codes, lut)")(
      a => PqAdcScore(a.literal(1, ArrayType(ArrayType(DoubleType))))),
    kernel("graft_diag_mahalanobis(vec, params)")(
      a => DiagMahalanobis(a.literal(1, ArrayType(ArrayType(DoubleType))))()),
    Fn("graft_vec_moments(vec, dim)", classOf[VecMomentsAgg], a => VecMomentsAgg(a(0), a.int(1))),
    Fn("graft_hilbert(x, y, bits)", classOf[HilbertIndex], a => HilbertIndex(a(0), a(1), a.int(2))),
    // text
    kernel("graft_simhash64(tokens)")(_ => SimHash64),
    kernel("graft_fingerprint(text, window)")(a => RollingFingerprint(a.int(1))),
    kernel("graft_winnow(text, k, w)")(a => WinnowedFingerprints(a.int(1), a.int(2))),
    kernel("graft_winnow_md5(text, k, w)")(a => WinnowedFingerprintsMd5(a.int(1), a.int(2))),
    kernel("graft_text_profile(text)")(_ => TextProfile),
    kernel("graft_normalize_text(text, form)")(a => NormalizeText(a.string(1))),
    kernel("graft_compression_ratio(text)")(_ => CompressionRatio),
    kernel("graft_char_entropy(text)")(_ => CharEntropy),
    kernel("graft_repetition_signals(text, topN, dupN)")(
      a => RepetitionSignals(a.int(1), a.int(2))),
    kernel("graft_bpe_apply(word, lefts, rights)")(a => BpeApply(a.strings(1), a.strings(2))),
    kernel("graft_cdc_boundaries(text, window, maskBits, seed)")(
      a => CdcBoundaries(a.int(1), a.int(2), a.long(3))),
    kernel("graft_cdc_chunk_hashes(text, window, maskBits, seed)")(
      a => CdcChunkHashes(a.int(1), a.int(2), a.long(3))),
    kernel("graft_word_ids(text, vocab, unkId)")(a => WordIds(a.strings(1), a.int(2))),
    kernel("graft_rake_phrases(text, stopwords, maxLen)")(a => RakePhrases(a.strings(1), a.int(2))),
    kernel("graft_jaro_winkler(a, b)")(_ => JaroWinkler),
    kernel("graft_phrase_counts(text, phrases)")(a => PhraseCounts(a.strings(1))),
    kernel("graft_canonical_url(url)")(_ => CanonicalUrl),
    kernel("graft_multienum_valid(cell, vocab)")(a => MultiEnumTokensValid(a.strings(1))),
    // shingles, grams and sketches
    kernel("graft_shingles(text, n)")(a => WordShingles(a.int(1))),
    kernel("graft_word_chunks(text, chunkWords)")(a => WordChunks(a.int(1))),
    kernel("graft_token_grams(tokens, n)")(a => TokenGramHashes(a.int(1))()),
    kernel("graft_token_grams_seq(tokens, n)")(a => TokenGramHashes(a.int(1), distinct = false)()),
    kernel("graft_minhash(tokens, k)")(a => MinHashSignature(a.int(1))),
    kernel("graft_minhash_bands(tokens, k, bands)")(a => MinHashBandKeys(a.int(1), a.int(2))),
    Fn("graft_bloom_agg(col, expectedItems, numBits)", classOf[BloomFilterAggregate],
      a => new BloomFilterAggregate(a(0), a.const(1), a.const(2))),
    Fn("graft_might_contain(bloom, value)", classOf[BloomFilterMightContain],
      a => BloomFilterMightContain(a(0), a(1))),
    // aggregates
    Fn("graft_histogram(col, lo, hi, nBins)", classOf[HistogramAgg],
      a => HistogramAgg(a(0), a.double(1), a.double(2), a.int(3))),
    Fn("graft_min_k(col, k)", classOf[CollectMinK], a => CollectMinK(a(0), a(0), a.int(1))),
    Fn("graft_min_k_by(key, value, k)", classOf[CollectMinK],
      a => CollectMinK(a(0), a(1), a.int(2))))

  /** A [[Kernel]] entry: `build` makes the kernel from the call's
    * constants, and its leading data arguments (one per
    * `kernel.inputTypes`) become the [[KernelExpression]]'s children. */
  private def kernel(signature: String)(build: Args => Kernel): Fn =
    Fn(signature, classOf[KernelExpression], a => {
      val k = build(a)
      KernelExpression(signature.takeWhile(_ != '('), k, k.inputTypes.indices.map(a(_)))
    })

  private val byName: Map[String, Fn] = all.map(f => f.name -> f).toMap

  /** `GraftExtensions.apply`: every entry, on every session the
    * extension builds. */
  def inject(e: SparkSessionExtensions): Unit =
    all.foreach(f => e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))

  /** Registers each entry `spark` does not already have (idempotent; no
    * "replaced function" warnings on repeat calls). */
  def register(spark: SparkSession): Unit = all.foreach(install(spark, _))

  private def install(spark: SparkSession, f: Fn): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(f.name)
    if (!reg.functionExists(id)) reg.registerFunction(id, f.info, f.builder)
  }

  /** `call_function(name, args*)`, after registering `name` on the active
    * session when it is missing (no-op when no session is active yet). */
  def call(name: String, args: Column*): Column = {
    val f = byName(name)
    try install(SparkSession.active, f) catch { case _: IllegalStateException => () }
    call_function(name, args: _*)
  }
}
