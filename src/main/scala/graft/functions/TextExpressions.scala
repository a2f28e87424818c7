package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text kernels: fingerprints, chunking, tokenization and quality
  * signals. Each is a [[Kernel]] — the function's per-row loop plus its
  * argument and result types — that [[Registry]] wraps in the one
  * [[KernelExpression]]; the kernel's constructor holds the call's
  * constants. Per-row compute-bound loops like these beat HOF chains
  * even interpreted, and they sit in a projection, not an aggregate, so
  * the scan around them still pipelines. The fingerprint kernels take
  * their character unit, gram hash, winnow and cut rules from
  * [[Fingerprint]], which states them.
  *
  * [[SimHash64]]: 64-bit SimHash over a token array (near-dup signature;
  * Hamming-close signatures ⇒ similar documents); token hashing reuses
  * Spark's XxHash64 kernel.
  */
case object SimHash64 extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Strings)
  def dataType: DataType = LongType

  override def eval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = XxHash64Function.hash(
          tokens.getUTF8String(t), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** One fingerprint per text: the least gram hash, unsigned, over grams
  * of `window` characters — the winnowing idea reduced to the single
  * global minimum. */
case class RollingFingerprint(window: Int) extends Kernel {
  require(window >= 1, "window must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = LongType

  override def eval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val bytes = text.getBytes
    val hs = Fingerprint.grams(bytes, Fingerprint.starts(bytes), window)
    if (hs.isEmpty) return Fingerprint.shortText(text)
    var min = hs(0)
    var i = 1
    while (i < hs.length) {
      if (java.lang.Long.compareUnsigned(hs(i), min) < 0) min = hs(i)
      i += 1
    }
    min
  }
}

/** The full winnowing fingerprint set over grams of `k` characters,
  * windows of `w` grams, as ascending signed longs. The md5 window
  * spelling in [[graft.operators.Winnowing]] is its SQL-replicable
  * oracle mode. */
case class WinnowedFingerprints(k: Int, w: Int) extends Kernel {
  require(k >= 2 && w >= 1, "need k >= 2, w >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def eval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val bytes = text.getBytes
    val hs = Fingerprint.grams(bytes, Fingerprint.starts(bytes), k)
    ArrayData.toArrayData(
      if (hs.isEmpty) Array(Fingerprint.shortText(text)) else Fingerprint.winnow(hs, w))
  }
}

/** The md5 oracle spelling of [[WinnowedFingerprints]] as one in-row
  * pass: a gram's hash is the md5 prefix of its bytes — the first 16
  * hex characters of md5(substr(text, i, k)), bit-identical to the
  * DataFrame/DuckDB window spelling in [[graft.operators.Winnowing]] —
  * and the survivors print as that hex, in unsigned order. The exploded
  * DataFrame spelling moves the whole (id, pos, hash) gram stream
  * through an exchange, a per-document sort window and a distinct; here
  * text stays out of every exchange and only the selected fingerprints
  * move. A text shorter than k yields its whole-text md5 prefix. */
case class WinnowedFingerprintsMd5(k: Int, w: Int) extends Kernel {
  require(k >= 2 && w >= 1, "need k >= 2, w >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val at = Fingerprint.starts(bytes)
    val m = at.length - k
    if (m < 1) {
      return ArrayData.toArrayData(
        Array[AnyRef](Fingerprint.hex16(Fingerprint.md5Prefix(bytes, 0, bytes.length))))
    }
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = Fingerprint.md5Prefix(bytes, at(i), at(i + k)); i += 1 }
    val fps = Fingerprint.winnow(hs, w)
    // unsigned order: the signed order with its negative head moved last
    var neg = 0
    while (neg < fps.length && fps(neg) < 0) neg += 1
    val out = new Array[AnyRef](fps.length)
    i = 0
    while (i < fps.length) { out(i) = Fingerprint.hex16(fps((i + neg) % fps.length)); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** The CDC cut positions of the text, ascending in (0, len], for
  * [[graft.operators.CdcChunking]]'s rolling mode: one O(len) pass. */
case class CdcBoundaries(window: Int, maskBits: Int, seed: Long) extends Kernel {
  require(window > 0, "window must be positive")
  require(maskBits > 0 && maskBits < 63, "maskBits must be in [1, 62]")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def eval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    ArrayData.toArrayData(
      Fingerprint.cuts(bytes, Fingerprint.starts(bytes), window, maskBits, seed))
  }
}

/** One-pass CDC chunker: the cuts AND each chunk's (md5 hex, length in
  * characters) in one eval. `maskBits == 0` selects the md5 oracle mode:
  * position i ends a chunk when the md5 of the `window` characters
  * ending there starts with hex '0', byte-identical to DuckDB's md5, so
  * the q_cdc oracles replay it. `maskBits > 0` selects the rolling mode,
  * [[CdcBoundaries]]' cuts. Chunk hashes are exactly Spark's `md5()` of
  * the chunk.
  *
  * Why one expression instead of boundaries + a `transform` split: the
  * interpreted-HOF spelling re-inlines the whole cuts tree into every
  * `element_at` reference of the split lambda (no CSE in interpreted
  * lambdas — the BENCH.md root cause), which made the md5 mode
  * O(chunks × len × window) PER ROW: measured 172 s for the sf0.1
  * 5k-doc corpus vs well under a second here. */
case class CdcChunkHashes(window: Int, maskBits: Int, seed: Long) extends Kernel {
  require(window > 0, "window must be positive")
  require(maskBits >= 0 && maskBits < 63,
    "maskBits must be 0 (md5 oracle mode) or in [1, 62] (rolling mode)")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_hash", StringType, nullable = false),
    StructField("chunk_len", IntegerType, nullable = false))),
    containsNull = false)

  override def eval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val at = Fingerprint.starts(bytes)
    val len = at.length - 1
    val cuts = if (maskBits > 0) Fingerprint.cuts(bytes, at, window, maskBits, seed) else {
      val md5Cuts = new Array[Int](math.max(len - window + 1, 0))
      var n = 0
      var i = window
      while (i <= len) {
        if (Fingerprint.md5Prefix(bytes, at(i - window), at(i)) >>> 60 == 0) { md5Cuts(n) = i; n += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(md5Cuts, n)
    }
    val ends = if (cuts.lastOption.getOrElse(0) == len) cuts else cuts :+ len
    val out = new Array[Any](ends.length)
    var from = 0
    var j = 0
    while (j < ends.length) {
      out(j) = InternalRow(Fingerprint.md5Hex(bytes, at(from), at(ends(j))), ends(j) - from)
      from = ends(j)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Apply trained BPE merges to ONE word: split to chars, then for each
  * merge in rank order run one leftmost-first non-overlapping merge-all
  * pass over the token list — the reference BPE apply step (Sennrich et
  * al. 2016), and the SCALE mode for [[graft.operators.TextAnalysis
  * .bpeTrain]]'s vocabulary: list-based merging has no delimiter-block
  * artifact, so arbitrary-length repeat runs resolve exactly (the
  * string-replace tier needs its stacked [[graft.operators.TextAnalysis
  * .BpePasses]] and still caps at 2^passes — the two modes agree
  * whenever runs stay under that cap, the differential PipelineOps
  * test). Merges ride the plan as broadcast-literal arrays: per-row
  * work is O(len × nMerges), no shuffle, no UDF. Returns the subword
  * token array. */
case class BpeApply(lefts: Seq[String], rights: Seq[String]) extends Kernel {
  require(lefts.length == rights.length,
    "lefts/rights must be parallel merge arrays")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: Any): Any = {
    val w = input.asInstanceOf[UTF8String].toString
    var toks = w.map(_.toString).toBuffer
    var m = 0
    while (m < lefts.length && toks.length > 1) {
      val (a, b) = (lefts(m), rights(m))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += a + b; i += 2
        } else { out += toks(i); i += 1 }
      }
      toks = out
      m += 1
    }
    ArrayData.toArrayData(toks.toArray.map(UTF8String.fromString))
  }
}

/** One-pass text profile for language ID + quality scoring: word stats,
  * per-character ratios, BPE-ish token count, stopword hits, and the
  * argmax language — everything the curation heuristics need, computed in
  * a SINGLE traversal of the string.
  *
  * Replaces the round-1 interpreted-HOF spelling (`aggregate(transform(
  * words, …))` per feature plus `array_intersect(array_distinct(ws), …)`
  * per language): interpreted lambdas get no common-subexpression
  * elimination, so the word-split subtree re-evaluated once per language
  * and once per feature — the same 100×+ blowup class documented on
  * [[WordShingles]]. Semantics are identical to the Column spelling it
  * replaces (see field-by-field notes in the eval body).
  */
case object TextProfile extends Kernel {
  /** Tiny per-language stopword profiles (the cheap first-pass heuristic;
    * ambiguous docs get re-scored by a heavier model downstream). */
  val StopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "dans", "que", "une"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "他", "这", "中", "大"))

  private[functions] val Langs: Array[String] =
    StopwordProfiles.keys.toArray.sorted
  private[functions] val StopArrays: Array[Array[String]] =
    Langs.map(l => StopwordProfiles(l).toArray)
  private[functions] val ZhChars: Array[String] = StopwordProfiles("zh").toArray
  private[functions] val EnStopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    StopwordProfiles("en").foreach(s.add)
    s
  }

  val Schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_bpeish", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("upper_ratio", DoubleType, nullable = false),
    StructField("digit_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("lang_score", IntegerType, nullable = false),
    // distinct whitespace-words: with n_words this gives the Gopher-style
    // repetition signal (1 - distinct/total) from the SAME single pass
    StructField("n_distinct_words", IntegerType, nullable = false)))

  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = Schema

  override def eval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val nCp = math.max(s.codePointCount(0, s.length), 1).toDouble

    // character classes in one pass (= regexp_replace count deltas:
    // [\p{Punct}] / [A-Z] / [0-9]), plus the BPE-ish token count
    // (= split on alnum/non-alnum boundaries, keep tokens matching ^\S:
    // maximal alnum runs + every non-alnum non-whitespace char)
    var punct = 0; var upper = 0; var digit = 0
    var bpe = 0; var prevAlnum = false
    var ci = 0
    while (ci < s.length) {
      val c = s.charAt(ci)
      val alnum = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) { if (!prevAlnum) bpe += 1 }
      else if (!(c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'))
        bpe += 1
      if (c >= '!' && c <= '~' && !alnum) punct += 1 // ASCII \p{Punct}
      if (c >= 'A' && c <= 'Z') upper += 1
      if (c >= '0' && c <= '9') digit += 1
      prevAlnum = alnum
      ci += 1
    }

    // words = filter(split(lower(trim(text)), "\s+"), _ != "")
    val words = Kernel.words(s)
    val nWords = words.length
    var sumLen = 0L
    var enHits = 0
    val distinct = new java.util.HashSet[String]()
    var wi = 0
    while (wi < nWords) {
      val w = words(wi)
      sumLen += w.codePointCount(0, w.length)
      if (EnStopSet.contains(w)) enHits += 1
      distinct.add(w)
      wi += 1
    }

    // language scores: |distinct words ∩ profile| per language; zh by
    // raw-text substring containment. argmax with (score, lang) struct
    // ordering: ties go to the lexicographically greatest language —
    // identical to array_max over struct(score, lang).
    var bestScore = Int.MinValue
    var bestLang = ""
    var li = 0
    while (li < Langs.length) {
      val lang = Langs(li)
      var score = 0
      if (lang == "zh") {
        var zi = 0
        while (zi < ZhChars.length) { if (s.contains(ZhChars(zi))) score += 1; zi += 1 }
      } else {
        val stops = StopArrays(li)
        var si = 0
        while (si < stops.length) { if (distinct.contains(stops(si))) score += 1; si += 1 }
      }
      if (score > bestScore || (score == bestScore && lang > bestLang)) {
        bestScore = score; bestLang = lang
      }
      li += 1
    }

    InternalRow(
      nWords,
      bpe,
      if (nWords > 0) sumLen.toDouble / nWords else 0.0,
      punct / nCp,
      upper / nCp,
      digit / nCp,
      if (nWords > 0) enHits.toDouble / nWords else 0.0,
      UTF8String.fromString(if (bestScore > 0) bestLang else "und"),
      math.max(bestScore, 0),
      distinct.size)
  }
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD via java.text.Normalizer) —
  * the canonical first step of text cleaning: visually identical strings
  * with different codepoint sequences (composed é vs e+combining acute)
  * hash differently, so dedup/fingerprinting MUST normalize first.
  * Spark ships no built-in for this; a native expression keeps it off
  * the UDF path. Validated cross-engine: DuckDB's nfc_normalize agrees
  * (both implement the Unicode standard forms). */
case class NormalizeText(form: String) extends Kernel {
  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form.toUpperCase(java.util.Locale.ROOT)),
    s"unknown normalization form '$form' (NFC/NFD/NFKC/NFKD)")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = StringType

  @transient private lazy val normForm =
    java.text.Normalizer.Form.valueOf(form.toUpperCase(java.util.Locale.ROOT))

  override def eval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, normForm)) input // common case: no copy
    else UTF8String.fromString(java.text.Normalizer.normalize(s, normForm))
  }
}

/** Deflate compression ratio (compressed/raw bytes, level 6) — the
  * Gopher/RefinedWeb-class gibberish-vs-boilerplate signal: highly
  * repetitive text compresses far below ~0.4, random bytes sit near 1.
  * Per-thread Deflater reuse (reset between rows) keeps the native
  * zlib context allocation off the per-row path. Not SQL-expressible —
  * covered by unit tests and a rows-only query. */
case object CompressionRatio extends Kernel {
  private val LocalDeflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6, /* nowrap = */ true)
  }
  private val LocalBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = DoubleType

  override def eval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) return 1.0
    val d = LocalDeflater.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = LocalBuf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }
}

/** Whitespace-word → vocabulary-id tokenizer: one pass over the string,
  * each lower-cased word looked up in a driver-built vocabulary (rank
  * order = id; see `TextAnalysis.buildVocab`), misses mapped to
  * `unkId`. The vocabulary rides the expression like
  * [[graft.functions.MultiEnumTokensValid]]'s value list — a transient
  * hash map per executor, no shuffle, no UDF, no join: the
  * explode-join-reassemble spelling shuffles O(total words) rows, this
  * projection shuffles nothing. Word semantics identical to
  * [[WordShingles]] (lowercase, trim, split \s+, drop empties); blank
  * text yields an empty array. The vocabulary is serialized into the
  * plan (once per task binary, like a broadcast var) — fine for
  * word-vocab sizes (50k words ≈ 0.5 MB); a multi-GB BPE merge table
  * would instead warrant an executor-side broadcast handle. */
case class WordIds(vocab: Seq[String], unkId: Int) extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    vocab.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
    m
  }

  override def eval(input: Any): Any = {
    val words = Kernel.words(input.asInstanceOf[UTF8String].toString)
    val out = new Array[Int](words.length)
    var i = 0
    while (i < words.length) {
      val id = ids.get(words(i))
      out(i) = if (id == null) unkId else id.intValue()
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Gopher-style character-level repetition signals (Rae et al. 2021,
  * arXiv:2112.11446, Table A1) in one pass per n over the word stream:
  *
  *  - `top_ngram_char_frac`: character mass covered by the MOST
  *    FREQUENT word `topN`-gram — count × gram character length
  *    (whitespace excluded) over the total word-character mass. Count
  *    ties resolve to the larger character coverage, so the VALUE is
  *    deterministic without a lexicographic tie-break.
  *  - `dup_ngram_char_frac`: the same mass summed over all `dupN`-grams
  *    occurring at least twice — the simple overlap-counting variant
  *    (occurrences may overlap, so the fraction can exceed 1; gating
  *    pipelines threshold it far below that). Both are exactly
  *    integer-ratio arithmetic, so the SQL oracle reproduces them
  *    bit-for-bit.
  *
  * Complements [[TextProfile]]'s word-level `repetition_ratio`: these
  * catch the stutter that distinct-word counting can't see (repeated
  * PHRASES over a diverse vocabulary). Native expression for the same
  * reason as [[WordShingles]] — a per-row HashMap loop has no HOF
  * spelling that isn't interpreted. */
case class RepetitionSignals(topN: Int, dupN: Int) extends Kernel {
  require(topN >= 1 && dupN >= 1, "n-gram sizes must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = RepetitionSignals.Schema

  override def eval(input: Any): Any = {
    val words = Kernel.words(input.asInstanceOf[UTF8String].toString)
    val n = words.length
    val lens = new Array[Long](n)
    var denom = 0L
    var i = 0
    while (i < n) {
      lens(i) = words(i).codePointCount(0, words(i).length).toLong
      denom += lens(i); i += 1
    }
    // (top-gram mass, duplicated-gram mass) for one n-gram size
    def masses(k: Int): (Long, Long) = {
      if (n < k || denom == 0L) return (0L, 0L)
      val counts = new java.util.HashMap[String, Array[Long]]()
      var a = 0
      while (a + k <= n) {
        val sb = new java.lang.StringBuilder
        var cl = 0L
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ') // words contain no whitespace
          sb.append(words(a + j)); cl += lens(a + j); j += 1
        }
        val e = counts.get(sb.toString)
        if (e == null) counts.put(sb.toString, Array(1L, cl)) else e(0) += 1
        a += 1
      }
      var maxCount = 0L; var topMass = 0L; var dupMass = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mass = e(0) * e(1)
        if (e(0) > maxCount) { maxCount = e(0); topMass = mass }
        else if (e(0) == maxCount && mass > topMass) topMass = mass
        if (e(0) >= 2L) dupMass += mass
      }
      (topMass, dupMass)
    }
    val (top, dupAtTopN) = masses(topN)
    val dup = if (dupN == topN) dupAtTopN else masses(dupN)._2
    if (denom == 0L) InternalRow(0.0, 0.0)
    else InternalRow(top.toDouble / denom, dup.toDouble / denom)
  }
}

object RepetitionSignals {
  val Schema: StructType = StructType(Seq(
    StructField("top_ngram_char_frac", DoubleType, nullable = false),
    StructField("dup_ngram_char_frac", DoubleType, nullable = false)))
}

/** Shannon entropy (bits) of the CODEPOINT distribution of a string —
  * the classic cheap gibberish/boilerplate signal orthogonal to the
  * word-level profile: key-mash and base64 blobs score HIGH (flat
  * char distribution), template spam and run-padding score LOW, and
  * natural language sits in a stable mid band (~3.5–4.5 bits for
  * English), so both tails are filterable. One HashMap pass per row,
  * zero shuffle, sits in the projection next to [[TextProfile]].
  *
  * Determinism: the per-count terms are summed in SORTED count order
  * (HashMap iteration order would vary run to run and make the last
  * ulp of the double nondeterministic — results feed hash-compared
  * oracle rows, so bit-stability matters). Computed as
  * log2(n) − Σ c·log2(c) / n, the count-weighted form a SQL
  * `entropy()` aggregate replays. Empty string → 0.0; null → null. */
case object CharEntropy extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = DoubleType

  override def eval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val e = counts.get(cp)
      if (e == null) counts.put(cp, Array(1L)) else e(0) += 1L
      n += 1L
      i += Character.charCount(cp)
    }
    val cs = new Array[Long](counts.size())
    val it = counts.values().iterator()
    var j = 0
    while (it.hasNext) { cs(j) = it.next()(0); j += 1 }
    java.util.Arrays.sort(cs)
    var acc = 0.0
    j = 0
    val ln2 = math.log(2.0)
    while (j < cs.length) {
      val c = cs(j).toDouble
      acc += c * (math.log(c) / ln2)
      j += 1
    }
    math.log(n.toDouble) / ln2 - acc / n.toDouble
  }
}

/** RAKE candidate phrases (Rose et al. 2010, "Automatic keyword
  * extraction from individual documents"): maximal runs of
  * non-stopword tokens between stopword/document boundaries
  * (whitespace tokenization + Locale.ROOT lowercase — the [[WordIds]]
  * convention), with runs LONGER than `maxLen` words discarded, not
  * truncated (the standard RAKE cap — an over-long run is a failed
  * delimiter split, not a keyphrase). Returns array<string> of phrase
  * instances in document order (duplicates preserved — the scorer
  * needs instance multiplicity for word freq/degree).
  *
  * Native expression for the [[WordIds]] reason: the declarative
  * spelling of this gaps-and-islands fold is a per-document window
  * over EXPLODED tokens — a token-granularity shuffle of the whole
  * corpus — when it is really one in-row loop. */
case class RakePhrases(stopwords: Seq[String], maxLen: Int) extends Kernel {
  require(maxLen >= 1, "maxLen must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val stops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopwords.size * 2)
    stopwords.foreach(w => s.add(w.toLowerCase(java.util.Locale.ROOT)))
    s
  }

  override def eval(input: Any): Any = {
    val words = Kernel.words(input.asInstanceOf[UTF8String].toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit = {
      if (cur.nonEmpty && cur.length <= maxLen)
        out += UTF8String.fromString(cur.mkString(" "))
      cur.clear()
    }
    var i = 0
    while (i < words.length) {
      if (stops.contains(words(i))) flush() else cur += words(i)
      i += 1
    }
    flush()
    ArrayData.toArrayData(out.toArray)
  }
}

object TextExpressions {
  import org.apache.spark.sql.functions.{array, lit}

  /** Registers every graft function on `spark` ([[Registry.register]]). */
  def register(spark: SparkSession): Unit = Registry.register(spark)

  def simhash64(tokens: Column): Column = Registry.call("graft_simhash64", tokens)
  def fingerprint(text: Column, window: Int): Column =
    Registry.call("graft_fingerprint", text, lit(window))
  def textProfile(text: Column): Column = Registry.call("graft_text_profile", text)
  def normalizeText(text: Column, form: String = "NFC"): Column =
    Registry.call("graft_normalize_text", text, lit(form))
  def compressionRatio(text: Column): Column =
    Registry.call("graft_compression_ratio", text)
  def charEntropy(text: Column): Column = Registry.call("graft_char_entropy", text)
  def repetitionSignals(text: Column, topN: Int, dupN: Int): Column =
    Registry.call("graft_repetition_signals", text, lit(topN), lit(dupN))
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    Registry.call("graft_bpe_apply", word,
      array(merges.map(m => lit(m._1)): _*),
      array(merges.map(m => lit(m._2)): _*))
  def cdcBoundaries(text: Column, window: Int, maskBits: Int,
                    seed: Long = 37L): Column =
    Registry.call("graft_cdc_boundaries", text, lit(window), lit(maskBits), lit(seed))
  def cdcChunkHashes(text: Column, window: Int, maskBits: Int,
                     seed: Long = 37L): Column =
    Registry.call("graft_cdc_chunk_hashes", text, lit(window), lit(maskBits), lit(seed))
  def winnow(text: Column, k: Int, w: Int): Column =
    Registry.call("graft_winnow", text, lit(k), lit(w))
  def winnowMd5(text: Column, k: Int, w: Int): Column =
    Registry.call("graft_winnow_md5", text, lit(k), lit(w))
  def wordIds(text: Column, vocab: Seq[String], unkId: Int = -1): Column =
    Registry.call("graft_word_ids", text, array(vocab.map(lit(_)): _*), lit(unkId))
  def rakePhrases(text: Column, stopwords: Seq[String],
                  maxLen: Int = 4): Column =
    Registry.call("graft_rake_phrases", text, array(stopwords.map(lit(_)): _*), lit(maxLen))
}
