package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shingle, gram and sketch kernels: each is a [[Kernel]], its per-row
  * loop plus argument and result types, that [[Registry]] wraps in the
  * one [[KernelExpression]] with the call's constants in its constructor.
  *
  * [[WordShingles]]: word n-grams in ONE pass over the string (lowercase
  * → whitespace split → n-gram join). The HOF spelling
  * (`transform(sequence(0, size(ws)-n), i → concat_ws(' ', ws[i],
  * ws[i+1], ws[i+2]))`) re-evaluates the whole
  * `ws = filter(split(lower(trim(text))))` subtree at every element_at
  * site of every lambda element — interpreted HOFs have no common-
  * subexpression elimination, so shingling 5 000 docs cost ~100 s where
  * this kernel costs < 1 s. Semantics identical (incl. the
  * fewer-than-n-words fallback to one joined shingle).
  */
case class WordShingles(n: Int) extends Kernel {
  require(n >= 1, "n must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: Any): Any = {
    val words = Kernel.words(input.asInstanceOf[UTF8String].toString)
    val shingles: Array[UTF8String] =
      if (words.length < n) Array(UTF8String.fromString(words.mkString(" ")))
      else {
        val out = new Array[UTF8String](words.length - n + 1)
        var i = 0
        while (i + n <= words.length) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        out
      }
    ArrayData.toArrayData(shingles)
  }
}

/** Fixed-width word chunks in ONE native pass: lowercase → whitespace
  * split → join each group of `chunkWords` words (last chunk short),
  * the "paragraph" unit for chunk-level dedup. Same split semantics as
  * [[WordShingles]]/`Dedup.words`. The HOF spelling (`transform` over
  * a chunk-index sequence with `slice(ws, …)` inside the lambda)
  * re-evaluates the whole word-split subtree once per CHUNK per
  * reference — the no-CSE-in-interpreted-lambdas cost this file's
  * header documents. Empty/blank text ⇒ empty array. */
case class WordChunks(chunkWords: Int) extends Kernel {
  require(chunkWords >= 1, "chunkWords must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(input: Any): Any = {
    val words = Kernel.words(input.asInstanceOf[UTF8String].toString)
    if (words.isEmpty) return ArrayData.toArrayData(Array.empty[UTF8String])
    val nChunks = (words.length + chunkWords - 1) / chunkWords
    val out = new Array[UTF8String](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * chunkWords
      val end = math.min(start + chunkWords, words.length)
      val sb = new java.lang.StringBuilder(words(start))
      var j = start + 1
      while (j < end) { sb.append(' ').append(words(j)); j += 1 }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** k-value MinHash signature over a token/shingle array: one xxhash64
  * per token, then k affine rehashes h_j = a_j·h + b_j over 2^64 (the
  * 2-universal family, odd a_j drawn from `seed`, b_j from `seed + 1`),
  * each signature value the signed minimum over the tokens. The HOF
  * spelling `transform(sequence(0, k-1), j -> array_min(transform(
  * shingles, s -> xxhash64(s, j))))` hashes every shingle k times and
  * is an interpreted lambda that CollapseProject substitutes into every
  * consumer (band keys): measured 150 s for 5 000 docs, under 1 s here. */
case class MinHashSignature(k: Int, seed: Long = 42L) extends Kernel {
  require(k >= 1, "k must be >= 1")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Strings)
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val coefA: Array[Long] = {
    val rnd = new java.util.SplittableRandom(seed)
    Array.fill(k)(rnd.nextLong() | 1L)
  }
  @transient private lazy val coefB: Array[Long] = {
    val rnd = new java.util.SplittableRandom(seed + 1)
    Array.fill(k)(rnd.nextLong())
  }

  /** The signature of the token array `tokens`; null tokens are skipped. */
  def minima(tokens: ArrayData): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, seed)
        var j = 0
        while (j < k) {
          val hj = coefA(j) * h + coefB(j)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  override def eval(input: Any): Any = ArrayData.toArrayData(minima(input.asInstanceOf[ArrayData]))
}

/** MinHash-LSH band keys straight from the token array: the
  * [[MinHashSignature]] folded into `bands` keys of k / bands values
  * each, in one evaluation — nothing for CollapseProject to duplicate
  * downstream. Output: array of `bands` longs. */
case class MinHashBandKeys(k: Int, bands: Int, seed: Long = 42L) extends Kernel {
  require(k >= 1 && bands >= 1 && k % bands == 0, "need k >= 1 and bands >= 1 dividing k")
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Strings)
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val signature = MinHashSignature(k, seed)

  override def eval(input: Any): Any = {
    val mins = signature.minima(input.asInstanceOf[ArrayData])
    val r = k / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L ^ b
      var j = b * r
      while (j < (b + 1) * r) { h = (h ^ mins(j)) * 0xC2B2AE3D27D4EB4FL; j += 1 }
      keys(b) = h
      b += 1
    }
    ArrayData.toArrayData(keys)
  }
}

/** Distinct hashes of every n-token window of a token array, in ONE
  * native evaluation — the gram-extraction primitive for token-level
  * decontamination (benchmark-leak detection on the north-star
  * `tokens:array<int>` payload, no detokenization; the 13-gram overlap
  * check of GPT-3 appendix C / PaLM-style decontamination, here with
  * configurable n).
  *
  * Output is the SORTED DISTINCT window hashes: dedup happens per row
  * inside the expression so the downstream explode→join carries each
  * doc-gram once (shuffle/broadcast-probe volume = distinct grams, not
  * windows — repetitive docs collapse before leaving the row). Docs
  * shorter than n have no n-gram and return an empty array.
  *
  * The hash is an order-sensitive chain of splitmix64-finalized tokens
  * (h ← (h ⊕ fmix64(tok)) · C per element), so equal windows hash equal
  * and permuted windows don't. The oracle joins on gram CONTENT
  * (DuckDB list slices); hash-equality equals content-equality absent
  * 64-bit collisions (≈2.7e4 expected colliding PAIRS at 10^12 grams —
  * negligible false-contamination, and decontamination errs safe:
  * a collision flags a clean doc, never unflags a leaked one). */
case class TokenGramHashes(n: Int, distinct: Boolean = true)(tokens: DataType = NullType)
    extends Kernel {
  require(n >= 1, s"gram size must be >= 1, got $n")
  def inputTypes: Seq[Seq[DataType]] =
    Seq(Seq(ArrayType(IntegerType), ArrayType(LongType), ArrayType(StringType)))
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def fmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  // element accessor resolved ONCE from the child type: int32 is the
  // north-star tokens payload; int64 widens it; string covers word-level
  // decontamination (no tokenizer) — word identity via xxhash64 of the
  // UTF-8 bytes, so equal words hash equal across rows and frames
  override def bind(types: Seq[DataType]): Kernel = TokenGramHashes(n, distinct)(types.head)

  @transient private lazy val tokAt: (ArrayData, Int) => Long =
    tokens match {
      case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toLong
      case ArrayType(LongType, _)    => (a, i) => a.getLong(i)
      case ArrayType(StringType, _)  => (a, i) =>
        val s = a.getUTF8String(i)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  override def eval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val nWin = len - n + 1
    if (nWin <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val hs = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      var h = 0x9E3779B97F4A7C15L ^ n
      var j = 0
      while (j < n) {
        // null token elements hash as a reserved sentinel (tokens are
        // non-null by schema; defensive for hand-built test frames)
        val tok = if (arr.isNullAt(i + j)) Long.MinValue
                  else tokAt(arr, i + j)
        h = (h ^ fmix64(tok)) * 0xC2B2AE3D27D4EB4FL
        j += 1
      }
      hs(i) = h
      i += 1
    }
    // distinct=false keeps WINDOW ORDER (index i = window start) — the
    // positional mode span-scrubbing needs; distinct=true is the
    // set-semantics mode decontamination explodes
    if (!distinct) return ArrayData.toArrayData(hs)
    java.util.Arrays.sort(hs)
    var out = 1
    var k = 1
    while (k < nWin) {
      if (hs(k) != hs(k - 1)) { hs(out) = hs(k); out += 1 }
      k += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(hs, out))
  }
}

object ShingleExpression {
  def shingles(text: Column, n: Int): Column =
    Registry.call("graft_shingles", text, lit(n))
  def minhashBands(tokens: Column, k: Int, bands: Int): Column =
    Registry.call("graft_minhash_bands", tokens, lit(k), lit(bands))
  def tokenGrams(tokens: Column, n: Int): Column =
    Registry.call("graft_token_grams", tokens, lit(n))
  /** Window-ordered (non-distinct) gram hashes: index i = window start. */
  def tokenGramsSeq(tokens: Column, n: Int): Column =
    Registry.call("graft_token_grams_seq", tokens, lit(n))
  def wordChunks(text: Column, chunkWords: Int): Column =
    Registry.call("graft_word_chunks", text, lit(chunkWords))
}
