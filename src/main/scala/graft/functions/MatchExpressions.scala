package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** String-matching kernels for the curation tier:
  *
  *  - [[PhraseCounts]] — Aho–Corasick multi-phrase scan: occurrence
  *    counts for EVERY phrase of a literal list in ONE pass over the
  *    text. A k-phrase blocklist (banned phrases, PII keywords,
  *    benchmark canaries) costs k regexp_count passes as built-ins —
  *    O(k·len) with k plan nodes — but one automaton walk is
  *    O(len + matches) regardless of k, which is the difference
  *    between feasible and not at k=10⁴ phrases × 100 TB of text.
  *    The automaton is built ONCE per expression instance (driver
  *    side, shipped with the plan) and the DFA walk does one array
  *    lookup per input byte.
  *
  *  - [[JaroWinkler]] — the record-linkage similarity for SHORT keys
  *    (names, titles, codes), boosting matches that agree on a prefix.
  *    Byte-level and congruent with DuckDB's independent
  *    `jaro_winkler_similarity` implementation (fuzz-verified
  *    bit-exact on 30k random pairs): match window
  *    ⌊max(|a|,|b|)/2⌋−1, transpositions = half the out-of-order
  *    matches, Winkler boost `j + ℓ·0.1·(1−j)` only when j > 0.7 with
  *    prefix ℓ capped at 4 bytes, empty side ⇒ 0.0. Complements
  *    [[org.apache.spark.sql.functions.levenshtein]] in
  *    [[graft.operators.EditDistance]]: Levenshtein counts edits,
  *    Jaro–Winkler rewards shared prefixes — the convention for
  *    person/entity names in the linkage literature.
  *
  * Both are per-row compute loops — [[Kernel]]s per the repo's
  * doctrine (no UDF, no HOF lambdas in hot paths); they sit in
  * projections so the scan pipelines.
  *
  * Reference scope: crn-meta-validate has exact enum membership only
  * (validate_table.py); engine extensions for web-corpus curation.
  */
case class PhraseCounts(phrases: Seq[String]) extends Kernel {
  require(phrases.nonEmpty, "graft_phrase_counts: phrase list is empty")
  require(phrases.forall(_.nonEmpty),
    "graft_phrase_counts: empty phrase matches everywhere — reject it loudly")

  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Aho–Corasick as a dense byte-DFA: goto resolved through fail links
  // at BUILD time, so the per-byte step is exactly one array read.
  // outputs(state) lists the phrase indices whose occurrence ENDS when
  // the walk reaches `state` (own word + every dictionary suffix) —
  // all matches are counted, including overlapping ones.
  @transient private lazy val automaton: (Array[Array[Int]], Array[Array[Int]]) = {
    val pats = phrases.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val maxNodes = pats.map(_.length).sum + 1
    val next = Array.fill(maxNodes)(Array.fill(256)(-1))
    val out = Array.fill(maxNodes)(List.empty[Int])
    var nNodes = 1
    pats.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { b =>
        val c = b & 0xff
        if (next(s)(c) == -1) { next(s)(c) = nNodes; nNodes += 1 }
        s = next(s)(c)
      }
      out(s) = pi :: out(s)
    }
    val fail = new Array[Int](nNodes)
    val queue = scala.collection.mutable.Queue.empty[Int]
    var c = 0
    while (c < 256) {
      if (next(0)(c) == -1) next(0)(c) = 0
      else { fail(next(0)(c)) = 0; queue.enqueue(next(0)(c)) }
      c += 1
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      out(s) = out(s) ++ out(fail(s)) // suffix outputs fold in once
      var c = 0
      while (c < 256) {
        val t = next(s)(c)
        if (t == -1) next(s)(c) = next(fail(s))(c)
        else { fail(t) = next(fail(s))(c); queue.enqueue(t) }
        c += 1
      }
    }
    (next.take(nNodes), out.take(nNodes).map(_.toArray))
  }

  override def eval(input: Any): Any = {
    val (delta, outputs) = automaton
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val counts = new Array[Long](phrases.length)
    var s = 0
    var i = 0
    while (i < bytes.length) {
      s = delta(s)(bytes(i) & 0xff)
      val hits = outputs(s)
      if (hits.length > 0) {
        var h = 0
        while (h < hits.length) { counts(hits(h)) += 1L; h += 1 }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}

/** Jaro–Winkler similarity over the UTF-8 BYTES of both sides —
  * deliberately byte-level because that is what DuckDB's independent
  * implementation computes, making the cross-engine oracle a true
  * differential of two implementations (same IEEE operation order:
  * (m/|a| + m/|b| + (m−t)/m)/3, then j + ℓ·0.1·(1−j)). */
case object JaroWinkler extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text, Kernel.Text)
  def dataType: DataType = DoubleType

  override def eval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    similarity(a, b)
  }

  /** Classic Jaro with the Winkler prefix boost; DuckDB-congruent
    * (empty ⇒ 0.0; identical ⇒ 1.0 — note ""=="" is 0.0, matching
    * DuckDB's empty rule, not the "equal strings" shortcut). */
  def similarity(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0
    val w = math.max(la, lb) / 2 - 1
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - w)
      val hi = math.min(lb - 1, i + w)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && a(i) == b(j)) {
          bm(j) = true; am(i) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a(i) != b(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val t = trans / 2
    val jaro =
      (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val cap = math.min(4, math.min(la, lb))
      while (l < cap && a(l) == b(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

object MatchExpressions {
  import org.apache.spark.sql.functions.{array, lit}

  def jaroWinkler(a: Column, b: Column): Column = Registry.call("graft_jaro_winkler", a, b)
  def phraseCounts(text: Column, phrases: Seq[String]): Column =
    Registry.call("graft_phrase_counts", text, array(phrases.map(lit(_)): _*))
}
