package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions

/** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
  * SIGMOD'03 — the MOSS scheme): hash every k-gram, slide a w-hash
  * window, keep the RIGHTMOST MINIMUM of each window. The selected
  * set is a position-robust local fingerprint with a hard guarantee
  * the LSH families lack: any match of length ≥ w + k − 1 characters
  * shares at least one fingerprint — deterministic recall for
  * mirror/boilerplate/plagiarism detection, at a density of about
  * 2/(w+1) of all grams. Reference analogue: none (engine extension);
  * complements [[Dedup]]'s MinHash/SimHash (probabilistic) and
  * [[CdcChunking]] (coarser, chunk-level) tiers.
  *
  * Two modes, the [[CdcChunking]] convention:
  *
  *  - [[fingerprintsMd5]] — md5-prefix gram hashes and the window
  *    minimum spelled with in-row HOFs. md5 is bit-identical in
  *    DuckDB, so the full fingerprint SET is SQL-oracle-able
  *    (q_winnow / q_winnow_pairs replay it, window-min-of-struct
  *    spelling). O(len × w) per doc — the oracle tier.
  *  - [[fingerprints]] — the native [[graft.functions.WinnowedFingerprints]]
  *    Karp–Rabin expression: O(len) monotonic deque, the scale path
  *    (differentially pinned against a brute-force reference and the
  *    shift-recall guarantee in WinnowingSpec).
  *
  * Both are pure projections — fingerprinting shuffles NOTHING; only
  * the (id, fp) pairs a caller explodes for the overlap join move,
  * never the text. */
object Winnowing {

  /** Exploded fingerprint rows `(idCol, fp)` — md5 oracle mode: grams
    * are `substr(md5(substr(text, i, k)), 1, 16)` (64 bits of md5 as
    * hex), the selected hash of the window ending at gram p is
    * min-by-(hash asc, pos desc) — rightmost tie, the paper's rule —
    * spelled as a window `min(struct(hash, -pos))`, the IDENTICAL
    * shape the DuckDB oracle runs. This mode deliberately explodes the
    * gram stream and shuffles (id, pos, hash) for the window: an
    * in-row HOF fold cannot hold the gram array — a lambda can't CSE
    * an outer expression, so Catalyst inlines and re-hashes the whole
    * array per fold step, O(len²·w) md5s (measured: ~1.3 s/doc).
    * [[fingerprints]] is the O(len) zero-shuffle scale path.
    * Documents shorter than k get the whole-text md5 prefix as a
    * singleton; for k ≤ len < k+w−1 the single full-prefix window
    * applies. NULL texts are dropped (documented). */
  def fingerprintsMd5(df: DataFrame, idCol: String, textCol: String,
                      k: Int, w: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        explode(TextExpressions.winnowMd5(col(textCol), k, w)).as("fp"))

  /** The exploded window spelling of [[fingerprintsMd5]] — the shape
    * the DuckDB oracle runs, kept as the differential companion
    * (WinnowingSpec pins set equality): posexplode the gram stream,
    * per-doc sort window for the rightmost minimum, distinct. This
    * moves ~len rows per document through an exchange for a selection
    * that is a pure per-row function — [[fingerprintsMd5]]'s native
    * deque emits the identical fingerprint set with text never
    * entering an exchange. */
  def fingerprintsMd5Windowed(df: DataFrame, idCol: String, textCol: String,
                              k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val text = col(textCol)
    val m = length(text) - k + 1
    val base = df.where(text.isNotNull)
      .select(col(idCol), text.as("__t"), m.as("__m"))
    val short = base.where(col("__m") < 1)
      .select(col(idCol), substring(md5(col("__t")), 1, 16).as("fp"))
    val grams = base.where(col("__m") >= 1)
      .select(col(idCol), col("__m"),
        posexplode(transform(sequence(lit(1), col("__m")),
          i => substring(md5(col("__t").substr(i, lit(k))), 1, 16))))
      .select(col(idCol), col("__m"), (col("pos") + 1).as("__p"),
        col("col").as("__h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("__s",
        min(struct(col("__h").as("h"), (-col("__p")).as("np"))).over(win))
      .where(col("__p") >= least(lit(w), col("__m")))
      .select(col(idCol), col("__s").getField("h").as("fp"))
      .distinct()
      .union(short)
  }

  /** Exploded fingerprint rows `(idCol, fp)` — native Karp–Rabin scale
    * mode (64-bit long fingerprints). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int, w: Int): DataFrame =
    df.select(col(idCol),
      explode(TextExpressions.winnow(col(textCol), k, w)).as("fp"))

  /** (a, b, n_shared): shared-fingerprint counts for candidate pairs,
    * a < b. The (fp, id) rows meet in a [[CappedBuckets]] join (a
    * fingerprint above `maxBucket` yields no pairs and is listed by
    * [[overflowFingerprints]]); each (id, fp) row counts, so a pair
    * whose docs repeat a fingerprint counts it once per row pair.
    * Exchanges carry only (fp, id) tuples; with winnowing density
    * ~2/(w+1) the index is a small fraction of the gram stream. */
  def sharedPairs(fps: DataFrame, idCol: String, fpCol: String = "fp",
                  maxBucket: Int = 1000): DataFrame =
    CappedBuckets(fps.select(col(fpCol), struct(col(idCol).as("id")).as("m")),
        Seq(fpCol), maxBucket).pairs
      .groupBy(col("a.id").as("a"), col("b.id").as("b"))
      .agg(count(lit(1)).as("n_shared"))

  /** (fp, n_docs): the fingerprints that [[sharedPairs]]'s `maxBucket`
    * cap dropped. */
  def overflowFingerprints(fps: DataFrame, fpCol: String = "fp",
                           maxBucket: Int = 1000): DataFrame =
    CappedBuckets(fps, Seq(fpCol), maxBucket).overflow
}
