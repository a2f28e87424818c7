package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — shift-robust document segmentation
  * for near-duplicate detection across INSERTIONS.
  *
  * Fixed token windows ([[Chunking.chunkTokens]],
  * [[LineDedup.dedupChunksAcrossDocs]]) realign on every boundary when a
  * prefix is inserted: prepend one sentence to a mirrored page and every
  * fixed chunk hash changes. CDC cuts where a rolling hash of the last
  * `window` characters satisfies a divisor predicate (the LBFS/rsync
  * trick, Muthitacharoen et al. SOSP 2001), so boundaries are a function
  * of LOCAL content only: an insertion perturbs at most the ~`window`
  * chars around itself and every later chunk re-synchronizes —
  * a shifted copy shares almost all chunk hashes with its source.
  * Reference analogue: none (engine extension; the reference validates
  * tabular metadata). In a crawl pipeline this is the dedup family that
  * catches boilerplate-prefixed mirrors and quoted-with-header reposts
  * that both exact hashing and fixed-window chunking miss.
  *
  * Two boundary modes, same contract (ascending cut positions in
  * (0, len], boundary at i ⇔ predicate over chars (i-window, i]):
  *  - [[boundariesMd5]]: md5 of each window, boundary where the first
  *    hex digit is '0' (expected chunk ≈ 16×window/… chars; exactly
  *    1/16 of positions). O(len × window) hashing — the ORACLE mode:
  *    md5 is bit-identical in DuckDB, so chunk hashes, overlap pairs,
  *    and planted-shift recall all get full SQL oracles (q_cdc_chunks,
  *    q_cdc_shift_recall), unlike the seed-dependent MinHash/SimHash
  *    families (rows-only there).
  *  - [[boundariesRolling]]: native [[graft.functions.CdcBoundaries]]
  *    expression, true O(len) Karp–Rabin rolling hash with a power-of-
  *    two mask — the SCALE mode (one pass per row, no per-position
  *    re-hash). Same downstream semantics; property-tested for the
  *    shift-robustness contract and differentially against the md5
  *    mode's chunk-count distribution.
  *
  * Scale shape: chunking is a stateless projection (zero exchanges —
  * PlanSpec pin); pair discovery shuffles only narrow
  * (chunk_hash, id) rows through the [[CappedBuckets]] hot-bucket cap;
  * full text never moves.
  */
object CdcChunking {

  /** Ascending boundary positions in (0, len] — md5 oracle mode.
    * Boundary at i (i ≥ window) ⇔ md5(substr(text, i-window+1, window))
    * starts with hex '0'. */
  def boundariesMd5(text: Column, window: Int): Column = {
    val n = length(text)
    filter(sequence(lit(window), n),
      i => substring(md5(text.substr(i - window + 1, lit(window))), 1, 1)
        === "0")
  }

  /** Ascending boundary positions in (0, len] — native rolling-hash
    * scale mode (one O(len) pass; maskBits sets expected chunk length
    * ≈ 2^maskBits chars). */
  def boundariesRolling(text: Column, window: Int, maskBits: Int,
                        seed: Long = 37L): Column =
    graft.functions.TextExpressions.cdcBoundaries(text, window, maskBits, seed)

  /** Chunk `textCol` with the native one-pass
    * [[graft.functions.CdcChunkHashes]] expression: boundaries AND
    * per-chunk md5/length in ONE eval per row. `maskBits == 0` is the
    * md5-boundary oracle mode, `maskBits > 0` the Karp–Rabin rolling
    * scale mode. Empty/null text yields zero chunks. Returns
    * (idCol, chunk_idx, chunk_hash, chunk_len) — chunk TEXT is
    * deliberately not returned (narrow output, payload stays in the
    * scan). One stateless projection: zero exchanges. */
  def chunks(df: DataFrame, idCol: String, textCol: String,
             window: Int, maskBits: Int, seed: Long = 37L): DataFrame = {
    val text = col(textCol)
    df.where(text.isNotNull && length(text) > 0)
      .select(col(idCol), posexplode(
          graft.functions.TextExpressions.cdcChunkHashes(
            text, window, maskBits, seed))
        .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.chunk_hash").as("chunk_hash"),
        col("__c.chunk_len").as("chunk_len"))
  }

  /** The interpreted boundary-lambda + `transform`-split spelling the
    * [[chunks]] native expression replaces — kept as the 1:1 SQL
    * mirror (it is literally the oracle CTE as Columns) for the
    * differential test that pins native == HOF. NOT a production path:
    * interpreted lambdas re-inline the cuts tree into every
    * `element_at` reference (no CSE), making the md5 mode
    * O(chunks × len × window) per row — measured 172 s vs sub-second
    * native on the sf0.1 corpus. Requires text length ≥ window (below
    * that, Spark's `sequence(window, len)` DESCENDS and the cut walk
    * is undefined — the native mode and the DuckDB oracle both treat
    * short texts as one chunk). */
  def chunksHof(df: DataFrame, idCol: String, textCol: String,
                boundaries: Column => Column): DataFrame = {
    val text = col(textCol)
    val cuts = array_distinct(concat(
      array(lit(0)), boundaries(text), array(length(text))))
    df.where(text.isNotNull && length(text) > 0)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(cuts) - 1), j =>
          text.substr(element_at(cuts, j) + 1,
            element_at(cuts, j + 1) - element_at(cuts, j))))
        .as(Seq("chunk_idx", "__chunk")))
      .select(col(idCol), col("chunk_idx"),
        md5(col("__chunk")).as("chunk_hash"),
        length(col("__chunk")).as("chunk_len"))
  }

  /** Near-duplicate candidate pairs by shared-chunk overlap:
    * (id_a, id_b, n_shared, overlap) where overlap = shared distinct
    * chunk hashes / min(|chunks_a|, |chunks_b|) — the containment-style
    * denominator, so a short doc fully embedded in a longer mirror
    * still scores 1.0.
    *
    * Distributed shape: distinct (chunk_hash, id) rows meet in a
    * [[CappedBuckets]] join (a hash above `maxBucket` yields no pairs
    * and is listed by [[hotChunks]]), then ONE count aggregate per
    * pair. Shuffles carry hashes and ids; text and chunk bodies never
    * move. */
  def overlapPairs(chunked: DataFrame, idCol: String,
                   minOverlap: Double, maxBucket: Int = 200): DataFrame = {
    val buckets = chunkBuckets(chunked, idCol, maxBucket)
    val sizes = buckets.members.groupBy(col("m.id").as("id"))
      .agg(count(lit(1)).as("__n"))
    val pairs = buckets.pairs
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("__na"), col("__nb")), 6).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** Chunk-hash buckets: a member (chunk_hash, m = (id)) per distinct (id, chunk_hash). */
  private def chunkBuckets(chunked: DataFrame, idCol: String, maxBucket: Int): CappedBuckets =
    CappedBuckets(
      chunked.select(col(idCol), col("chunk_hash")).distinct()
        .select(col("chunk_hash"), struct(col(idCol).as("id")).as("m")),
      Seq("chunk_hash"), maxBucket)

  /** (chunk_hash, n_docs), most shared first: the chunk hashes that
    * [[overlapPairs]]'s `maxBucket` cap dropped — boilerplate shared by
    * more documents than the cap admits. */
  def hotChunks(chunked: DataFrame, idCol: String,
                maxBucket: Int = 200): DataFrame =
    chunkBuckets(chunked, idCol, maxBucket).overflow
      .orderBy(desc("n_docs"), col("chunk_hash"))
}
