package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.round6

/** Edit-distance near-duplicate detection over SHORT keys (titles,
  * canonical URLs, product names, column headers) — the typo-tolerant
  * sibling of the hash families in [[Dedup]]: MinHash/SimHash see a
  * one-character typo as just another differing shingle, while
  * Levenshtein counts it as exactly one edit, which is the right
  * metric when the match target is a short identifying string rather
  * than a document body.
  *
  * Candidate generation is LENGTH-BANDED, never all-pairs: two strings
  * with |len(a) − len(b)| > maxDist cannot be within maxDist edits
  * (each edit changes the length by at most one), so rows are bucketed
  * by `length div bucketWidth` with `bucketWidth >= maxDist`, which
  * guarantees a qualifying pair's buckets differ by at most one. One
  * side fans out to {b−1, b, b+1}; the join condition pins the probe
  * bucket to the other side's OWN bucket, so every qualifying pair is
  * produced exactly once (exactly one fan element equals the other
  * side's bucket) — no `distinct()` of the joined payload.
  *
  * Scale shape: the banded equi-join plans as a hash join on the
  * bucket key; the verify step runs Spark's built-in `levenshtein`
  * with its THRESHOLD argument (band-limited O(maxDist·n) DP with
  * early exit, not the full O(n·m) table). Keys ride the join by
  * contract — this operator is for short strings (require-capped at
  * `maxKeyLen`); for document bodies use the fingerprint families,
  * which never move text. Bucket occupancy is observable via
  * [[bucketSizes]] (a skewed bucket means a degenerate key population
  * — "no silent caps": surface it, don't truncate it).
  *
  * Reference scope: the reference validates categorical/string cells
  * but has no fuzzy matching (crn-meta-validate validate_table.py —
  * exact enum membership only); engine extension for record linkage.
  */
object EditDistance {

  /** All pairs (id_a < id_b) whose keys are within `maxDist`
    * Levenshtein edits, with the distance. Null keys and keys longer
    * than `maxKeyLen` are excluded (documented contract: this is a
    * short-key operator — a 10k-char "key" signals a pipeline bug, and
    * silently running quadratic DP on it would bury the signal).
    */
  def neardupPairs(df: DataFrame, idCol: String, keyCol: String,
                   maxDist: Int, bucketWidth: Int = 8,
                   maxKeyLen: Int = 256): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(bucketWidth >= math.max(maxDist, 1),
      s"bucketWidth ($bucketWidth) must be >= maxDist ($maxDist): with a " +
      "narrower bucket a qualifying pair could straddle two non-adjacent " +
      "buckets and be missed")
    val narrow = df
      .where(col(keyCol).isNotNull && length(col(keyCol)) <= maxKeyLen)
      .select(col(idCol).as("__id"), col(keyCol).as("__key"),
        length(col(keyCol)).as("__len"),
        (length(col(keyCol)) / bucketWidth).cast("long").as("__bkt"))
    val fan = narrow.select(col("__id").as("id_a"), col("__key").as("__ka"),
        col("__len").as("__la"),
        explode(array(col("__bkt") - 1, col("__bkt"), col("__bkt") + 1))
          .as("__jb"))
    val probe = narrow.select(col("__id").as("id_b"), col("__key").as("__kb"),
      col("__len").as("__lb"), col("__bkt").as("__jb"))
    fan.join(probe, Seq("__jb"))
      .where(col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ka"), col("__kb"), maxDist).as("dist"))
      .where(col("dist") >= 0) // threshold form returns -1 above maxDist
  }

  /** Blocking-quality meta-evaluation — "measure, don't guess" for the
    * candidate generation itself: how many of the n(n−1)/2 possible
    * pairs did the length banding actually test (reduction ratio), and
    * did it find every true match (pair completeness — provably 1.0
    * for this banding, and this measures it rather than trusting the
    * proof)? The numbers that justify running banded candidates at
    * 100 TB where brute force is off the table. One row:
    * (n_items, n_pairs_total, n_candidates, reduction_ratio, n_true,
    * n_found, completeness). `n_true` brute-forces all pairs — this is
    * the AUDIT-SAMPLE operator (same quadratic contract as the oracle
    * that verifies it); run it on a sample, trust the banding on the
    * corpus. */
  def bandingStats(df: DataFrame, idCol: String, keyCol: String,
                   maxDist: Int, bucketWidth: Int = 8,
                   maxKeyLen: Int = 256): DataFrame = {
    val spark = df.sparkSession
    // one pinned narrow frame + ONE action: the four statistics were
    // four sequential count() jobs, each re-deriving `narrow`; as
    // crossJoined 1-row aggregates their towers run as parallel stages
    // of a single job over the checkpointed (id, key, len) rows
    val narrow = df
      .where(col(keyCol).isNotNull && length(col(keyCol)) <= maxKeyLen)
      .select(col(idCol).as("__id"), col(keyCol).as("__key"),
        length(col(keyCol)).as("__len"))
      .localCheckpoint()
    val banded = narrow
      .withColumn("__bkt", (col("__len") / bucketWidth).cast("long"))
    // candidates: the banded join's raw output (pre-verify)
    val nCandDf = banded.select(col("__id").as("ia"),
        col("__len").as("__la"),
        explode(array(col("__bkt") - 1, col("__bkt"), col("__bkt") + 1))
          .as("__jb"))
      .join(banded.select(col("__id").as("ib"), col("__len").as("__lb"),
        col("__bkt").as("__jb")), Seq("__jb"))
      .where(col("ia") < col("ib") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .agg(count(lit(1)).as("__ncand"))
    // ground truth: every pair, no banding (the quadratic audit side)
    val nTrueDf = narrow.as("a").join(narrow.as("b"),
        col("a.__id") < col("b.__id"))
      .where(levenshtein(col("a.__key"), col("b.__key"), maxDist) >= 0)
      .agg(count(lit(1)).as("__ntrue"))
    val nFoundDf = neardupPairs(df, idCol, keyCol, maxDist, bucketWidth,
      maxKeyLen).agg(count(lit(1)).as("__nfound"))
    val stats = narrow.agg(count(lit(1)).as("__n"))
      .crossJoin(nCandDf).crossJoin(nTrueDf).crossJoin(nFoundDf).head()
    val (n, nCand, nTrue, nFound) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2),
        stats.getLong(3))
    Packing.releaseOffsets(narrow)
    val total = n * (n - 1) / 2
    import spark.implicits._
    Seq((n, total, nCand,
        if (total > 0) round6(1.0 - nCand.toDouble / total)
        else 0.0,
        nTrue, nFound,
        if (nTrue > 0) round6(nFound.toDouble / nTrue)
        else 1.0))
      .toDF("n_items", "n_pairs_total", "n_candidates", "reduction_ratio",
        "n_true", "n_found", "completeness")
  }

  /** Length-bucket occupancy — the skew observability companion: a
    * bucket of size s contributes O(s²) candidate pairs, so a hot
    * bucket (one dominant key length) is THE scale hazard here; check
    * it before running [[neardupPairs]] on an unknown population. */
  def bucketSizes(df: DataFrame, keyCol: String,
                  bucketWidth: Int = 8): DataFrame =
    df.where(col(keyCol).isNotNull)
      .groupBy((length(col(keyCol)) / bucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("bucket"))
}
